package perfbench

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import org.apache.spark.sql.Row
import org.apache.spark.sql.types.StructType

/** Order-independent result digest: row count plus the wrapping sum of a
  * 64-bit hash of each row's canonical text. Columns are taken in name
  * order (as the oracle compare does), so neither row order nor column
  * order changes the digest; any changed value, lost or extra row does.
  * Computed on the driver from rows already returned, so it costs the
  * timed operation nothing. */
object Digest {
  def of(schema: StructType, rows: Array[Row]): String = {
    val order = schema.fieldNames.zipWithIndex.sortBy(_._1).map(_._2)
    val md = MessageDigest.getInstance("SHA-256")
    var sum = 0L
    rows.foreach { r =>
      val text = order.map(i => canon(r.get(i))).mkString("|")
      val h = md.digest(text.getBytes(StandardCharsets.UTF_8))
      sum += java.nio.ByteBuffer.wrap(h, 0, 8).getLong
    }
    f"${rows.length}:$sum%016x"
  }

  def canon(v: Any): String = v match {
    case null => "NULL"
    case d: Double => if (d.isNaN) "NaN" else java.lang.Double.toString(d)
    case f: Float => if (f.isNaN) "NaN" else java.lang.Float.toString(f)
    case b: java.math.BigDecimal => b.stripTrailingZeros.toPlainString
    case b: BigDecimal => b.bigDecimal.stripTrailingZeros.toPlainString
    case b: Array[Byte] => b.map(x => f"$x%02x").mkString
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) -> canon(x) }.sortBy(_._1)
        .map { case (k, x) => s"$k:$x" }.mkString("{", ",", "}")
    case r: Row =>
      val names = Option(r.schema).map(_.fieldNames.toSeq)
        .getOrElse(r.toSeq.indices.map(_.toString))
      names.zipWithIndex.sortBy(_._1).map(x => canon(r.get(x._2)))
        .mkString("(", ",", ")")
    case x => x.toString
  }
}
