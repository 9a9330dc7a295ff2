package perfbench

import java.io.File

import scala.collection.immutable.TreeMap

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

/** Ties the stored reference digests to the DuckDB oracle.
  *
  * `CheckRefs names` prints the inventory queries the workloads run, comma
  * separated. `CheckRefs <verify-out-dir> <digests.json>` digests the
  * result `graft.Verify` wrote for each of them (results `tools/check.py`
  * has just compared with the oracle), compares each digest with the
  * stored one, and stores the digests that are missing. Exits 1 on a
  * mismatch or a missing result, and then writes nothing. */
object CheckRefs {
  def main(args: Array[String]): Unit = args match {
    case Array("names") => println(Main.referenceNames.mkString(","))
    case Array(outDir, refsPath) => check(outDir, new File(refsPath))
    case _ => sys.error("usage: CheckRefs names | <verify-out-dir> <digests.json>")
  }

  def check(outDir: String, refsFile: File): Unit = {
    val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
    val stored =
      if (refsFile.exists) mapper.readValue(refsFile, classOf[Map[String, String]])
      else Map.empty[String, String]
    val spark = SparkSession.builder().master("local[2]")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val got = (stored.keySet ++ Main.referenceNames).toSeq.sorted.map { name =>
      val dir = new File(outDir, name)
      name -> (if (dir.isDirectory) {
        val df = spark.read.parquet(dir.getPath)
        Some(Digest.of(df.schema, df.collect()))
      } else None)
    }
    spark.stop()
    val bad = got.filter { case (name, d) =>
      val status = (stored.get(name), d) match {
        case (_, None) => "MISSING"
        case (Some(want), Some(x)) if want == x => "OK"
        case (Some(_), Some(_)) => "DIFF"
        case (None, Some(_)) => "NEW"
      }
      println(f"$status%-7s $name%-28s ${d.getOrElse("")}")
      status == "MISSING" || status == "DIFF"
    }
    println(s"${got.size - bad.size}/${got.size} reference digests match or are new")
    if (bad.nonEmpty) sys.exit(1)
    val added = got.collect { case (n, Some(d)) if !stored.contains(n) => n -> d }
    if (added.nonEmpty) {
      mapper.writerWithDefaultPrettyPrinter()
        .writeValue(refsFile, TreeMap((stored ++ added).toSeq: _*))
      println(s"stored ${added.size} new reference digests in $refsFile")
    }
  }
}
