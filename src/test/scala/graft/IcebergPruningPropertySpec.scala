package graft

import java.time.{LocalDate, LocalDateTime, ZoneOffset}
import java.time.temporal.ChronoUnit

import org.apache.spark.sql.types._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.IcebergTransforms
import graft.materialize.IcebergTable

/** Soundness of the one interval test every pruning tier calls
  * ([[IcebergTable.transformRangeKeeps]]): a file (or manifest) whose
  * transform values span `[lo, hi]` and which holds a row satisfying
  * the predicate must be kept. The oracle shares no code with the
  * reader: transform values come from [[IcebergTransforms]] (bucket),
  * `java.time` units (year / month / day / hour) and `floorMod`
  * (truncate); orderings are Spark's (numbers, dates, timestamps by
  * value; strings by code point, which is UTF-8 byte order). Every
  * case is drawn with a fixed per-index seed, so a failure reproduces. */
class IcebergPruningPropertySpec extends AnyFunSuite {
  import IcebergPruningPropertySpec._

  private val TsFormat =
    java.time.format.DateTimeFormatter.ofPattern("uuuu-MM-dd HH:mm:ss.SSSSSS")

  private def render(v: V): String = v match {
    case Num(n) => n.toString
    case Str(s) => s
    case Day(d) => d.toString
    case Ts(t) => t.format(TsFormat)
  }

  private def codePoints(s: String): Seq[Int] = s.codePoints().toArray.toSeq

  private def cmp(a: V, b: V): Int = (a, b) match {
    case (Num(x), Num(y)) => java.lang.Long.compare(x, y)
    case (Str(x), Str(y)) =>
      val (cx, cy) = (codePoints(x), codePoints(y))
      cx.zip(cy).collectFirst { case (p, q) if p != q => Integer.compare(p, q) }
        .getOrElse(Integer.compare(cx.size, cy.size))
    case (Day(x), Day(y)) => x.compareTo(y)
    case (Ts(x), Ts(y)) => x.compareTo(y)
    case _ => sys.error(s"mixed types $a, $b")
  }

  private def satisfies(v: V, op: String, lit: V): Boolean = {
    val c = cmp(v, lit)
    op match {
      case "=" => c == 0
      case "!=" => c != 0
      case "<" => c < 0
      case "<=" => c <= 0
      case ">" => c > 0
      case ">=" => c >= 0
    }
  }

  private val Epoch = LocalDate.of(1970, 1, 1)

  private def micros(t: LocalDateTime): Long =
    Math.addExact(Math.multiplyExact(t.toEpochSecond(ZoneOffset.UTC),
      1000000L), (t.getNano / 1000).toLong)

  /** The transform value of one source value, in its ordering domain;
    * None where the spec's transform is not representable (a long
    * truncated below `Long.MinValue`, which no writer can store). */
  private def transformOf(tr: String, v: V): Option[V] = {
    val bucketN = "bucket\\[(\\d+)\\]".r
    val truncW = "truncate\\[(\\d+)\\]".r
    def date(x: V): LocalDate = x match {
      case Day(d) => d
      case Ts(t) => t.toLocalDate
      case other => sys.error(s"not temporal: $other")
    }
    (tr, v) match {
      case ("identity", _) => Some(v)
      case (bucketN(n), Num(x)) =>
        Some(Num(IcebergTransforms.bucketLong(x, n.toInt)))
      case (bucketN(n), Str(s)) =>
        Some(Num(IcebergTransforms.bucketStringJvm(s, n.toInt)))
      case (bucketN(n), Day(d)) => Some(Num(IcebergTransforms.bucketLong(
        ChronoUnit.DAYS.between(Epoch, d), n.toInt)))
      case (bucketN(n), Ts(t)) =>
        Some(Num(IcebergTransforms.bucketLong(micros(t), n.toInt)))
      case (truncW(w), Num(x)) =>
        val g = BigInt(x) - BigInt(Math.floorMod(x, w.toLong))
        if (g.isValidLong) Some(Num(g.toLong)) else None
      case (truncW(w), Str(s)) =>
        val kept = codePoints(s).take(w.toInt).toArray
        Some(Str(new String(kept, 0, kept.length)))
      case ("year", _) => Some(Num(ChronoUnit.YEARS.between(
        Epoch, date(v).withDayOfYear(1))))
      case ("month", _) => Some(Num(ChronoUnit.MONTHS.between(
        Epoch, date(v).withDayOfMonth(1))))
      case ("day", _) => Some(Num(ChronoUnit.DAYS.between(Epoch, date(v))))
      case ("hour", Ts(t)) => Some(Num(ChronoUnit.HOURS.between(
        Epoch.atStartOfDay(), t.truncatedTo(ChronoUnit.HOURS))))
      case _ => sys.error(s"no transform $tr over $v")
    }
  }

  // ---- generators ----------------------------------------------------

  private val ints: Gen[V] = Gen.frequency(
    6 -> Gen.choose(-60L, 60L),
    1 -> Gen.oneOf(Int.MinValue.toLong, Int.MaxValue.toLong,
      Int.MinValue + 1L, Int.MaxValue - 1L)).map(Num(_))
  private val longs: Gen[V] = Gen.frequency(
    6 -> Gen.choose(-60L, 60L),
    1 -> Gen.oneOf(Long.MinValue, Long.MaxValue, Long.MinValue + 7L,
      Long.MaxValue - 1L, Long.MaxValue - 5L),
    1 -> Gen.choose(Long.MinValue, Long.MaxValue)).map(Num(_))
  // ASCII next to two-byte, three-byte (above the UTF-16 surrogate
  // range, so UTF-16 and code-point orders disagree) and astral chars
  private val strs: Gen[V] = Gen.choose(0, 5).flatMap(n => Gen.listOfN(n,
    Gen.oneOf("a", "b", "m", "z", "A", "0", "é", "Ａ", "�", "𝄞", "😀"))
    .map(cs => Str(cs.mkString)))
  private val dates: Gen[V] = Gen.frequency(
    4 -> Gen.choose(-800L, 800L),
    1 -> Gen.choose(-719162L, 2932896L)) // 0001-01-01 .. 9999-12-31
    .map(d => Day(Epoch.plusDays(d)))
  private val timestamps: Gen[V] = Gen.frequency(
    4 -> Gen.choose(-3L * 86400000000L, 3L * 86400000000L),
    1 -> Gen.choose(-62135596800000000L, 253402300799999999L))
    .map { us =>
      Ts(LocalDateTime.ofEpochSecond(Math.floorDiv(us, 1000000L),
        (Math.floorMod(us, 1000000L) * 1000L).toInt, ZoneOffset.UTC))
    }

  private val typed: Seq[(DataType, Gen[V])] = Seq(
    IntegerType -> ints, LongType -> longs, StringType -> strs,
    DateType -> dates, TimestampType -> timestamps)

  private def transformsOf(dt: DataType): Gen[String] = {
    val bucket = Gen.choose(1, 16).map(n => s"bucket[$n]")
    val trunc = Gen.choose(1, 12).map(w => s"truncate[$w]")
    dt match {
      case IntegerType | LongType | StringType =>
        Gen.oneOf(Gen.const("identity"), bucket, trunc)
      case DateType =>
        Gen.oneOf(Gen.const("identity"), bucket,
          Gen.oneOf("year", "month", "day"))
      case _ =>
        Gen.oneOf(Gen.const("identity"), bucket,
          Gen.oneOf("year", "month", "day", "hour"))
    }
  }

  // one value in 2 of 5 cases: the point interval a partition tuple is
  private val cases: Gen[Case] = for {
    (dt, values) <- Gen.oneOf(typed)
    tr <- transformsOf(dt)
    vs <- Gen.frequency(2 -> Gen.const(1), 3 -> Gen.choose(2, 6))
      .flatMap(Gen.listOfN(_, values))
    op <- Gen.oneOf("=", "!=", "<", "<=", ">", ">=")
    lit <- Gen.frequency(1 -> Gen.oneOf(vs), 1 -> values)
  } yield Case(tr, dt, vs, op, lit)

  private val N = 20000

  test(s"property: the range test keeps every interval holding a match " +
    s"($N generated cases)") {
    val unsound = (1 to N).iterator.map(i =>
        cases.pureApply(Gen.Parameters.default, Seed(i.toLong)))
      .flatMap { c =>
        val tvs = c.values.map(transformOf(c.transform, _))
        if (tvs.exists(_.isEmpty) ||
            !c.values.exists(satisfies(_, c.op, c.literal))) None
        else {
          val sorted = tvs.flatten.sortWith(cmp(_, _) < 0)
          val (lo, hi) = (render(sorted.head), render(sorted.last))
          val keeps = IcebergTable.transformRangeKeeps(c.transform, c.dt,
            Some(lo), Some(hi),
            IcebergTable.ScanPred("c", c.op, render(c.literal)))
          if (keeps) None else Some(s"$c over [$lo, $hi]")
        }
      }.take(5).toList
    assert(unsound.isEmpty, unsound.mkString("unsound prunes:\n", "\n", ""))
  }
}

object IcebergPruningPropertySpec {
  /** A typed source value; `Str` orders by code point. */
  sealed trait V
  final case class Num(v: Long) extends V
  final case class Str(v: String) extends V
  final case class Day(v: LocalDate) extends V
  final case class Ts(v: LocalDateTime) extends V

  final case class Case(transform: String, dt: DataType,
      values: Seq[V], op: String, literal: V)
}
