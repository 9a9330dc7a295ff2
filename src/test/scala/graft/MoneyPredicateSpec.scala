package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** House rule (SURVEY §8, round 8): any predicate that SELECTS ROWS on a
  * 2-dp money quantity must compare exact integer cents
  * (`floor(x·100 + 0.5)`) on BOTH the Spark side and the oracle side —
  * never the raw double — so no value in a half-cent gap (e.g. a
  * derived balance in (0, 0.005)) can split the engines. The round-7
  * q22 fix (TpchQueries.scala `q_tpch_q22`) is the canonical instance;
  * the round-8 sweep verified every other derived-money row filter
  * (q11 value-fraction, q15 max-equality, q17 0.2·avg, q18 qty-having,
  * q20 qty threshold) already compares scaled DECIMAL/BIGINT, and that
  * every raw-column predicate (e.g. `l_discount > 0.05`) is mirrored
  * VERBATIM in its oracle — identical doubles compared to identically
  * parsed literals are engine-exact by construction.
  *
  * This spec locks the two legs the rule stands on.
  */
class MoneyPredicateSpec extends AnyFunSuite {
  lazy val spark = TestSpark.session

  /** The shared cents recipe (CoreQueries.c2 / TpchQueries.c2). */
  private def c2(c: org.apache.spark.sql.Column) =
    floor(c * lit(100.0) + lit(0.5))

  test("cents recovery is exact for every 2-dp value across ±10^7") {
    // k/100 as the nearest double carries error |e| <= ulp/2 << 0.005,
    // so floor(k + 100e + 0.5) == k for every integer k in range —
    // including negatives (floor, not truncation) and the large
    // magnitudes TPC-H o_totalprice reaches. Sweep a coprime stride so
    // all residues mod 100 (i.e. all cent digits) are hit.
    val bad = spark.range(-10000000L, 10000001L, 9973L)
      .select(col("id").as("k"),
        (col("id").cast(DoubleType) / lit(100.0)).as("x"))
      .filter(c2(col("x")).cast(LongType) =!= col("k"))
      .count()
    assert(bad == 0L)
  }

  test("q22-shaped above-average predicate matches driver-side exact integer arithmetic") {
    val c = Tables.load(spark, "/root/testdata/sf0.001", "customer")
      .select(col("c_custkey"), col("c_acctbal"))
    // Spark leg: the registered q22 predicate shape — positive-cents
    // average via a broadcast 1-row aggregate, compared in DECIMAL.
    val avgAgg = c.filter(c2(col("c_acctbal")) > 0)
      .agg(sum(c2(col("c_acctbal")).cast(DecimalType(28, 0))).as("__sum"),
        count(lit(1)).as("__cnt"))
    val sparkSet = c.crossJoin(broadcast(avgAgg))
      .filter(c2(col("c_acctbal")).cast(DecimalType(28, 0)) * col("__cnt") >
        col("__sum"))
      .select("c_custkey").collect().map(_.getLong(0)).toSet

    // Oracle leg, reimplemented driver-side in exact BigDecimal/Long
    // integer arithmetic from the same raw doubles.
    val rows = c.collect().map(r => (r.getLong(0), r.getDouble(1)))
    val cents = rows.map { case (k, v) =>
      (k, BigDecimal(v).setScale(2, BigDecimal.RoundingMode.HALF_UP)
        .*(100).toLongExact)
    }
    val pos = cents.filter(_._2 > 0L)
    val (s, n) = (pos.map(x => BigInt(x._2)).sum, pos.length)
    val exactSet = cents.filter { case (_, ct) => BigInt(ct) * n > s }
      .map(_._1).toSet

    assert(sparkSet == exactSet)
    assert(sparkSet.nonEmpty)
  }
}
