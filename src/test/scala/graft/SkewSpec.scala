package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.Skew
import graft.queries.SkewQueries

/** Salted-join correctness and the skew derivation it runs on.
  * Salting only changes the physical distribution — every test here
  * asserts row-set identity against the plain (unsalted) join, plus
  * that the derived skew is genuinely hot (~20% of rows on one key)
  * and that the salted plan carries the salt in its join keys. */
class SkewSpec extends AnyFunSuite {
  lazy val spark = TestSpark.session

  private val sf = "/root/testdata/sf0.01"

  private def rows(df: org.apache.spark.sql.DataFrame): Set[String] =
    df.collect().map(_.mkString("|")).toSet

  test("derived skew routes ~20% of lineitem rows to one hot key") {
    val lines = SkewQueries.skewedLines(spark, sf)
    val byKey = lines.groupBy("supp_eff").count()
      .orderBy(col("count").desc).collect()
    val total = lines.count()
    val hotShare = byKey.head.getLong(1).toDouble / total
    assert(hotShare > 0.15 && hotShare < 0.30, s"hotShare=$hotShare")
    // the hot key dwarfs the runner-up — a real straggler shape
    assert(byKey.head.getLong(1) > 10L * byKey(1).getLong(1),
      s"head=${byKey.head} next=${byKey(1)}")
  }

  test("saltedJoin inner results are identical to the unsalted join") {
    val big = SkewQueries.skewedLines(spark, sf)
    val dim = SkewQueries.supplierDim(spark, sf)
    val salted = Skew.saltedJoin(big, dim, Seq("supp_eff"), saltFactor = 8)
    val plain = big.join(dim, Seq("supp_eff"))
    assert(salted.columns.toSeq == plain.columns.toSeq) // salt dropped
    assert(salted.count() == plain.count())
    // aggregate identity (full row-set identity at 60k rows via sums)
    val a = salted.groupBy("s_name").agg(count(lit(1)), sum("__rev"))
    val b = plain.groupBy("s_name").agg(count(lit(1)), sum("__rev"))
    assert(rows(a) == rows(b))
  }

  test("saltedJoin left join keeps unmatched big-side rows exactly once") {
    import spark.implicits._
    val big = Seq((1L, "a"), (2L, "b"), (3L, "c"), (3L, "d"))
      .toDF("k", "v")
    val small = Seq((1L, "x"), (3L, "y")).toDF("k", "w")
    val salted = Skew.saltedJoin(big, small, Seq("k"), saltFactor = 4,
      joinType = "left")
    val plain = big.join(small, Seq("k"), "left")
    assert(rows(salted) == rows(plain))
    assert(salted.filter(col("w").isNull).count() == 1) // k=2 unmatched
  }

  test("the registered query's plan joins on (key, salt) without " +
      "broadcasting the dim") {
    val p = SparkEntry.queries("q_skew_salted")(spark, sf)
      .queryExecution.executedPlan.toString
    // shuffled-hash, not sort-merge: salting an SMJ makes the salt a
    // tie-breaking second sort key and the prefix-tied comparisons
    // (few distinct suppliers per partition) fall into full-record
    // compares — the SkewBench A/B (SCALING.md) measured the stage CPU
    // doubling. The hash join has no sort to poison; the replicated dim
    // builds a tiny per-partition map.
    assert(p.contains("ShuffledHashJoin"), p)
    assert(p.contains("__graft_salt"), p)
  }

  test("the pre-agg twin returns the salted twin's exact answer, " +
      "joins AFTER aggregating, and carries no salt") {
    val salted = SparkEntry.queries("q_skew_salted")(spark, sf)
    val preagg = SparkEntry.queries("q_skew_preagg")(spark, sf)
    assert(rows(salted) == rows(preagg))
    val p = preagg.queryExecution.executedPlan.toString
    assert(!p.contains("__graft_salt"), p)
    // the hot key must be absorbed by partial aggregation BELOW the
    // join: the plan's first HashAggregate (partial, by supp_eff) sits
    // under the join, so the join input is one row per supplier key
    val joinIdx = p.indexOf("ShuffledHashJoin")
    val partialAggIdx = p.indexOf("partial_count")
    assert(joinIdx >= 0 && partialAggIdx > joinIdx,
      s"expected partial agg below the join: join@$joinIdx " +
        s"partialAgg@$partialAggIdx\n$p")
  }
}
