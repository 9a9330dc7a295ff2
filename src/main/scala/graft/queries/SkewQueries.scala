package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType}
import graft.Tables
import graft.ops.Skew

/** Skew-robustness queries — the salted-join path exercised on
  * genuinely hot keys (SURVEY "Optimize for scale": skewed keys →
  * salting; the GenScale datasets are deliberately uniform/
  * multiplicity-1, while real 100 TB corpora are Zipfian — boilerplate
  * dedup buckets, head domains, hot join keys).
  *
  * The skew is DERIVED deterministically from the driver tables rather
  * than generated, so the oracle sees the identical distribution at
  * every scale factor: every lineitem row whose l_orderkey ≡ 0 (mod 5)
  * is re-pointed at one hot supplier (the minimum s_suppkey), giving
  * that key ~20% of all rows — at sf10 that is one 6 M-row key against
  * a ~2 k-row average, the straggler shape that makes an unsalted
  * sort-merge join run at the speed of its one hot partition.
  *
  * [[graft.ops.Skew.saltedJoin]] spreads the hot key over 8 salt
  * values (big side salted deterministically, supplier dim replicated
  * 8×, join on (key, salt)); the SHUFFLE_HASH hint pins the shuffle
  * join so the registered query exercises the exact scale shape even
  * where the 8×-replicated dim would otherwise broadcast — and hash,
  * not merge, because salting a sort-merge join poisons its sort (the
  * salt becomes a tie-breaking second key and the prefix-tied
  * comparisons fall into full-record compares; the SkewBench A/B
  * measured the stage CPU doubling), while the hash join is sortless and its
  * replicated dim builds a tiny per-partition map. Row results are
  * identical to the unsalted join by construction — the oracle is a
  * plain (unsalted) SQL join. The salted-vs-unsalted straggler and
  * spill delta was measured by the SkewBench dev tool (last present at
  * commit f0feb50) and is recorded in SCALING.md.
  *
  * Money discipline: revenue accumulates exact scaled-integer cents
  * products (the house c2 recipe — see [[Exact]]), rescaled once.
  */
object SkewQueries {
  type Q = (SparkSession, String) => DataFrame

  /** The skewed big side: ~20% of lineitem rows routed to the hot
    * supplier key (min s_suppkey), the rest untouched. The 1-row hot
    * aggregate rides the scalar-broadcast pattern (no collect). */
  private[graft] def skewedLines(s: SparkSession, dir: String): DataFrame = {
    val hot = Tables.load(s, dir, "supplier")
      .agg(min(col("s_suppkey")).as("__hot"))
    Tables.load(s, dir, "lineitem")
      .crossJoin(broadcast(hot))
      .select(
        when(pmod(col("l_orderkey"), lit(5)) === 0, col("__hot"))
          .otherwise(col("l_suppkey")).as("supp_eff"),
        Exact.revScaled.cast(DecimalType(28, 0)).as("__rev"))
  }

  /** The small side: supplier enriched with its nation name, keyed to
    * match the big side's column name (saltedJoin joins on shared
    * names). */
  private[graft] def supplierDim(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "supplier")
      .join(broadcast(Tables.load(s, dir, "nation")),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey").as("supp_eff"), col("s_name"), col("n_name"))

  val defs: Map[String, Q] = Map(
    "q_skew_salted" -> ((s, dir) => {
      Skew.saltedJoin(skewedLines(s, dir),
          supplierDim(s, dir).hint("SHUFFLE_HASH"), Seq("supp_eff"),
          saltFactor = 8)
        .groupBy(col("s_name"), col("n_name"))
        .agg(count(lit(1)).as("n_lines"),
          (sum(col("__rev")).cast(DoubleType) / lit(10000.0)).as("revenue"))
    }),

    // The aggregate-before-join twin: when the downstream agg commutes
    // past the join (it only needs per-key partials), pre-aggregating by
    // the join key makes salting unnecessary — map-side partial
    // aggregation absorbs the hot key (each task emits ONE combined row
    // for it, so the reduce side sees num_tasks rows, not 120 M), and
    // the join then handles one row per supplier. Same oracle as the
    // salted twin; SCALING.md records the measured delta. The decision
    // tree this pair documents: pre-agg when the aggregate distributes
    // over the join; salt when you genuinely need row-level join output.
    "q_skew_preagg" -> ((s, dir) => {
      skewedLines(s, dir)
        .groupBy(col("supp_eff"))
        .agg(count(lit(1)).as("__n"), sum(col("__rev")).as("__r"))
        .join(Tables.shuffleHash(supplierDim(s, dir)), Seq("supp_eff"))
        .groupBy(col("s_name"), col("n_name"))
        .agg(sum(col("__n")).as("n_lines"),
          (sum(col("__r")).cast(DoubleType) / lit(10000.0)).as("revenue"))
    })
  )

  val oracle: Map[String, String] = Map(
    "q_skew_salted" ->
      """WITH hot AS (SELECT min(s_suppkey) AS h FROM supplier),
        |l AS (
        |  SELECT CASE WHEN l_orderkey % 5 = 0 THEN h ELSE l_suppkey END
        |    AS supp_eff,
        |  CAST((CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT)
        |    * (100 - CAST(floor(l_discount * 100.0 + 0.5) AS BIGINT)))
        |    AS DECIMAL(28,0)) AS rev
        |  FROM lineitem, hot)
        |SELECT s_name, n_name, CAST(count(*) AS BIGINT) AS n_lines,
        |  CAST(SUM(rev) AS DOUBLE) / 10000.0 AS revenue
        |FROM l
        |JOIN supplier ON supp_eff = s_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |GROUP BY s_name, n_name""".stripMargin,

    // identical answer to the salted twin — only the physical plan
    // differs, which is the point of the pair
    "q_skew_preagg" ->
      """WITH hot AS (SELECT min(s_suppkey) AS h FROM supplier),
        |l AS (
        |  SELECT CASE WHEN l_orderkey % 5 = 0 THEN h ELSE l_suppkey END
        |    AS supp_eff,
        |  CAST((CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT)
        |    * (100 - CAST(floor(l_discount * 100.0 + 0.5) AS BIGINT)))
        |    AS DECIMAL(28,0)) AS rev
        |  FROM lineitem, hot)
        |SELECT s_name, n_name, CAST(count(*) AS BIGINT) AS n_lines,
        |  CAST(SUM(rev) AS DOUBLE) / 10000.0 AS revenue
        |FROM l
        |JOIN supplier ON supp_eff = s_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |GROUP BY s_name, n_name""".stripMargin
  )
}
