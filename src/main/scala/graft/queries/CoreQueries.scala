package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types._

import graft.Tables
import graft.queries.Exact.{c2, revScaled, sumRevenue}

/** Core relational operators from SURVEY.md §2.1–§2.7: scans, projections,
  * filters, joins (equi/semi/anti), aggregations, windows, sorts/top-k,
  * set operations. Each query has an equivalent DuckDB oracle in
  * [[oracle]].
  *
  * Float determinism convention: any SUM/AVG over doubles goes through an
  * exact DECIMAL accumulator and is cast back to DOUBLE at the end —
  * per-row double arithmetic is IEEE-identical across engines, decimal
  * summation is associative, and the final cast is a single deterministic
  * op, so Spark (parallel sum) and DuckDB (serial sum) hash-match.
  */
object CoreQueries {
  type Q = (SparkSession, String) => DataFrame

  private def dec(c: org.apache.spark.sql.Column, p: Int = 24, s: Int = 6) =
    c.cast(DecimalType(p, s))

  val defs: Map[String, Q] = Map(
    // ------------------------------------------------------------------
    // §2.1 scan + §2.2 projection/filter — pushdown-friendly select
    "q_scan_project" -> ((s, dir) => {
      Tables.load(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1998-01-01") &&
          col("l_discount") > lit(0.05))
        .select(col("l_orderkey"), col("l_partkey"), col("l_quantity"),
          col("l_extendedprice"))
        .orderBy(col("l_orderkey"), col("l_partkey"), col("l_quantity"))
    }),

    // §2.2 predicates: coalesce/nullif/case/cast family (declared-safe set)
    "q_filter_pred" -> ((s, dir) => {
      Tables.load(s, dir, "customer")
        .select(
          col("c_custkey"),
          coalesce(nullif(col("c_mktsegment"), lit("MACHINERY")),
            lit("OTHER")).as("segment"),
          when(col("c_acctbal") < 0, lit("neg"))
            .when(col("c_acctbal") < 5000, lit("mid"))
            .otherwise(lit("high")).as("bal_band"),
          col("c_acctbal").cast(DecimalType(12, 2)).cast(DoubleType)
            .as("bal_dec"))
        .filter(col("c_acctbal") =!= 0.0)
    }),

    // ------------------------------------------------------------------
    // §2.4 aggregation — TPC-H Q1 flavor (decimal-exact sums)
    "q1_agg" -> ((s, dir) => {
      val li = Tables.load(s, dir, "lineitem")
        .filter(col("l_shipdate") <= lit("1998-09-02"))
      li.groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(dec(col("l_quantity"))).cast(DoubleType).as("sum_qty"),
          // integer-cents, like the rest of the revenue family (the
          // round-5 recipe): the old 6-dp decimal cast of this computed
          // product column rounds the shortest string repr in Spark but
          // the binary value in DuckDB, and at 600 M rows (sf100) the
          // ~1e-5-per-row boundary divergences accumulate past the
          // sum's ulp — caught by the round-9 fourth-decade probe.
          // floor(x·100 + 0.5) is identical IEEE arithmetic on both
          // engines at every row, so the exact sums cannot drift.
          (sum(c2(col("l_extendedprice")).cast(DecimalType(28, 0)))
            .cast(DoubleType) / lit(100.0)).as("sum_base_price"),
          sumRevenue.as("sum_disc_price"),
          (sum((revScaled * (lit(100L) + c2(col("l_tax"))))
            .cast(DecimalType(28, 0))).cast(DoubleType) / lit(1000000.0))
            .as("sum_charge"),
          (sum(dec(col("l_quantity"))).cast(DoubleType) / count(lit(1)))
            .as("avg_qty"),
          count(lit(1)).as("count_order"))
    }),

    // §2.4 GROUP BY + HAVING (reference catalog_reader.py:233-261)
    "q_group_having" -> ((s, dir) => {
      Tables.load(s, dir, "orders")
        .groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("n_orders"),
          sum(dec(col("o_totalprice"), 24, 2)).cast(DoubleType).as("spend"))
        .filter(col("n_orders") >= 3)
    }),

    // §2.4 DISTINCT (reference incremental.sql:140-143)
    "q_distinct" -> ((s, dir) => {
      Tables.load(s, dir, "orders")
        .select(col("o_orderstatus"), col("o_orderpriority")).distinct()
    }),

    // §2.4 conditional aggregation SUM(CASE WHEN ...) (savings.py:262-271)
    "q_conditional_agg" -> ((s, dir) => {
      Tables.load(s, dir, "orders")
        .groupBy(col("o_orderpriority"))
        .agg(
          sum(when(col("o_orderstatus") === "F", 1).otherwise(0)).as("n_f"),
          sum(when(col("o_orderstatus") === "O", 1).otherwise(0)).as("n_o"),
          (sum(when(col("o_orderstatus") === "F",
            dec(col("o_totalprice"), 24, 2))).cast(DoubleType) /
            count(when(col("o_orderstatus") === "F", lit(1))))
            .as("avg_f_price"))
    }),

    // §2.4 LISTAGG / STRING_AGG (transpiler.py:187-197) — deterministic
    // via sorted collect
    "q_listagg" -> ((s, dir) => {
      Tables.load(s, dir, "nation")
        .groupBy(col("n_regionkey"))
        .agg(array_join(array_sort(collect_list(col("n_name"))), ",")
          .as("nations"))
    }),

    // §2.4 ROLLUP (memory_guard.py:124-126 heavy-class ops, exposed)
    "q_rollup" -> ((s, dir) => {
      Tables.load(s, dir, "orders")
        .rollup(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n"),
          sum(dec(col("o_totalprice"), 24, 2)).cast(DoubleType).as("sum_price"))
    }),

    // §2.4 CUBE
    "q_cube" -> ((s, dir) => {
      Tables.load(s, dir, "lineitem")
        .cube(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"))
    }),

    // ------------------------------------------------------------------
    // §2.3 joins — multi-join local flagship (test_auto_router.py:213-225).
    // nation/region are tiny dims → broadcast; orders⋈customer shuffles on
    // the key, aggregation reuses the shuffle.
    "q_join_multi" -> ((s, dir) => {
      val o = Tables.load(s, dir, "orders")
      val c = Tables.load(s, dir, "customer")
      val n = Tables.load(s, dir, "nation")
      o.join(c, o("o_custkey") === c("c_custkey"), "inner")
        .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .filter(o("o_orderdate") >= lit("1996-01-01"))
        .groupBy(n("n_name"))
        .agg(count(lit(1)).as("n_orders"),
          sum(dec(col("o_totalprice"), 24, 2)).cast(DoubleType).as("revenue"))
    }),

    // §2.3 semi-join (EXISTS — incremental.sql:166-181 delete set)
    "q_semi_join" -> ((s, dir) => {
      val c = Tables.load(s, dir, "customer")
      val o = Tables.load(s, dir, "orders")
        .filter(col("o_totalprice") > 400000.0)
      c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
        .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
    }),

    // §2.3 anti-join (NOT EXISTS — snapshot.sql:195-206 hard-delete close)
    "q_anti_join" -> ((s, dir) => {
      val c = Tables.load(s, dir, "customer")
      val o = Tables.load(s, dir, "orders")
      c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
        .select(col("c_custkey"), col("c_name"), col("c_acctbal"))
    }),

    // §2.3 left join + null-probe (snapshot.sql:175-190 new/changed rows)
    "q_left_join_null" -> ((s, dir) => {
      val o = Tables.load(s, dir, "orders")
      val c = Tables.load(s, dir, "customer")
        .filter(col("c_acctbal") > 9000.0)
      o.join(c, o("o_custkey") === c("c_custkey"), "left")
        .filter(c("c_custkey").isNull)
        .select(o("o_orderkey"), o("o_custkey"))
    }),

    // §2.3 correlated scalar subquery (catalog_reader.py per-model probes;
    // Catalyst decorrelates to a left outer aggregate join — including the
    // COUNT-over-empty-group case, which must yield 0, not NULL)
    "q_correlated_scalar" -> ((s, dir) => {
      val sql =
        """SELECT c_custkey,
          |  (SELECT count(*) FROM orders o
          |   WHERE o.o_custkey = c.c_custkey) AS n_orders,
          |  CAST((SELECT sum(CAST(o_totalprice AS DECIMAL(24,2)))
          |        FROM orders o
          |        WHERE o.o_custkey = c.c_custkey
          |          AND o.o_orderstatus = 'F') AS DOUBLE) AS f_spend
          |FROM customer c
          |WHERE c_mktsegment = 'BUILDING'""".stripMargin
      Tables.registerFor(s, dir, sql)
      s.sql(sql)
    }),

    // §2.3 TPC-H Q3 shape (shipping priority): customer⋈orders⋈lineitem
    // at real plan depth — the filtered customer side broadcasts, the
    // lineitem⋈orders shuffle carries only pushed-down survivors, and
    // the group-by reuses the join keys. Deterministic top-k via the
    // unique l_orderkey tie-break.
    "q_tpch_q3" -> ((s, dir) => {
      val c = Tables.load(s, dir, "customer")
        .filter(col("c_mktsegment") === "BUILDING")
      val o = Tables.load(s, dir, "orders")
        .filter(col("o_orderdate") < lit("1998-01-01"))
      val l = Tables.load(s, dir, "lineitem")
        .filter(col("l_shipdate") > lit("1998-01-01"))
      l.join(o, l("l_orderkey") === o("o_orderkey"))
        .join(c, o("o_custkey") === c("c_custkey"))
        .groupBy(l("l_orderkey"), o("o_orderdate"))
        .agg(sumRevenue.as("revenue"))
        .orderBy(col("revenue").desc, col("l_orderkey"))
        .limit(10)
    }),

    // §2.3 TPC-H Q5 shape (local supplier volume): six tables, the
    // c_nationkey = s_nationkey cross-branch predicate, dim chain
    // (nation, region) broadcast — exercises join reordering at real
    // TPC-H depth.
    "q_tpch_q5" -> ((s, dir) => {
      val c = Tables.load(s, dir, "customer")
      val o = Tables.load(s, dir, "orders")
        .filter(col("o_orderdate") >= lit("1996-01-01") &&
          col("o_orderdate") < lit("1997-01-01"))
      val l = Tables.load(s, dir, "lineitem")
      val su = Tables.load(s, dir, "supplier")
      val n = Tables.load(s, dir, "nation")
      val r = Tables.load(s, dir, "region").filter(col("r_name") === "ASIA")
      // SHUFFLE_HASH on the bounded sides (date-filtered orders, the
      // customer dim): the default sort-merge join would SORT the full
      // lineitem side — at 60 M rows that sort dominates and spills
      // (measured 4.3× per-row at sf10); hash-building the small side
      // per partition never touches the fact rows' order
      l.join(Tables.shuffleHash(o), l("l_orderkey") === o("o_orderkey"))
        .join(Tables.shuffleHash(c), o("o_custkey") === c("c_custkey"))
        .join(su, l("l_suppkey") === su("s_suppkey") &&
          c("c_nationkey") === su("s_nationkey"))
        .join(broadcast(n), su("s_nationkey") === n("n_nationkey"))
        .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
        .groupBy(n("n_name"))
        .agg(sumRevenue.as("revenue"))
    }),

    // §2.3 TPC-H Q10 shape (returned items): customer⋈orders⋈lineitem⋈
    // nation with a tight date window + returnflag filter, wide group-by
    // keys, deterministic top-20.
    "q_tpch_q10" -> ((s, dir) => {
      val c = Tables.load(s, dir, "customer")
      val o = Tables.load(s, dir, "orders")
        .filter(col("o_orderdate") >= lit("1996-01-01") &&
          col("o_orderdate") < lit("1996-04-01"))
      val l = Tables.load(s, dir, "lineitem")
        .filter(col("l_returnflag") === "R")
      val n = Tables.load(s, dir, "nation")
      l.join(o, l("l_orderkey") === o("o_orderkey"))
        .join(c, o("o_custkey") === c("c_custkey"))
        .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .groupBy(c("c_custkey"), c("c_name"), c("c_acctbal"), n("n_name"))
        .agg(sumRevenue.as("revenue"))
        .orderBy(col("revenue").desc, col("c_custkey"))
        .limit(20)
    }),

    // §2.3 TPC-H Q18 shape (large-volume customers). The literal TPC-H
    // text semi-joins the IN subquery back into lineitem and re-sums
    // the quantity the subquery already aggregated — at 60 M rows that
    // second fact scan+shuffle spills for values the first aggregate
    // holds. The algebraic identity (per-order SUM in the outer query
    // = the subquery's own SUM) lets the pre-aggregate BE the result
    // rows: one lineitem pass, and the >250 filter leaves so few
    // orders that the orders/customer joins broadcast. Output is
    // bit-identical (same oracle); the semi-join shape itself stays
    // exercised by q_semi_join / q_tpch_q4 / q_tpch_q20.
    "q_tpch_q18" -> ((s, dir) => {
      val big = Tables.load(s, dir, "lineitem")
        .groupBy(col("l_orderkey").as("__bk"))
        .agg(sum(dec(col("l_quantity"))).as("__qty"))
        .filter(col("__qty") > 250)
      val o = Tables.load(s, dir, "orders")
      val c = Tables.load(s, dir, "customer")
      big.join(o, col("__bk") === o("o_orderkey"))
        .join(c, o("o_custkey") === c("c_custkey"))
        .select(c("c_name"), c("c_custkey"), o("o_orderkey"),
          o("o_orderdate"), o("o_totalprice"),
          col("__qty").cast(DoubleType).as("total_qty"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(100)
    }),

    // TPC-H q6 (forecast revenue change): the canonical pure-scan
    // benchmark — every predicate pushes into the parquet scan, one
    // partial-aggregated scalar out; revenue = extprice·disc in exact
    // integer cents (scale 1e4)
    "q_tpch_q6" -> ((s, dir) =>
      Tables.load(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1996-01-01") &&
          col("l_shipdate") < lit("1997-01-01") &&
          col("l_discount") >= lit(0.03) &&
          col("l_discount") <= lit(0.05) &&
          col("l_quantity") < lit(24))
        .agg((sum((c2(col("l_extendedprice")) * c2(col("l_discount")))
          .cast(DecimalType(28, 0))).cast(DoubleType) / lit(10000.0))
          .as("revenue"))),

    // TPC-H q13 (customer distribution): agg-of-agg — per-customer
    // order counts via LEFT join (zero-order customers count), then
    // the distribution of those counts
    "q_tpch_q13" -> ((s, dir) => {
      val c = Tables.load(s, dir, "customer")
      val o = Tables.load(s, dir, "orders")
        .filter(col("o_orderpriority") =!= "1-URGENT")
      val perCust = c.join(o, c("c_custkey") === o("o_custkey"), "left")
        .groupBy(c("c_custkey"))
        .agg(count(col("o_orderkey")).as("c_count"))
      perCust.groupBy(col("c_count"))
        .agg(count(lit(1)).as("custdist"))
    }),

    // TPC-H q7 (volume shipping): the bidirectional nation-pair join —
    // both nation dims pre-filtered to the two trading partners (2-row
    // broadcasts), the asymmetric pair predicate applied post-join
    "q_tpch_q7" -> ((s, dir) => {
      val pairNations = Seq("NATION_1", "NATION_2")
      val l = Tables.load(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1995-01-01") &&
          col("l_shipdate") <= lit("1996-12-31"))
      val o = Tables.load(s, dir, "orders")
      val c = Tables.load(s, dir, "customer")
      val su = Tables.load(s, dir, "supplier")
      val n1 = Tables.load(s, dir, "nation")
        .filter(col("n_name").isin(pairNations: _*))
        .select(col("n_nationkey").as("__snk"),
          col("n_name").as("supp_nation"))
      val n2 = Tables.load(s, dir, "nation")
        .filter(col("n_name").isin(pairNations: _*))
        .select(col("n_nationkey").as("__cnk"),
          col("n_name").as("cust_nation"))
      l.join(o, l("l_orderkey") === o("o_orderkey"))
        .join(c, o("o_custkey") === c("c_custkey"))
        .join(su, l("l_suppkey") === su("s_suppkey"))
        .join(broadcast(n1), su("s_nationkey") === col("__snk"))
        .join(broadcast(n2), c("c_nationkey") === col("__cnk"))
        .filter((col("supp_nation") === "NATION_1" &&
            col("cust_nation") === "NATION_2") ||
          (col("supp_nation") === "NATION_2" &&
            col("cust_nation") === "NATION_1"))
        .groupBy(col("supp_nation"), col("cust_nation"),
          year(col("l_shipdate")).as("l_year"))
        .agg(sumRevenue.as("revenue"))
    }),

    // TPC-H q8 (national market share): 8-relation join depth; the
    // share is a ratio of two DECIMAL-accumulated sums (exact division)
    "q_tpch_q8" -> ((s, dir) => {
      val p = Tables.load(s, dir, "part")
        .filter(col("p_type") === "ECONOMY")
      val l = Tables.load(s, dir, "lineitem")
      val o = Tables.load(s, dir, "orders")
        .filter(col("o_orderdate") >= lit("1995-01-01") &&
          col("o_orderdate") <= lit("1996-12-31"))
      val c = Tables.load(s, dir, "customer")
      val su = Tables.load(s, dir, "supplier")
      val r = Tables.load(s, dir, "region")
        .filter(col("r_name") === "AMERICA")
      val n1 = Tables.load(s, dir, "nation")
        .join(broadcast(r), col("n_regionkey") === r("r_regionkey"))
        .select(col("n_nationkey").as("__cnk"))
      val n2 = Tables.load(s, dir, "nation")
        .select(col("n_nationkey").as("__snk"),
          col("n_name").as("supp_nation"))
      val vol = revScaled.cast(DecimalType(28, 0))
      // SHUFFLE_HASH on the bounded orders/customer sides — as in q5,
      // sort-merge would sort the part-pruned fact stream (measured
      // 4.0× per-row at sf10 from exactly that sort's spill)
      l.join(broadcast(p), l("l_partkey") === p("p_partkey"))
        .join(Tables.shuffleHash(o), l("l_orderkey") === o("o_orderkey"))
        .join(Tables.shuffleHash(c), o("o_custkey") === c("c_custkey"))
        .join(broadcast(n1), c("c_nationkey") === col("__cnk"))
        .join(su, l("l_suppkey") === su("s_suppkey"))
        .join(broadcast(n2), su("s_nationkey") === col("__snk"))
        .groupBy(year(o("o_orderdate")).as("o_year"))
        .agg(
          // the 1e4 scale factor cancels in the ratio
          (sum(when(col("supp_nation") === "NATION_3", vol))
            .cast(DoubleType) /
            sum(vol).cast(DoubleType)).as("mkt_share"),
          (sum(vol).cast(DoubleType) / lit(10000.0)).as("total_volume"))
    }),

    // ------------------------------------------------------------------
    // §2.5 windows — the flagship dedup pattern
    // (test_auto_router.py:192-211); deterministic via orderkey tie-break
    "q_window_dedup" -> ((s, dir) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate").desc, col("o_orderkey").desc)
      Tables.load(s, dir, "orders")
        .filter(col("o_orderstatus") === "F")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
          col("o_orderdate"))
    }),

    // §2.5 rank / dense_rank / ntile (auto_router.py:141 declared-safe)
    "q_window_rank" -> ((s, dir) => {
      val w = Window.partitionBy(col("c_mktsegment"))
        .orderBy(col("c_acctbal").desc, col("c_custkey"))
      Tables.load(s, dir, "customer")
        .select(col("c_custkey"), col("c_mktsegment"),
          rank().over(w).as("rnk"),
          dense_rank().over(w).as("drnk"),
          ntile(4).over(w).as("quartile"))
        .filter(col("rnk") <= 10)
    }),

    // §2.5 lead/lag/first_value/last_value (auto_router.py:142)
    "q_window_leadlag" -> ((s, dir) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
      Tables.load(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"),
          lag(col("o_totalprice"), 1).over(w).as("prev_price"),
          lead(col("o_totalprice"), 1).over(w).as("next_price"),
          first_value(col("o_orderkey")).over(w).as("first_order"))
    }),

    // §2.5 distribution functions — percent_rank/cume_dist over the
    // per-segment balance order: integer rank arithmetic divided once
    // per row ((rank-1)/(n-1), peers/n), IEEE-exact identically on both
    // engines since every operand is an integer
    "q_window_dist" -> ((s, dir) => {
      val w = Window.partitionBy(col("c_mktsegment"))
        .orderBy(col("c_acctbal"), col("c_custkey"))
      Tables.load(s, dir, "customer")
        .select(col("c_custkey"), col("c_mktsegment"),
          percent_rank().over(w).as("pct_rank"),
          cume_dist().over(w).as("cume"))
    }),

    // §2.5 running aggregate with explicit frame
    "q_window_running" -> ((s, dir) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.load(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"),
          sum(dec(col("o_totalprice"), 24, 2)).over(w).cast(DoubleType)
            .as("running_spend"))
    }),

    // §2.5 RANGE frame — trailing 30-day spend per customer: the frame
    // is VALUE-bounded (epoch-second order key, 2,592,000-second
    // preceding bound), so ties in o_orderdate aggregate together
    // regardless of row order — the semantics ROWS frames cannot
    // express. Exact integer seconds and DECIMAL cents on both engines.
    "q_window_range" -> ((s, dir) => {
      // NTZ has no direct integer cast; via TIMESTAMP under the pinned
      // UTC session the epoch seconds equal DuckDB's epoch()
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate").cast(TimestampType).cast(LongType))
        .rangeBetween(-30L * 86400L, 0L)
      Tables.load(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"),
          sum(dec(col("o_totalprice"), 24, 2)).over(w).cast(DoubleType)
            .as("spend_30d"))
    }),

    // ------------------------------------------------------------------
    // §2.6 top-k (savings.py:276-291) — deterministic via key tie-break
    "q_topk" -> ((s, dir) => {
      Tables.load(s, dir, "orders")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
        .limit(25)
    }),

    // §2.6 dev-sampling LIMIT (impl.py:403-415) — ordered for determinism
    "q_dev_sample" -> ((s, dir) => {
      Tables.load(s, dir, "lineitem")
        .orderBy(col("l_orderkey"), col("l_linenumber"))
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
        .limit(10000)
    }),

    // ------------------------------------------------------------------
    // §2.7 set operations
    "q_union_all" -> ((s, dir) => {
      val o = Tables.load(s, dir, "orders")
      val hi = o.filter(col("o_totalprice") > 300000.0)
        .select(col("o_orderkey"), col("o_orderstatus"))
      val ur = o.filter(col("o_orderpriority") === "1-URGENT")
        .select(col("o_orderkey"), col("o_orderstatus"))
      hi.unionByName(ur)
    }),

    "q_intersect" -> ((s, dir) => {
      val o = Tables.load(s, dir, "orders")
      val a = o.filter(col("o_totalprice") > 200000.0).select(col("o_custkey"))
      val b = o.filter(col("o_orderstatus") === "F").select(col("o_custkey"))
      a.intersect(b)
    }),

    "q_except" -> ((s, dir) => {
      val c = Tables.load(s, dir, "customer").select(col("c_nationkey"))
      val s2 = Tables.load(s, dir, "supplier").select(col("s_nationkey"))
        .withColumnRenamed("s_nationkey", "c_nationkey")
      c.except(s2)
    })
  )

  val oracle: Map[String, String] = Map(
    "q_correlated_scalar" ->
      """SELECT c_custkey,
        |  (SELECT count(*) FROM orders o
        |   WHERE o.o_custkey = c.c_custkey) AS n_orders,
        |  CAST((SELECT sum(CAST(o_totalprice AS DECIMAL(24,2)))
        |        FROM orders o
        |        WHERE o.o_custkey = c.c_custkey
        |          AND o.o_orderstatus = 'F') AS DOUBLE) AS f_spend
        |FROM customer c
        |WHERE c_mktsegment = 'BUILDING'""".stripMargin,

    "q_scan_project" ->
      """SELECT l_orderkey, l_partkey, l_quantity, l_extendedprice
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1998-01-01' AND l_discount > 0.05
        |ORDER BY l_orderkey, l_partkey, l_quantity""".stripMargin,

    "q_filter_pred" ->
      """SELECT c_custkey,
        |  coalesce(nullif(c_mktsegment, 'MACHINERY'), 'OTHER') AS segment,
        |  CASE WHEN c_acctbal < 0 THEN 'neg'
        |       WHEN c_acctbal < 5000 THEN 'mid' ELSE 'high' END AS bal_band,
        |  CAST(CAST(c_acctbal AS DECIMAL(12,2)) AS DOUBLE) AS bal_dec
        |FROM customer WHERE c_acctbal <> 0.0""".stripMargin,

    "q1_agg" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(24,6))) AS DOUBLE) AS sum_qty,
        |  CAST(SUM(CAST(CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT)
        |    AS DECIMAL(28,0))) AS DOUBLE) / 100.0 AS sum_base_price,
        |  CAST(SUM(CAST((CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT)
        |    * (100 - CAST(floor(l_discount * 100.0 + 0.5) AS BIGINT)))
        |    AS DECIMAL(28,0))) AS DOUBLE) / 10000.0 AS sum_disc_price,
        |  CAST(SUM(CAST((CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT)
        |    * (100 - CAST(floor(l_discount * 100.0 + 0.5) AS BIGINT)))
        |    * (100 + CAST(floor(l_tax * 100.0 + 0.5) AS BIGINT))
        |    AS DECIMAL(28,0))) AS DOUBLE) / 1000000.0 AS sum_charge,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(24,6))) AS DOUBLE) / COUNT(*) AS avg_qty,
        |  COUNT(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        |GROUP BY l_returnflag, l_linestatus""".stripMargin,

    "q_group_having" ->
      """SELECT o_custkey, COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(24,2))) AS DOUBLE) AS spend
        |FROM orders GROUP BY o_custkey HAVING COUNT(*) >= 3""".stripMargin,

    "q_distinct" ->
      "SELECT DISTINCT o_orderstatus, o_orderpriority FROM orders",

    "q_conditional_agg" ->
      """SELECT o_orderpriority,
        |  CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n_f,
        |  CAST(SUM(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS n_o,
        |  CAST(SUM(CASE WHEN o_orderstatus = 'F'
        |    THEN CAST(o_totalprice AS DECIMAL(24,2)) END) AS DOUBLE) /
        |    COUNT(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS avg_f_price
        |FROM orders GROUP BY o_orderpriority""".stripMargin,

    "q_listagg" ->
      """SELECT n_regionkey, string_agg(n_name, ',' ORDER BY n_name) AS nations
        |FROM nation GROUP BY n_regionkey""".stripMargin,

    "q_rollup" ->
      """SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(24,2))) AS DOUBLE) AS sum_price
        |FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)""".stripMargin,

    "q_cube" ->
      """SELECT l_returnflag, l_linestatus, COUNT(*) AS n
        |FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)""".stripMargin,

    "q_join_multi" ->
      """SELECT n_name, COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(24,2))) AS DOUBLE) AS revenue
        |FROM orders
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |WHERE o_orderdate >= TIMESTAMP '1996-01-01'
        |GROUP BY n_name""".stripMargin,

    "q_semi_join" ->
      """SELECT c_custkey, c_name, c_mktsegment FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders
        |  WHERE o_custkey = c_custkey AND o_totalprice > 400000.0)""".stripMargin,

    "q_anti_join" ->
      """SELECT c_custkey, c_name, c_acctbal FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)""".stripMargin,

    "q_left_join_null" ->
      """SELECT o_orderkey, o_custkey FROM orders
        |LEFT JOIN (SELECT * FROM customer WHERE c_acctbal > 9000.0) c
        |  ON o_custkey = c_custkey
        |WHERE c_custkey IS NULL""".stripMargin,

    "q_tpch_q3" ->
      """SELECT l_orderkey, o_orderdate,
        |  CAST(SUM(CAST((CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT)
        |    * (100 - CAST(floor(l_discount * 100.0 + 0.5) AS BIGINT)))
        |    AS DECIMAL(28,0))) AS DOUBLE) / 10000.0 AS revenue
        |FROM customer
        |JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON l_orderkey = o_orderkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1998-01-01'
        |  AND l_shipdate > TIMESTAMP '1998-01-01'
        |GROUP BY l_orderkey, o_orderdate
        |ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin,

    "q_tpch_q5" ->
      """SELECT n_name,
        |  CAST(SUM(CAST((CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT)
        |    * (100 - CAST(floor(l_discount * 100.0 + 0.5) AS BIGINT)))
        |    AS DECIMAL(28,0))) AS DOUBLE) / 10000.0 AS revenue
        |FROM customer
        |JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON l_orderkey = o_orderkey
        |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate < TIMESTAMP '1997-01-01'
        |GROUP BY n_name""".stripMargin,

    "q_tpch_q10" ->
      """SELECT c_custkey, c_name, c_acctbal, n_name,
        |  CAST(SUM(CAST((CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT)
        |    * (100 - CAST(floor(l_discount * 100.0 + 0.5) AS BIGINT)))
        |    AS DECIMAL(28,0))) AS DOUBLE) / 10000.0 AS revenue
        |FROM customer
        |JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON l_orderkey = o_orderkey
        |JOIN nation ON c_nationkey = n_nationkey
        |WHERE o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate < TIMESTAMP '1996-04-01'
        |  AND l_returnflag = 'R'
        |GROUP BY c_custkey, c_name, c_acctbal, n_name
        |ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin,

    "q_tpch_q18" ->
      """SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(24,6))) AS DOUBLE)
        |    AS total_qty
        |FROM customer
        |JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON l_orderkey = o_orderkey
        |WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem
        |  GROUP BY l_orderkey
        |  HAVING SUM(CAST(l_quantity AS DECIMAL(24,6))) > 250)
        |GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 100""".stripMargin,

    "q_tpch_q6" ->
      """SELECT CAST(SUM(CAST(
        |    CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT)
        |    * CAST(floor(l_discount * 100.0 + 0.5) AS BIGINT)
        |  AS DECIMAL(28,0))) AS DOUBLE) / 10000.0 AS revenue
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |  AND l_shipdate < TIMESTAMP '1997-01-01'
        |  AND l_discount >= CAST(0.03 AS DOUBLE)
        |  AND l_discount <= CAST(0.05 AS DOUBLE)
        |  AND l_quantity < 24""".stripMargin,

    "q_tpch_q13" ->
      """WITH pc AS (
        |  SELECT c_custkey, count(o_orderkey) AS c_count
        |  FROM customer LEFT JOIN orders
        |    ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
        |  GROUP BY c_custkey)
        |SELECT c_count, count(*) AS custdist
        |FROM pc GROUP BY c_count""".stripMargin,

    "q_tpch_q7" ->
      """SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
        |  CAST(year(l_shipdate) AS INT) AS l_year,
        |  CAST(SUM(CAST((CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT)
        |    * (100 - CAST(floor(l_discount * 100.0 + 0.5) AS BIGINT)))
        |    AS DECIMAL(28,0))) AS DOUBLE) / 10000.0 AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation n1 ON s_nationkey = n1.n_nationkey
        |JOIN nation n2 ON c_nationkey = n2.n_nationkey
        |WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
        |    OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
        |  AND l_shipdate >= TIMESTAMP '1995-01-01'
        |  AND l_shipdate <= TIMESTAMP '1996-12-31'
        |GROUP BY n1.n_name, n2.n_name, year(l_shipdate)""".stripMargin,

    "q_tpch_q8" ->
      """SELECT CAST(year(o_orderdate) AS INT) AS o_year,
        |  CAST(SUM(CASE WHEN n2.n_name = 'NATION_3'
        |      THEN CAST((CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT)
        |    * (100 - CAST(floor(l_discount * 100.0 + 0.5) AS BIGINT)))
        |        AS DECIMAL(28,0)) END) AS DOUBLE)
        |    / CAST(SUM(CAST((CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT)
        |    * (100 - CAST(floor(l_discount * 100.0 + 0.5) AS BIGINT)))
        |        AS DECIMAL(28,0))) AS DOUBLE) AS mkt_share,
        |  CAST(SUM(CAST((CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT)
        |    * (100 - CAST(floor(l_discount * 100.0 + 0.5) AS BIGINT)))
        |    AS DECIMAL(28,0))) AS DOUBLE) / 10000.0 AS total_volume
        |FROM lineitem
        |JOIN part ON l_partkey = p_partkey
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation n1 ON c_nationkey = n1.n_nationkey
        |JOIN region ON n1.n_regionkey = r_regionkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation n2 ON s_nationkey = n2.n_nationkey
        |WHERE p_type = 'ECONOMY' AND r_name = 'AMERICA'
        |  AND o_orderdate >= TIMESTAMP '1995-01-01'
        |  AND o_orderdate <= TIMESTAMP '1996-12-31'
        |GROUP BY year(o_orderdate)""".stripMargin,

    "q_window_dedup" ->
      """WITH ranked AS (
        |  SELECT o_orderkey, o_custkey, o_totalprice, o_orderdate,
        |    ROW_NUMBER() OVER (PARTITION BY o_custkey
        |      ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
        |  FROM orders WHERE o_orderstatus = 'F')
        |SELECT o_orderkey, o_custkey, o_totalprice, o_orderdate
        |FROM ranked WHERE rn = 1""".stripMargin,

    "q_window_rank" ->
      """SELECT c_custkey, c_mktsegment, rnk, drnk, quartile FROM (
        |  SELECT c_custkey, c_mktsegment,
        |    CAST(RANK() OVER w AS INT) AS rnk,
        |    CAST(DENSE_RANK() OVER w AS INT) AS drnk,
        |    CAST(NTILE(4) OVER w AS INT) AS quartile
        |  FROM customer
        |  WINDOW w AS (PARTITION BY c_mktsegment
        |    ORDER BY c_acctbal DESC, c_custkey)) t
        |WHERE rnk <= 10""".stripMargin,

    "q_window_leadlag" ->
      """SELECT o_orderkey, o_custkey,
        |  LAG(o_totalprice, 1) OVER w AS prev_price,
        |  LEAD(o_totalprice, 1) OVER w AS next_price,
        |  FIRST_VALUE(o_orderkey) OVER w AS first_order
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)""".stripMargin,

    "q_window_running" ->
      """SELECT o_orderkey, o_custkey,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(24,2))) OVER (
        |    PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
        |    AS running_spend
        |FROM orders""".stripMargin,

    "q_window_dist" ->
      """SELECT c_custkey, c_mktsegment,
        |  percent_rank() OVER (PARTITION BY c_mktsegment
        |    ORDER BY c_acctbal, c_custkey) AS pct_rank,
        |  cume_dist() OVER (PARTITION BY c_mktsegment
        |    ORDER BY c_acctbal, c_custkey) AS cume
        |FROM customer""".stripMargin,

    "q_window_range" ->
      """SELECT o_orderkey, o_custkey,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(24,2))) OVER (
        |    PARTITION BY o_custkey ORDER BY epoch(o_orderdate)
        |    RANGE BETWEEN 2592000 PRECEDING AND CURRENT ROW) AS DOUBLE)
        |    AS spend_30d
        |FROM orders""".stripMargin,

    "q_topk" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 25""".stripMargin,

    "q_dev_sample" ->
      """SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
        |ORDER BY l_orderkey, l_linenumber LIMIT 10000""".stripMargin,

    "q_union_all" ->
      """SELECT o_orderkey, o_orderstatus FROM orders WHERE o_totalprice > 300000.0
        |UNION ALL
        |SELECT o_orderkey, o_orderstatus FROM orders
        |WHERE o_orderpriority = '1-URGENT'""".stripMargin,

    "q_intersect" ->
      """SELECT o_custkey FROM orders WHERE o_totalprice > 200000.0
        |INTERSECT
        |SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'""".stripMargin,

    "q_except" ->
      """SELECT c_nationkey FROM customer
        |EXCEPT
        |SELECT s_nationkey AS c_nationkey FROM supplier""".stripMargin
  )
}
