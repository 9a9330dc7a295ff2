package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType, LongType}
import graft.Tables
import graft.queries.Exact.{c2, revScaled, sumRevenue}

/** The remaining TPC-H query shapes (q2, q4, q9, q11, q12, q14, q15, q16,
  * q17, q19, q20, q21, q22), completing the 22-query suite started in
  * [[CoreQueries]] (q1/q3/q5/q6/q7/q8/q10/q13/q18).
  *
  * The driver's star schema is TPC-H-ish, not TPC-H: there is no
  * `partsupp` table and no `l_commitdate`/`l_receiptdate`/`c_phone`
  * columns. Queries that reference those are ADAPTED — same plan shape,
  * join depth and aggregation structure, with stand-ins from the columns
  * that exist (documented per query). Money/ratio arithmetic follows the
  * house integer-cents discipline (see [[Exact.c2]]): every
  * aggregate that feeds a comparison or a hash-checked output value is an
  * exact scaled-integer DECIMAL accumulation, rescaled once at the end,
  * so no cross-engine double tie can flip a row at any scale.
  *
  * Scale notes (100 TB): every dim side (nation, region, supplier, the
  * 1-row scalar aggregates) is broadcast; the fact-side joins shuffle on
  * their natural keys; correlated predicates (q17's 0.2·avg, q22's
  * above-average, q11's global fraction, q15's max) are expressed as
  * partial-aggregate + broadcast-scalar joins, never per-row subqueries.
  */
object TpchQueries {
  type Q = (SparkSession, String) => DataFrame

  private def dec(c: org.apache.spark.sql.Column) =
    c.cast(DecimalType(28, 0))

  /** Integral l_quantity as BIGINT (the generator writes whole units). */
  private def qtyL = floor(col("l_quantity") + lit(0.5)).cast(LongType)

  /** The DuckDB text of [[Exact.revScaled]] (kept in lockstep). */
  private val revSql =
    """CAST((CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT)
      |    * (100 - CAST(floor(l_discount * 100.0 + 0.5) AS BIGINT)))
      |    AS DECIMAL(28,0))""".stripMargin

  val defs: Map[String, Q] = Map(
    // TPC-H q2 (minimum-cost supplier). Adapted: partsupp stand-in =
    // DISTINCT (l_partkey, l_suppkey) observed in lineitem; supply cost
    // stand-in = s_acctbal. Same shape: region-filtered supplier dim,
    // per-part MIN correlated predicate — expressed as a per-partition
    // WINDOW min + filter (the greatest-n-per-group rewrite), not as a
    // partial agg self-joined back: the self-join form referenced the
    // joined relation TWICE, and unless ReuseExchange fired, the widest
    // distinct in the suite (the partsupp stand-in) was computed twice —
    // measured as q2 alone spilling 15.99 GB of the 8 g sf10 leg's
    // 29.46 GB total. Second reshape: the distinct's INPUT is pruned by
    // both broadcast dims first — keys-only part/supplier prunes cut
    // the pair stream to a few percent of lineitem before its shuffle
    // (inner equi-joins commute with the pair distinct), the attribute
    // joins re-attach to the post-distinct trickle, and the window pass
    // shuffles once on p_partkey. Exact double equality is untouched:
    // min() over a window selects a stored value, never computes one.
    "q_tpch_q2" -> ((s, dir) => {
      val su = Tables.load(s, dir, "supplier")
        .join(broadcast(Tables.load(s, dir, "nation")),
          col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(Tables.load(s, dir, "region")
          .filter(col("r_name") === "EUROPE")),
          col("n_regionkey") === col("r_regionkey"))
      val p = Tables.load(s, dir, "part")
        .filter(col("p_size") <= 15 && col("p_type") === "LARGE")
      val l = Tables.load(s, dir, "lineitem")
      val pairs = l
        .join(broadcast(p.select(col("p_partkey").as("__pp"))),
          col("l_partkey") === col("__pp"))
        .join(broadcast(su.select(col("s_suppkey").as("__ss"))),
          col("l_suppkey") === col("__ss"))
        .select(col("l_partkey"), col("l_suppkey")).distinct()
      val j = pairs
        .join(broadcast(p), col("l_partkey") === col("p_partkey"))
        .join(broadcast(su), col("l_suppkey") === col("s_suppkey"))
        .select(col("s_acctbal"), col("s_name"), col("n_name"),
          col("p_partkey"), col("p_name"))
      val byPart = org.apache.spark.sql.expressions.Window
        .partitionBy(col("p_partkey"))
      j.withColumn("__minbal", min(col("s_acctbal")).over(byPart))
        .filter(col("s_acctbal") === col("__minbal"))
        .select(col("s_acctbal"), col("s_name"), col("n_name"),
          col("p_partkey"), col("p_name"))
        .orderBy(col("s_acctbal").desc, col("n_name"), col("s_name"),
          col("p_partkey"))
        .limit(100)
    }),

    // TPC-H q4 (order priority checking). Adapted: the late-delivery
    // EXISTS (l_commitdate < l_receiptdate) becomes EXISTS a returned
    // line (l_returnflag = 'R') — same semi-join + priority rollup.
    // Two-step semi: the direct orders-semi-lineitem sort-merge sorted
    // the 150 M-row R-line side for a build it can never host (left-semi
    // hash-builds the RIGHT side, and flipping sides flips the
    // semantics), spilling 4.3 GB at sf100 under every partition count.
    // Step 1 semi-filters the R-lines by the 3-month order keys — the
    // SMALL side is now on the right, so SHUFFLE_HASH builds ~5 M keys
    // and streams the 150 M lines unsorted. Step 2 dedupes the ~5 M
    // surviving line keys (partial-agg shrinks them map-side) and
    // hash-builds THEM for the final orders semi. Same rows out; the
    // only big-side cost left is one unsorted shuffle.
    "q_tpch_q4" -> ((s, dir) => {
      val o = Tables.load(s, dir, "orders")
        .filter(col("o_orderdate") >= lit("1996-01-01") &&
          col("o_orderdate") < lit("1996-04-01"))
      val ret = Tables.load(s, dir, "lineitem")
        .filter(col("l_returnflag") === "R").select(col("l_orderkey"))
      val oKeys = o.select(col("o_orderkey").as("__ok"))
      val hitKeys = ret.join(Tables.shuffleHash(oKeys),
          col("l_orderkey") === col("__ok"), "left_semi")
        .distinct()
      o.join(Tables.shuffleHash(hitKeys),
          o("o_orderkey") === hitKeys("l_orderkey"), "left_semi")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("order_count"))
    }),

    // TPC-H q9 (product-type profit). Adapted: ps_supplycost stand-in =
    // 10% of p_retailprice; the color filter rides p_name's leading
    // color word. Profit stays exact: rev is 1e-4 units and the cost
    // term qty·(retail·0.1) is qty·cents(retail)·10 in the same units.
    "q_tpch_q9" -> ((s, dir) => {
      val p = Tables.load(s, dir, "part")
        .filter(col("p_name").like("red%"))
      val l = Tables.load(s, dir, "lineitem")
      val o = Tables.load(s, dir, "orders")
      val su = Tables.load(s, dir, "supplier")
      val n = Tables.load(s, dir, "nation")
      val profitScaled =
        revScaled - lit(10L) * qtyL * c2(col("p_retailprice"))
      // SHUFFLE_HASH on the supplier/orders sides: sort-merge would
      // sort the color-pruned fact stream (measured 4.8× per-row at
      // sf10 from that sort's spill); hash-building the bounded sides
      // per partition leaves the fact rows unsorted
      l.join(broadcast(p), l("l_partkey") === p("p_partkey"))
        .join(Tables.shuffleHash(su), l("l_suppkey") === su("s_suppkey"))
        .join(Tables.shuffleHash(o), l("l_orderkey") === o("o_orderkey"))
        .join(broadcast(n), su("s_nationkey") === n("n_nationkey"))
        .groupBy(n("n_name").as("nation"),
          year(o("o_orderdate")).as("o_year"))
        .agg((sum(dec(profitScaled)).cast(DoubleType) / lit(10000.0))
          .as("sum_profit"))
    }),

    // TPC-H q11 (important stock). Adapted: part value = revenue shipped
    // by NATION_1 suppliers (no partsupp); the HAVING > fraction-of-
    // global predicate is the q11 scalar-subquery shape as a broadcast
    // 1-row join. TPC-H divides its fraction by SF so the predicate
    // stays selective as part count grows; the scale-invariant
    // equivalent is "over 2x the average part value" — v·nparts >
    // 2·total, compared in exact scaled integers on both sides.
    "q_tpch_q11" -> ((s, dir) => {
      val n1 = Tables.load(s, dir, "nation")
        .filter(col("n_name") === "NATION_1")
      val su = Tables.load(s, dir, "supplier")
        .join(broadcast(n1), col("s_nationkey") === col("n_nationkey"))
      val per = Tables.load(s, dir, "lineitem")
        .join(broadcast(su), col("l_suppkey") === col("s_suppkey"))
        .groupBy(col("l_partkey"))
        .agg(sum(dec(revScaled)).as("__v"))
      val tot = per.agg(sum(col("__v")).as("__t"),
        count(lit(1)).as("__n"))
      per.crossJoin(broadcast(tot))
        .filter(col("__v") * col("__n") > col("__t") * 2)
        .select(col("l_partkey"),
          (col("__v").cast(DoubleType) / lit(10000.0)).as("part_value"))
    }),

    // TPC-H q12 (shipping-mode priority). Adapted: l_shipmode stand-in =
    // l_linestatus; the commit/receipt lateness predicate drops (no such
    // columns) — the join + dual conditional-count rollup is the shape.
    // SHUFFLE_HASH on the year-filtered lineitem side (the smaller,
    // ~1/7 of lines): sort-merge sorted BOTH the 86 M-row filtered
    // lines AND the 150 M-row orders at sf100, spilling 15 GB at 32
    // partitions — hash-building the bounded side leaves the orders
    // stream unsorted (the q9 recipe; build fits per-partition under
    // the house partition-sizing rule).
    "q_tpch_q12" -> ((s, dir) => {
      val o = Tables.load(s, dir, "orders")
      val l = Tables.load(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1996-01-01") &&
          col("l_shipdate") < lit("1997-01-01"))
      val high = col("o_orderpriority").isin("1-URGENT", "2-HIGH")
      Tables.shuffleHash(l).join(o, l("l_orderkey") === o("o_orderkey"))
        .groupBy(col("l_linestatus").as("ship_class"))
        .agg(sum(when(high, 1L).otherwise(0L)).as("high_line_count"),
          sum(when(!high, 1L).otherwise(0L)).as("low_line_count"))
    }),

    // TPC-H q14 (promotion effect): ratio of two exact DECIMAL revenue
    // sums, composed identically on both engines (100.0·a/b).
    "q_tpch_q14" -> ((s, dir) => {
      val p = Tables.load(s, dir, "part")
      Tables.load(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1996-03-01") &&
          col("l_shipdate") < lit("1996-04-01"))
        .join(broadcast(p), col("l_partkey") === col("p_partkey"))
        .agg(((lit(100.0) *
          sum(when(col("p_type") === "PROMO", dec(revScaled)))
            .cast(DoubleType)) /
          sum(dec(revScaled)).cast(DoubleType)).as("promo_revenue"))
    }),

    // TPC-H q15 (top supplier): the CREATE VIEW revenue0 + MAX scalar
    // becomes a partial agg reused for both the per-supplier rows and
    // the broadcast 1-row max, joined on exact DECIMAL equality.
    "q_tpch_q15" -> ((s, dir) => {
      val rev = Tables.load(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1996-01-01") &&
          col("l_shipdate") < lit("1996-04-01"))
        .groupBy(col("l_suppkey"))
        .agg(sum(dec(revScaled)).as("__r"))
      val maxR = rev.agg(max(col("__r")).as("__m"))
      rev.crossJoin(broadcast(maxR))
        .filter(col("__r") === col("__m"))
        .join(Tables.load(s, dir, "supplier"),
          col("l_suppkey") === col("s_suppkey"))
        .select(col("s_suppkey"), col("s_name"),
          (col("__r").cast(DoubleType) / lit(10000.0))
            .as("total_revenue"))
        .orderBy(col("s_suppkey"))
    }),

    // TPC-H q16 (parts/supplier relationship). Adapted: partsupp
    // stand-in = DISTINCT lineitem pairs; the "customer complaints"
    // supplier exclusion becomes s_acctbal < 0, as a broadcast
    // anti-join. COUNT(DISTINCT supplier) groups on the part attrs.
    // Both broadcast prunes run BELOW the wide distinct: joining the
    // filtered part dim and anti-joining the bad suppliers against raw
    // lineitem first cuts ~5/6 of the rows before the distinct's
    // shuffle — the distinct-then-join order spilled 9.45 GB on the 8 g
    // sf10 leg because the suite's widest distinct ran at full width.
    // Distinctness over (pair, part attrs) equals distinctness over the
    // pair: the part attributes are functionally dependent on p_partkey.
    "q_tpch_q16" -> ((s, dir) => {
      val bad = Tables.load(s, dir, "supplier")
        .filter(col("s_acctbal") < 0).select(col("s_suppkey"))
      val p = Tables.load(s, dir, "part")
        .filter(col("p_brand") =!= "Brand#1" &&
          col("p_type") =!= "LARGE" &&
          col("p_size").isin(1, 4, 7, 10, 13, 16, 19, 23))
      val l = Tables.load(s, dir, "lineitem")
      l.join(broadcast(p), l("l_partkey") === p("p_partkey"))
        .join(broadcast(bad), l("l_suppkey") === bad("s_suppkey"),
          "left_anti")
        .select(col("l_partkey"), col("l_suppkey"),
          col("p_brand"), col("p_type"), col("p_size"))
        .distinct()
        .groupBy(col("p_brand"), col("p_type"), col("p_size"))
        .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
    }),

    // TPC-H q17 (small-quantity-order revenue): the correlated
    // 0.2·AVG(l_quantity) predicate is integer-exact — qty is integral,
    // so qty < 0.2·(sum/cnt) ⟺ 5·qty·cnt < sum in pure BIGINT (the
    // q_quantiles_exact position discipline applied to a threshold);
    // avg_yearly = exact cents / 700.0 composed identically both sides.
    "q_tpch_q17" -> ((s, dir) => {
      val l = Tables.load(s, dir, "lineitem")
      val p = Tables.load(s, dir, "part")
        .filter(col("p_brand") === "Brand#2" && col("p_type") === "SMALL")
      val lp = l.join(broadcast(p), l("l_partkey") === p("p_partkey"))
      val per = lp.groupBy(col("l_partkey").as("__pk"))
        .agg(sum(qtyL).as("__sq"), count(lit(1)).as("__cnt"))
      lp.join(broadcast(per), col("l_partkey") === col("__pk"))
        .filter(lit(5L) * qtyL * col("__cnt") < col("__sq"))
        .agg((sum(dec(c2(col("l_extendedprice")))).cast(DoubleType) /
          lit(700.0)).as("avg_yearly"))
    }),

    // TPC-H q19 (discounted revenue): the three-way disjunctive
    // brand/size/quantity predicate — Catalyst pushes the common
    // part-join and evaluates the OR post-join, one broadcast.
    "q_tpch_q19" -> ((s, dir) => {
      val p = Tables.load(s, dir, "part")
      val l = Tables.load(s, dir, "lineitem")
      val qty = col("l_quantity")
      val cond =
        (col("p_brand") === "Brand#12" && col("p_size").between(1, 5) &&
          qty >= 1 && qty <= 11) ||
        (col("p_brand") === "Brand#23" && col("p_size").between(1, 10) &&
          qty >= 10 && qty <= 20) ||
        (col("p_brand") === "Brand#3" && col("p_size").between(1, 15) &&
          qty >= 20 && qty <= 30)
      l.join(broadcast(p), l("l_partkey") === p("p_partkey"))
        .filter(cond)
        .agg(sumRevenue.as("revenue"))
    }),

    // TPC-H q20 (potential part promotion). Adapted: the partsupp
    // availqty > half-year-demand clause becomes "shipped more than 80
    // units of red parts in 1996"; the nation filter widens to region
    // EUROPE (the 25-nation dim leaves ~4 suppliers per nation at small
    // SF). Shape preserved: nested part filter → per-supplier demand
    // agg → semi-join into the supplier dim.
    "q_tpch_q20" -> ((s, dir) => {
      val redParts = Tables.load(s, dir, "part")
        .filter(col("p_name").like("red%")).select(col("p_partkey"))
      val qual = Tables.load(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1996-01-01") &&
          col("l_shipdate") < lit("1997-01-01"))
        .join(broadcast(redParts), col("l_partkey") === col("p_partkey"))
        .groupBy(col("l_suppkey"))
        .agg(sum(qtyL).as("__q"))
        .filter(col("__q") > 80L)
        .select(col("l_suppkey"))
      val su = Tables.load(s, dir, "supplier")
        .join(broadcast(Tables.load(s, dir, "nation")),
          col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(Tables.load(s, dir, "region")
          .filter(col("r_name") === "EUROPE")),
          col("n_regionkey") === col("r_regionkey"))
      su.join(qual, col("s_suppkey") === col("l_suppkey"), "left_semi")
        .select(col("s_name"), col("s_acctbal"))
        .orderBy(col("s_name"))
    }),

    // TPC-H q21 (suppliers who kept orders waiting). Adapted: "late"
    // stand-in = a returned line (l_returnflag = 'R'); the EXISTS /
    // NOT EXISTS pair over other suppliers' lines becomes the
    // equivalent per-order distinct-supplier counts (total > 1, late
    // = 1 ⇒ this supplier is the sole blocker) — one aggregate pass
    // over lineitem instead of two correlated self-join probes, the
    // scale-correct formulation of the same predicate. Nation filter
    // widened to region ASIA (as q20).
    // Two-stage plain-aggregate shape: a per-(order, supplier) late
    // flag first (map-side-combined max — the fact stream shrinks to
    // distinct pairs before any wide shuffle), then per-order counts
    // over the pair relation, where count(*) IS countDistinct(supplier)
    // and sum(late) IS countDistinct(late supplier); with __nl = 1 the
    // blocker is recovered as max(when(late, suppkey)) in the same
    // pass. No Expand anywhere: the earlier formulations either re-read
    // the semi-joined lineitem twice (4.02 GB spill on the 8 g sf10
    // leg) or fed 60 M rows through a ×3 distinct-aggregate Expand
    // (14.1 GB) — partial aggregation is the only shape whose shuffle
    // width is the DISTINCT pair count, not the fact row count.
    "q_tpch_q21" -> ((s, dir) => {
      val fOrders = Tables.load(s, dir, "orders")
        .filter(col("o_orderstatus") === "F").select(col("o_orderkey"))
      val l = Tables.load(s, dir, "lineitem")
        .join(fOrders, col("l_orderkey") === col("o_orderkey"), "left_semi")
      val perPair = l.groupBy(col("l_orderkey"), col("l_suppkey"))
        .agg(max(when(col("l_returnflag") === "R", 1).otherwise(0))
          .as("__late"))
      val blockers = perPair.groupBy(col("l_orderkey").as("__ok"))
        .agg(count(lit(1)).as("__ns"),
          sum(col("__late")).as("__nl"),
          max(when(col("__late") === 1, col("l_suppkey")))
            .as("l_suppkey"))
        .filter(col("__ns") > 1 && col("__nl") === 1)
      val su = Tables.load(s, dir, "supplier")
        .join(broadcast(Tables.load(s, dir, "nation")),
          col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(Tables.load(s, dir, "region")
          .filter(col("r_name") === "ASIA")),
          col("n_regionkey") === col("r_regionkey"))
      blockers.join(su, col("l_suppkey") === col("s_suppkey"))
        .groupBy(col("s_name"))
        .agg(count(lit(1)).as("numwait"))
        .orderBy(col("numwait").desc, col("s_name"))
        .limit(100)
    }),

    // TPC-H q22 (global sales opportunity). Adapted: the phone-prefix
    // country buckets become a market-segment set (no c_phone). The
    // above-average predicate is integer-exact: cents(bal)·cnt >
    // sum_cents in BIGINT/DECIMAL on both engines; the positive-balance
    // average comes from one broadcast 1-row aggregate.
    "q_tpch_q22" -> ((s, dir) => {
      val segs = Seq("BUILDING", "AUTOMOBILE", "MACHINERY")
      val c = Tables.load(s, dir, "customer")
        .filter(col("c_mktsegment").isin(segs: _*))
      // filter on the same rounded cents the oracle uses (bal_c > 0) so
      // a balance in (0, 0.005) can't split the engines by construction
      val avgAgg = c.filter(c2(col("c_acctbal")) > 0)
        .agg(sum(dec(c2(col("c_acctbal")))).as("__sum"),
          count(lit(1)).as("__cnt"))
      // "no orders in the last N years" (every customer has SOME order
      // in this generator, so the literal no-orders-ever probe is empty)
      val noOrders = c.join(Tables.load(s, dir, "orders")
          .filter(col("o_orderdate") >= lit("1999-01-01")),
        col("c_custkey") === col("o_custkey"), "left_anti")
      noOrders.crossJoin(broadcast(avgAgg))
        .filter(dec(c2(col("c_acctbal"))) * col("__cnt") > col("__sum"))
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("numcust"),
          (sum(dec(c2(col("c_acctbal")))).cast(DoubleType) / lit(100.0))
            .as("totacctbal"))
    })
  )

  val oracle: Map[String, String] = Map(
    "q_tpch_q2" ->
      """WITH ps AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem),
        |j AS (
        |  SELECT s_acctbal, s_name, n_name, p_partkey, p_name
        |  FROM part
        |  JOIN ps ON p_partkey = l_partkey
        |  JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN nation ON s_nationkey = n_nationkey
        |  JOIN region ON n_regionkey = r_regionkey
        |  WHERE p_size <= 15 AND p_type = 'LARGE' AND r_name = 'EUROPE')
        |SELECT j.s_acctbal, j.s_name, j.n_name, j.p_partkey, j.p_name
        |FROM j
        |JOIN (SELECT p_partkey AS pk, min(s_acctbal) AS mb
        |      FROM j GROUP BY 1) m
        |  ON j.p_partkey = m.pk AND j.s_acctbal = m.mb
        |ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
        |LIMIT 100""".stripMargin,

    "q_tpch_q4" ->
      """SELECT o_orderpriority, count(*) AS order_count
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate < TIMESTAMP '1996-04-01'
        |  AND EXISTS (SELECT 1 FROM lineitem
        |    WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
        |GROUP BY o_orderpriority""".stripMargin,

    "q_tpch_q9" ->
      s"""SELECT n_name AS nation, CAST(year(o_orderdate) AS INT) AS o_year,
        |  CAST(SUM(CAST(
        |    (CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT)
        |      * (100 - CAST(floor(l_discount * 100.0 + 0.5) AS BIGINT))
        |     - 10 * CAST(floor(l_quantity + 0.5) AS BIGINT)
        |       * CAST(floor(p_retailprice * 100.0 + 0.5) AS BIGINT))
        |    AS DECIMAL(28,0))) AS DOUBLE) / 10000.0 AS sum_profit
        |FROM lineitem
        |JOIN part ON l_partkey = p_partkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN nation ON s_nationkey = n_nationkey
        |WHERE p_name LIKE 'red%'
        |GROUP BY n_name, year(o_orderdate)""".stripMargin,

    "q_tpch_q11" ->
      s"""WITH j AS (
        |  SELECT l_partkey, $revSql AS v
        |  FROM lineitem
        |  JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN nation ON s_nationkey = n_nationkey
        |  WHERE n_name = 'NATION_1'),
        |per AS (SELECT l_partkey, SUM(v) AS sv FROM j GROUP BY 1),
        |tot AS (SELECT SUM(sv) AS t, count(*) AS n FROM per)
        |SELECT l_partkey, CAST(sv AS DOUBLE) / 10000.0 AS part_value
        |FROM per, tot
        |WHERE sv * n > t * 2""".stripMargin,

    "q_tpch_q12" ->
      """SELECT l_linestatus AS ship_class,
        |  CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
        |      THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
        |  CAST(SUM(CASE WHEN NOT (o_orderpriority IN ('1-URGENT','2-HIGH'))
        |      THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
        |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |  AND l_shipdate < TIMESTAMP '1997-01-01'
        |GROUP BY l_linestatus""".stripMargin,

    "q_tpch_q14" ->
      s"""SELECT (100.0 * CAST(SUM(CASE WHEN p_type = 'PROMO'
        |    THEN $revSql END) AS DOUBLE))
        |  / CAST(SUM($revSql) AS DOUBLE) AS promo_revenue
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE l_shipdate >= TIMESTAMP '1996-03-01'
        |  AND l_shipdate < TIMESTAMP '1996-04-01'""".stripMargin,

    "q_tpch_q15" ->
      s"""WITH rev AS (
        |  SELECT l_suppkey, SUM($revSql) AS r
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |    AND l_shipdate < TIMESTAMP '1996-04-01'
        |  GROUP BY l_suppkey)
        |SELECT s_suppkey, s_name,
        |  CAST(r AS DOUBLE) / 10000.0 AS total_revenue
        |FROM rev JOIN supplier ON l_suppkey = s_suppkey
        |WHERE r = (SELECT max(r) FROM rev)
        |ORDER BY s_suppkey""".stripMargin,

    "q_tpch_q16" ->
      """SELECT p_brand, p_type, p_size,
        |  count(DISTINCT l_suppkey) AS supplier_cnt
        |FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) ps
        |JOIN part ON p_partkey = l_partkey
        |WHERE p_brand <> 'Brand#1' AND p_type <> 'LARGE'
        |  AND p_size IN (1,4,7,10,13,16,19,23)
        |  AND l_suppkey NOT IN
        |    (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
        |GROUP BY p_brand, p_type, p_size""".stripMargin,

    "q_tpch_q17" ->
      """WITH lp AS (
        |  SELECT l_partkey, CAST(floor(l_quantity + 0.5) AS BIGINT) AS q,
        |    CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT) AS ec
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  WHERE p_brand = 'Brand#2' AND p_type = 'SMALL'),
        |per AS (SELECT l_partkey AS pk, SUM(q) AS sq, count(*) AS cnt
        |        FROM lp GROUP BY 1)
        |SELECT CAST(SUM(CAST(ec AS DECIMAL(28,0))) AS DOUBLE) / 700.0
        |  AS avg_yearly
        |FROM lp JOIN per ON l_partkey = pk
        |WHERE 5 * q * cnt < sq""".stripMargin,

    "q_tpch_q19" ->
      s"""SELECT CAST(SUM($revSql) AS DOUBLE) / 10000.0 AS revenue
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5
        |    AND l_quantity >= 1 AND l_quantity <= 11)
        |  OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10
        |    AND l_quantity >= 10 AND l_quantity <= 20)
        |  OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 15
        |    AND l_quantity >= 20 AND l_quantity <= 30)""".stripMargin,

    "q_tpch_q20" ->
      """SELECT s_name, s_acctbal
        |FROM supplier
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'EUROPE'
        |  AND s_suppkey IN (
        |    SELECT l_suppkey FROM lineitem
        |    JOIN part ON l_partkey = p_partkey
        |    WHERE p_name LIKE 'red%'
        |      AND l_shipdate >= TIMESTAMP '1996-01-01'
        |      AND l_shipdate < TIMESTAMP '1997-01-01'
        |    GROUP BY l_suppkey
        |    HAVING SUM(CAST(floor(l_quantity + 0.5) AS BIGINT)) > 80)
        |ORDER BY s_name""".stripMargin,

    "q_tpch_q21" ->
      """WITH l AS (
        |  SELECT l_orderkey, l_suppkey, l_returnflag FROM lineitem
        |  WHERE l_orderkey IN
        |    (SELECT o_orderkey FROM orders WHERE o_orderstatus = 'F')),
        |per_order AS (
        |  SELECT l_orderkey AS ok, count(DISTINCT l_suppkey) AS ns,
        |    count(DISTINCT CASE WHEN l_returnflag = 'R'
        |      THEN l_suppkey END) AS nl
        |  FROM l GROUP BY 1),
        |blockers AS (
        |  SELECT DISTINCT l_orderkey, l_suppkey FROM l
        |  WHERE l_returnflag = 'R')
        |SELECT s_name, count(*) AS numwait
        |FROM blockers
        |JOIN per_order ON l_orderkey = ok AND ns > 1 AND nl = 1
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |GROUP BY s_name
        |ORDER BY numwait DESC, s_name
        |LIMIT 100""".stripMargin,

    "q_tpch_q22" ->
      """WITH c AS (
        |  SELECT c_custkey, c_mktsegment,
        |    CAST(floor(c_acctbal * 100.0 + 0.5) AS BIGINT) AS bal_c
        |  FROM customer
        |  WHERE c_mktsegment IN ('BUILDING','AUTOMOBILE','MACHINERY')),
        |a AS (SELECT SUM(CAST(bal_c AS DECIMAL(28,0))) AS s,
        |        count(*) AS cnt
        |      FROM c WHERE bal_c > 0)
        |SELECT c_mktsegment, count(*) AS numcust,
        |  CAST(SUM(CAST(bal_c AS DECIMAL(28,0))) AS DOUBLE) / 100.0
        |    AS totacctbal
        |FROM c, a
        |WHERE CAST(bal_c AS DECIMAL(28,0)) * cnt > s
        |  AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
        |    AND o_orderdate >= TIMESTAMP '1999-01-01')
        |GROUP BY c_mktsegment""".stripMargin
  )
}
