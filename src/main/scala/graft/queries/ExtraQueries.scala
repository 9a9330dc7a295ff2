package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Tables

/** Coverage beyond the reference's emitted surface but inside its
  * declared-safe promise (SURVEY.md §2.4/§2.8): array algebra, exact
  * statistical aggregates (decimal-exact, engine-deterministic),
  * GROUPING SETS with grouping(), and date-spine generation.
  */
object ExtraQueries {
  type Q = (SparkSession, String) => DataFrame

  private def dec(c: org.apache.spark.sql.Column) =
    c.cast(DecimalType(28, 6))

  val defs: Map[String, Q] = Map(
    // array algebra — sorted on both engines (element order of
    // set-algebra results is engine-specific), then serialized to a
    // comma-joined string: array-typed result columns are unsortable in
    // the driver's pandas row canonicalization
    "q_fn_arrays" -> ((s, dir) => {
      val n = Tables.load(s, dir, "nation")
      def asStr(c: org.apache.spark.sql.Column) =
        array_join(c.cast(ArrayType(StringType)), ",")
      n.select(col("n_nationkey"),
        asStr(array_sort(array_union(
          array(col("n_nationkey"), col("n_regionkey")),
          array(col("n_regionkey"), col("n_regionkey") * 2)))).as("a_union"),
        asStr(array_sort(array_intersect(
          sequence(lit(0), col("n_nationkey")),
          sequence(col("n_regionkey"), lit(12))))).as("a_intersect"),
        asStr(array_sort(array_except(
          sequence(lit(0), col("n_regionkey") + 2),
          array(col("n_regionkey"))))).as("a_except"),
        array_contains(sequence(lit(0), lit(10)), col("n_nationkey"))
          .as("a_contains"),
        array_position(sequence(lit(0), lit(24)), col("n_nationkey"))
          .as("a_pos"),
        asStr(slice(sequence(lit(0), lit(24)), 3, 4)).as("a_slice"),
        size(sequence(lit(0), col("n_nationkey"))).as("a_size"))
    }),

    // exact statistical aggregates via decimal moments: stddev/var/corr
    // computed from exact sums so parallel partitioning cannot change
    // the result
    "q_fn_stats" -> ((s, dir) => {
      val li = Tables.load(s, dir, "lineitem")
      // Exact moments via FIXED-POINT long accumulation: l_quantity is
      // integral and l_discount a 2-dp decimal (TPC-H decimal(15,2)
      // semantics, asserted against the generator), so every moment sum
      // is exact 8-byte long arithmetic inside whole-stage codegen.
      // Decimal(28,6) accumulators (the general-decimal fallback, see
      // `dec`) are variable-length in the agg buffer and ~4× slower;
      // scaled longs carry the same engine-exactness to 1e12 rows
      // (s_qq ≈ 2.5e15 ≪ 2⁶³). floor(x·scale + 0.5), not round():
      // round tie-breaks differ across engines.
      val qi = floor(col("l_quantity") + 0.5).cast(LongType)
      val di = floor(col("l_discount") * 100 + 0.5).cast(LongType)
      val moments = li
        .select(col("l_returnflag"), qi.as("qi"), di.as("di"))
        .groupBy(col("l_returnflag"))
        .agg(
          count(lit(1)).as("n"),
          sum(col("qi")).as("sq_i"),
          sum(col("qi") * col("qi")).as("sqq_i"),
          sum(col("di")).as("sd_i"),
          sum(col("di") * col("di")).as("sdd_i"),
          sum(col("qi") * col("di")).as("sqd_i"))
      // exact median WITHOUT ObjectHashAggregate (Spark's `median`
      // buffers every value per group — 10 s under contention at sf0.1):
      // per-group value-count histogram (partial agg combines map-side,
      // so the shuffle carries |distinct values| rows, not |rows|), then
      // a cumulative-count window locates the middle one/two positions —
      // every operator stays codegen'd hash-agg/window.
      import org.apache.spark.sql.expressions.Window
      val vc = li.groupBy(col("l_returnflag"), col("l_quantity"))
        .agg(count(lit(1)).as("c"))
      val cum = vc
        .withColumn("hi", sum(col("c")).over(
          Window.partitionBy("l_returnflag").orderBy("l_quantity")))
        .withColumn("tot", sum(col("c")).over(
          Window.partitionBy("l_returnflag")))
        .withColumn("lo", col("hi") - col("c"))
      // middle positions (1-indexed): m1=(tot+1) div 2, m2=(tot+2) div 2
      // (equal when tot is odd); a histogram row covers position m iff
      // lo < m <= hi — at most two rows contribute, so the sum is
      // order-independent and engine-exact
      val m1 = expr("(tot + 1) div 2")
      val m2 = expr("(tot + 2) div 2")
      val covers = when(col("lo") < m1 && m1 <= col("hi"), 1).otherwise(0) +
        when(col("lo") < m2 && m2 <= col("hi"), 1).otherwise(0)
      val med = cum.groupBy(col("l_returnflag"))
        .agg((sum(col("l_quantity") * covers) / 2.0).as("median_qty"))
      val grouped = moments.join(broadcast(med), Seq("l_returnflag"))
      // un-scale the fixed-point sums once, in double — the same IEEE
      // expression tree as the oracle (e.g. s_d = sd_i / 100.0)
      val sQ = col("sq_i").cast(DoubleType)
      val sQQ = col("sqq_i").cast(DoubleType)
      val sD = col("sd_i").cast(DoubleType) / 100.0
      val sDD = col("sdd_i").cast(DoubleType) / 10000.0
      val sQD = col("sqd_i").cast(DoubleType) / 100.0
      grouped.select(col("l_returnflag"), col("n"), col("median_qty"),
        ((sQQ - sQ * sQ / col("n")) / (col("n") - 1)).as("var_qty"),
        sqrt((sQQ - sQ * sQ / col("n")) / (col("n") - 1)).as("stddev_qty"),
        ((col("n") * sQD - sQ * sD) /
          (sqrt(col("n") * sQQ - sQ * sQ) *
            sqrt(col("n") * sDD - sD * sD))).as("corr_q_d"))
    }),

    // GROUPING SETS + grouping() markers (SURVEY §2.4 heavy ops)
    "q_grouping_sets" -> ((s, dir) => {
      val sql =
        """SELECT o_orderstatus, o_orderpriority,
          |  grouping(o_orderstatus) AS g_status,
          |  grouping(o_orderpriority) AS g_prio,
          |  COUNT(*) AS n
          |FROM orders
          |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())""".stripMargin
      Tables.registerFor(s, dir, sql)
      s.sql(sql)
    }),

    // PIVOT: one column per status with decimal-exact sums
    "q_pivot" -> ((s, dir) => {
      Tables.load(s, dir, "orders")
        .groupBy(col("o_orderpriority"))
        .pivot("o_orderstatus", Seq("F", "O", "P"))
        .agg(sum(col("o_totalprice").cast(DecimalType(24, 2)))
          .cast(DoubleType))
    }),

    // UNPIVOT (melt): wide → long
    "q_unpivot" -> ((s, dir) => {
      Tables.load(s, dir, "part")
        .unpivot(Array(col("p_partkey")),
          Array(col("p_size").cast(DoubleType).as("p_size"),
            col("p_retailprice")),
          "attribute", "value")
    }),

    // extended declared-safe string surface
    "q_fn_strings2" -> ((s, dir) => {
      Tables.load(s, dir, "part")
        .select(col("p_partkey"),
          initcap(col("p_name")).as("title"),
          lpad(col("p_brand"), 12, "_").as("padded"),
          translate(col("p_type"), "AEIOU", "aeiou").as("xlated"),
          reverse(col("p_name")).as("rev"),
          repeat(lit("ab"), 3).as("rep"),
          substring(col("p_name"), 1, 3).as("left3"),
          locate("a", col("p_name")).as("pos_a"))
    }),

    // native codegen'd expression: min rolling hash fingerprint
    // (graft.functions.MinRollingHash — O(n) one-pass vs O(n·k)
    // window materialization)
    "t_fingerprint_rolling" -> ((s, dir) => {
      val norm = regexp_replace(lower(col("text")), "\\s+", " ")
      Tables.load(s, dir, "documents")
        .select(col("doc_id"),
          graft.functions.MinRollingHash.minRollingHash(norm, 8).as("fp"))
    }),

    // date spine (sequence + explode — the dbt date_spine util shape)
    // exact per-group quantiles in the SCALABLE shape: aggregate to
    // distinct (group, value) counts first (row volume bounded by the
    // value DOMAIN, not the corpus), then a cumulative count over the
    // small aggregated relation picks the first value whose running
    // count reaches ceil(p·n) — no per-group total order over raw rows,
    // so low-cardinality groups never serialize the corpus
    "q_quantiles_exact" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val li = Tables.load(s, dir, "lineitem")
      val agg = li.groupBy(col("l_returnflag"), col("l_extendedprice"))
        .agg(count(lit(1)).as("c"))
      val byFlag = Window.partitionBy(col("l_returnflag"))
      val v = agg
        .withColumn("cum", sum(col("c")).over(
          byFlag.orderBy(col("l_extendedprice"))
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .withColumn("n", sum(col("c")).over(byFlag))
      def pos(k: Int) = Exact.pctPos(k)
      v.groupBy(col("l_returnflag"))
        .agg(max(col("n")).as("n_rows"),
          min(when(col("cum") >= pos(50), col("l_extendedprice")))
            .as("p50"),
          min(when(col("cum") >= pos(90), col("l_extendedprice")))
            .as("p90"),
          min(when(col("cum") >= pos(99), col("l_extendedprice")))
            .as("p99"))
    }),

    "q_date_spine" -> ((s, dir) => {
      val o = Tables.load(s, dir, "orders")
        .groupBy(col("o_custkey"))
        .agg(min(col("o_orderdate")).as("first_order"),
          max(col("o_orderdate")).as("last_order"))
        .filter(col("o_custkey") < 50)
      o.select(col("o_custkey"),
        explode(sequence(date_trunc("month", col("first_order")),
          date_trunc("month", col("last_order")),
          expr("INTERVAL 1 MONTH"))).as("month_start"))
    })
  )

  val oracle: Map[String, String] = Map(
    "q_fn_arrays" ->
      """SELECT n_nationkey,
        |  array_to_string(list_sort(list_distinct(list_concat(
        |    [n_nationkey, n_regionkey],
        |    [n_regionkey, n_regionkey * 2]))), ',') AS a_union,
        |  array_to_string(list_sort(list_intersect(
        |    generate_series(0, n_nationkey),
        |    generate_series(n_regionkey, 12))), ',') AS a_intersect,
        |  array_to_string(list_sort(list_distinct(list_filter(
        |    generate_series(0, n_regionkey + 2),
        |    x -> x <> n_regionkey))), ',') AS a_except,
        |  list_contains(generate_series(0, 10), n_nationkey) AS a_contains,
        |  CAST(COALESCE(list_position(generate_series(0, 24), n_nationkey),
        |    0) AS BIGINT) AS a_pos,
        |  array_to_string(list_slice(generate_series(0, 24), 3, 6), ',')
        |    AS a_slice,
        |  CAST(len(generate_series(0, n_nationkey)) AS INT) AS a_size
        |FROM nation""".stripMargin,

    "q_fn_stats" ->
      """WITH fx AS (SELECT l_returnflag,
        |    CAST(floor(l_quantity + 0.5) AS BIGINT) AS qi,
        |    CAST(floor(l_discount * 100 + 0.5) AS BIGINT) AS di
        |  FROM lineitem),
        |m AS (
        |  SELECT l_returnflag, COUNT(*) AS n,
        |    SUM(qi) AS sq_i, SUM(qi * qi) AS sqq_i,
        |    SUM(di) AS sd_i, SUM(di * di) AS sdd_i,
        |    SUM(qi * di) AS sqd_i
        |  FROM fx GROUP BY l_returnflag),
        |vc AS (SELECT l_returnflag, l_quantity, COUNT(*) AS c
        |  FROM lineitem GROUP BY l_returnflag, l_quantity),
        |cum AS (SELECT l_returnflag, l_quantity, c,
        |  SUM(c) OVER (PARTITION BY l_returnflag ORDER BY l_quantity) AS hi,
        |  SUM(c) OVER (PARTITION BY l_returnflag) AS tot FROM vc),
        |med AS (SELECT l_returnflag,
        |  SUM(l_quantity *
        |    ((CASE WHEN hi - c < (tot + 1) // 2 AND (tot + 1) // 2 <= hi
        |      THEN 1 ELSE 0 END)
        |   + (CASE WHEN hi - c < (tot + 2) // 2 AND (tot + 2) // 2 <= hi
        |      THEN 1 ELSE 0 END))) / 2.0 AS median_qty
        |  FROM cum GROUP BY l_returnflag)
        |SELECT l_returnflag, n, median_qty,
        |  (CAST(sqq_i AS DOUBLE) - CAST(sq_i AS DOUBLE) * CAST(sq_i AS DOUBLE) / n)
        |    / (n - 1) AS var_qty,
        |  sqrt((CAST(sqq_i AS DOUBLE) - CAST(sq_i AS DOUBLE) * CAST(sq_i AS DOUBLE) / n)
        |    / (n - 1)) AS stddev_qty,
        |  (n * (CAST(sqd_i AS DOUBLE) / 100.0)
        |    - CAST(sq_i AS DOUBLE) * (CAST(sd_i AS DOUBLE) / 100.0)) /
        |    (sqrt(n * CAST(sqq_i AS DOUBLE) - CAST(sq_i AS DOUBLE) * CAST(sq_i AS DOUBLE)) *
        |     sqrt(n * (CAST(sdd_i AS DOUBLE) / 10000.0)
        |       - (CAST(sd_i AS DOUBLE) / 100.0) * (CAST(sd_i AS DOUBLE) / 100.0)))
        |    AS corr_q_d
        |FROM m JOIN med USING (l_returnflag)""".stripMargin,

    "q_grouping_sets" ->
      """SELECT o_orderstatus, o_orderpriority,
        |  CAST(grouping(o_orderstatus) AS TINYINT) AS g_status,
        |  CAST(grouping(o_orderpriority) AS TINYINT) AS g_prio,
        |  COUNT(*) AS n
        |FROM orders
        |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())""".stripMargin,

    "q_pivot" ->
      """SELECT o_orderpriority,
        |  CAST(SUM(CASE WHEN o_orderstatus = 'F'
        |    THEN CAST(o_totalprice AS DECIMAL(24,2)) END) AS DOUBLE) AS F,
        |  CAST(SUM(CASE WHEN o_orderstatus = 'O'
        |    THEN CAST(o_totalprice AS DECIMAL(24,2)) END) AS DOUBLE) AS O,
        |  CAST(SUM(CASE WHEN o_orderstatus = 'P'
        |    THEN CAST(o_totalprice AS DECIMAL(24,2)) END) AS DOUBLE) AS P
        |FROM orders GROUP BY o_orderpriority""".stripMargin,

    "q_unpivot" ->
      """SELECT p_partkey, 'p_size' AS attribute,
        |  CAST(p_size AS DOUBLE) AS value FROM part
        |UNION ALL
        |SELECT p_partkey, 'p_retailprice', p_retailprice FROM part""".stripMargin,

    "q_fn_strings2" ->
      """SELECT p_partkey,
        |  array_to_string(list_transform(string_split(p_name, ' '),
        |    w -> upper(substr(w, 1, 1)) || lower(substr(w, 2))), ' ')
        |    AS title,
        |  lpad(p_brand, 12, '_') AS padded,
        |  translate(p_type, 'AEIOU', 'aeiou') AS xlated,
        |  reverse(p_name) AS rev,
        |  repeat('ab', 3) AS rep,
        |  substring(p_name, 1, 3) AS left3,
        |  CAST(strpos(p_name, 'a') AS INT) AS pos_a
        |FROM part""".stripMargin,

    "t_fingerprint_rolling" ->
      """WITH n AS (SELECT doc_id,
        |  regexp_replace(lower(text), '\s+', ' ', 'g') AS norm
        |  FROM documents)
        |SELECT doc_id, CASE WHEN length(norm) >= 8 THEN
        |  list_aggregate(list_transform(generate_series(1, length(norm) - 7),
        |    i -> list_reduce(list_transform(string_split(substr(norm, i, 8), ''),
        |      c -> ord(c)::BIGINT), (a, b) -> (a * 257 + b) % 1000000007)),
        |    'min')
        |  ELSE NULL END AS fp
        |FROM n""".stripMargin,

    "q_quantiles_exact" ->
      """WITH agg AS (
        |  SELECT l_returnflag, l_extendedprice, count(*) AS c
        |  FROM lineitem GROUP BY l_returnflag, l_extendedprice),
        |v AS (
        |  SELECT l_returnflag, l_extendedprice, c,
        |    sum(c) OVER (PARTITION BY l_returnflag
        |      ORDER BY l_extendedprice
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |    sum(c) OVER (PARTITION BY l_returnflag) AS n
        |  FROM agg)
        |SELECT l_returnflag, CAST(max(n) AS BIGINT) AS n_rows,
        |  min(CASE WHEN cum >= (50 * n + 99) // 100
        |    THEN l_extendedprice END) AS p50,
        |  min(CASE WHEN cum >= (90 * n + 99) // 100
        |    THEN l_extendedprice END) AS p90,
        |  min(CASE WHEN cum >= (99 * n + 99) // 100
        |    THEN l_extendedprice END) AS p99
        |FROM v GROUP BY l_returnflag""".stripMargin,

    "q_date_spine" ->
      """WITH b AS (
        |  SELECT o_custkey, MIN(o_orderdate) AS first_order,
        |    MAX(o_orderdate) AS last_order
        |  FROM orders GROUP BY o_custkey HAVING o_custkey < 50)
        |SELECT o_custkey, CAST(unnest(generate_series(
        |  CAST(date_trunc('month', first_order) AS TIMESTAMP),
        |  CAST(date_trunc('month', last_order) AS TIMESTAMP),
        |  INTERVAL 1 MONTH)) AS TIMESTAMP) AS month_start
        |FROM b""".stripMargin
  )
}
