package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Tables
import graft.functions.{Dialect, Registry}
import graft.functions.Dialect.{arrayConstruct, dateaddSf, datediffSf, iff,
  listaggSorted, md5ScdId, objectConstruct, parseJsonText, regexpSubstr,
  toVariant, tryToBoolean, tryToDate, tryToDouble, tryToNumber,
  tryToVarchar, variantPath}
import graft.transpile.SnowflakeSql

/** The SURVEY.md §2.8 dialect-function surface, oracle-checked per
  * function family, plus the Snowflake SQL-text front-end
  * ([[graft.transpile.SnowflakeSql]]) driven through queries whose
  * oracles are plain DuckDB SQL.
  */
object FunctionQueries {
  type Q = (SparkSession, String) => DataFrame

  /** Snowflake text over the views of the tables it names. */
  private def sfSql(s: SparkSession, dir: String, sql: String): DataFrame = {
    Tables.registerFor(s, dir, sql)
    SnowflakeSql.run(s, sql)
  }

  val defs: Map[String, Q] = Map(
    // IFF / NVL / NVL2 / ZEROIFNULL / NULLIFZERO (transpiler.py:181-324)
    "q_fn_null_family" -> ((s, dir) => {
      Tables.load(s, dir, "customer")
        .select(
          col("c_custkey"),
          iff(col("c_acctbal") > 0, lit("pos"), lit("nonpos")).as("sign"),
          Dialect.nvl(nullif(col("c_mktsegment"), lit("BUILDING")),
            lit("N/A")).as("seg_nvl"),
          Dialect.nvl2(nullif(col("c_mktsegment"), lit("BUILDING")),
            lit("kept"), lit("was_building")).as("seg_nvl2"),
          Dialect.zeroifnull(nullif(col("c_nationkey"), lit(7))).as("nat_z"),
          Dialect.nullifzero(col("c_nationkey")).as("nat_nz"))
    }),

    // TRY_TO_* lattice (transpiler.py:235-267)
    "q_fn_trycast" -> ((s, dir) => {
      Tables.load(s, dir, "part")
        .select(
          col("p_partkey"),
          tryToNumber(col("p_brand")).cast(DoubleType).as("bad_num"),
          tryToNumber(regexp_extract(col("p_brand"), "\\d+", 0))
            .cast(DoubleType).as("brand_num"),
          tryToDouble(col("p_size").cast(StringType)).as("size_dbl"),
          tryToDate(lit("2024-03-15")).as("good_date"),
          tryToDate(col("p_type")).as("bad_date"),
          tryToBoolean(when(col("p_size") % 2 === 0, lit("true"))
            .otherwise(lit("false"))).as("even_flag"),
          tryToVarchar(col("p_retailprice").cast(DecimalType(12, 2)))
            .as("price_str"))
    }),

    // OBJECT_CONSTRUCT + path access (transpiler.py:269-280; the col:path
    // gap of auto_router.py:358-364 closed natively)
    "q_fn_object_json" -> ((s, dir) => {
      val o = Tables.load(s, dir, "orders")
        .select(col("o_orderkey"),
          objectConstruct(
            "key" -> col("o_orderkey"),
            "status" -> col("o_orderstatus"),
            "priority" -> col("o_orderpriority")).as("obj"))
      o.select(col("o_orderkey"), col("obj"),
        variantPath(col("obj"), "status").as("status_back"),
        get_json_object(col("obj"), "$.priority").as("prio_back"))
    }),

    // PARSE_JSON (as validation) + extraction over real JSON (events.props)
    "q_fn_parse_json" -> ((s, dir) => {
      Tables.load(s, dir, "events")
        .select(col("event_id"),
          parseJsonText(col("props")).as("valid_json"),
          get_json_object(col("props"), "$.k").cast(IntegerType).as("k"))
        .filter(col("k") > 80)
    }),

    // TO_VARIANT / CAST(x AS VARIANT) → JSON text (transpiler.py:304-313)
    "q_fn_variant" -> ((s, dir) => {
      Tables.load(s, dir, "nation")
        .select(col("n_nationkey"),
          toVariant(col("n_nationkey")).as("v_int"),
          toVariant(col("n_name")).as("v_str"),
          toVariant(array(col("n_nationkey"), col("n_regionkey"))).as("v_arr"),
          toVariant(struct(col("n_name").as("name"),
            col("n_regionkey").as("r"))).as("v_obj"))
    }),

    // VariantType-native TO_VARIANT twin: the same four forms built as
    // Spark 4 binary variants (parse_json) and rendered back to JSON
    // text at the boundary — variant objects canonicalize (sorted keys,
    // here already name < r), so the rendered text matches the
    // string-repr twin byte for byte and the same oracle applies.
    "q_fn_variant_native" -> ((s, dir) => {
      Tables.load(s, dir, "nation")
        .select(col("n_nationkey"),
          to_json(parse_json(toVariant(col("n_nationkey")))).as("v_int"),
          to_json(parse_json(toVariant(col("n_name")))).as("v_str"),
          to_json(parse_json(toVariant(
            array(col("n_nationkey"), col("n_regionkey"))))).as("v_arr"),
          to_json(parse_json(toVariant(struct(col("n_name").as("name"),
            col("n_regionkey").as("r"))))).as("v_obj"))
    }),

    // ARRAY_CONSTRUCT + FLATTEN→explode (transpiler.py:294-302, 326-364)
    "q_fn_flatten" -> ((s, dir) => {
      Tables.load(s, dir, "nation")
        .select(col("n_nationkey"),
          explode(arrayConstruct(col("n_nationkey"), col("n_regionkey"),
            col("n_nationkey") + col("n_regionkey"))).as("v"))
    }),

    // declared-safe strings (auto_router.py:144) + split_part
    "q_fn_strings" -> ((s, dir) => {
      Tables.load(s, dir, "customer")
        .select(col("c_custkey"),
          concat(lit("cust:"), lower(col("c_name"))).as("tagged"),
          substring(col("c_name"), 10, 9).as("id_part"),
          trim(upper(col("c_mktsegment"))).as("seg_up"),
          split_part(col("c_name"), lit("#"), lit(2)).as("num_part"),
          length(col("c_name")).as("name_len"))
    }),

    // declared-safe dates (auto_router.py:145) in Snowflake argument order
    "q_fn_dates" -> ((s, dir) => {
      Tables.load(s, dir, "orders")
        .select(col("o_orderkey"),
          dateaddSf("month", lit(3), col("o_orderdate")).as("plus3m"),
          dateaddSf("day", lit(-7), col("o_orderdate")).as("minus7d"),
          datediffSf("day", col("o_orderdate"),
            lit("2002-01-01").cast(TimestampType)).as("days_to_2002"),
          datediffSf("month", col("o_orderdate"),
            lit("2002-01-01").cast(TimestampType)).as("months_to_2002"),
          datediffSf("year", col("o_orderdate"),
            lit("2002-01-01").cast(TimestampType)).as("years_to_2002"),
          date_trunc("quarter", col("o_orderdate")).as("qtr"),
          extract(lit("year"), col("o_orderdate")).as("yr"))
    }),

    // declared-safe regex (auto_router.py:148) + REGEXP_SUBSTR null-on-miss
    "q_fn_regex" -> ((s, dir) => {
      Tables.load(s, dir, "part")
        .select(col("p_partkey"),
          regexp_replace(col("p_name"), "\\s+", "_").as("slug"),
          regexpSubstr(col("p_name"), "w\\w+").as("w_word"),
          regexp_like(col("p_type"), lit("^(ECONOMY|SMALL)$")).as("is_cheap"))
        .filter(regexp_like(col("p_name"), lit("(ring|bolt|gear)")))
    }),

    // MD5 + concat SCD id (snapshot.sql:99-107)
    "q_fn_md5" -> ((s, dir) => {
      Tables.load(s, dir, "customer")
        .select(col("c_custkey"),
          md5ScdId(col("c_acctbal").cast(DecimalType(12, 2)),
            col("c_custkey"), col("c_nationkey")).as("scd_id"))
    }),

    // LISTAGG (transpiler.py:187-197) with deterministic order
    "q_fn_listagg" -> ((s, dir) => {
      Tables.load(s, dir, "supplier")
        .groupBy(col("s_nationkey"))
        .agg(listaggSorted(col("s_name"), "|").as("suppliers"))
    }),

    // CONVERT_TIMEZONE (connections.py:596-607 fallback classifier case)
    "q_fn_convert_tz" -> ((s, dir) => {
      Tables.load(s, dir, "orders")
        .select(col("o_orderkey"),
          Dialect.convertTimezone("UTC", "America/New_York",
            col("o_orderdate").cast(TimestampNTZType)).as("ny_time"),
          Dialect.convertTimezone("UTC", "Asia/Tokyo",
            col("o_orderdate").cast(TimestampNTZType)).as("tokyo_time"))
    }),

    // HLL distinct (SURVEY §2.4). The sketch estimate is engine-specific,
    // so the oracle-checked contract is the tolerance bound: emit the
    // exact distinct counts plus booleans proving the HLL estimate landed
    // within ±10% of exact; DuckDB asserts TRUE. HLL is deterministic
    // given the data, so the hash check is stable.
    // Expand-free shape: two countDistincts + two HLLs in ONE agg force
    // a 4-way Expand of lineitem (every row quadrupled before the
    // shuffle). Instead each key gets a distinct-first two-level agg —
    // (flag, key) partial-dedup shuffle, then a tiny per-flag count +
    // HLL over the distinct values (HLL sketches are
    // duplicate-insensitive, so the estimate is bit-identical) — and
    // the two 3-row results broadcast-join on l_returnflag.
    "q_approx_distinct" -> ((s, dir) => {
      val li = Tables.load(s, dir, "lineitem")
      def distinctAgg(key: String, exact: String, approx: String) =
        li.select(col("l_returnflag"), col(key)).distinct()
          .groupBy(col("l_returnflag"))
          .agg(count(lit(1)).as(exact),
            approx_count_distinct(col(key)).as(approx))
      distinctAgg("l_partkey", "exact_parts", "ap")
        .join(broadcast(distinctAgg("l_suppkey", "exact_supps", "asup")),
          Seq("l_returnflag"))
        .select(col("l_returnflag"), col("exact_parts"), col("exact_supps"),
          (abs(col("ap") - col("exact_parts")) <=
            col("exact_parts") * 0.10).as("parts_ok"),
          (abs(col("asup") - col("exact_supps")) <=
            col("exact_supps") * 0.10).as("supps_ok"))
    }),

    // ----------------------------------------------------------------
    // Snowflake SQL text front-end (graft.transpile.SnowflakeSql)

    // QUALIFY with inline window fn → hoist + filter
    "q_sql_qualify" -> ((s, dir) => {
      sfSql(s, dir,
        """SELECT o_orderkey, o_custkey, o_totalprice
          |FROM orders
          |WHERE o_orderstatus = 'O'
          |QUALIFY ROW_NUMBER() OVER (PARTITION BY o_custkey
          |  ORDER BY o_totalprice DESC, o_orderkey) = 1""".stripMargin)
    }),

    // QUALIFY followed by ORDER BY / LIMIT — the filter applies first,
    // then the trailing clauses (a real user's most common QUALIFY shape)
    "q_sql_qualify_order" -> ((s, dir) => {
      sfSql(s, dir,
        """SELECT o_orderkey, o_custkey, o_totalprice
          |FROM orders
          |WHERE o_orderstatus = 'O'
          |QUALIFY ROW_NUMBER() OVER (PARTITION BY o_custkey
          |  ORDER BY o_totalprice DESC, o_orderkey) = 1
          |ORDER BY o_totalprice DESC, o_orderkey LIMIT 100""".stripMargin)
    }),

    // LATERAL FLATTEN(input => ...) → LATERAL VIEW POSEXPLODE
    "q_sql_flatten" -> ((s, dir) => {
      sfSql(s, dir,
        """SELECT n_nationkey, f.value AS v, f.index AS i
          |FROM nation, LATERAL FLATTEN(input =>
          |  array_construct(n_regionkey, n_nationkey * 2)) f""".stripMargin)
    }),

    // col:path::type semi-structured access (the reference's cloud-only gap)
    "q_sql_colon_path" -> ((s, dir) => {
      sfSql(s, dir,
        """SELECT event_id, props:k::int AS k_val
          |FROM events WHERE props:k::int BETWEEN 20 AND 40""".stripMargin)
    }),

    // VariantType-native twin (SURVEY §1.2's "upgradeable" note): the
    // SAME Snowflake text transpiled with `nativeVariant` — colon paths
    // compile to variant_get over Spark 4's binary VariantType (one
    // parse into a navigable value instead of re-scanning JSON text per
    // path); `SnowflakeSql.run` keeps the string-repr path because its
    // results are directly oracle-comparable. Values must match exactly.
    "q_sql_colon_path_native" -> ((s, dir) => {
      val sql = """SELECT event_id, props:k::int AS k_val
        |FROM events WHERE props:k::int BETWEEN 20 AND 40""".stripMargin
      Tables.registerFor(s, dir, sql)
      Registry.register(s)
      s.sql(SnowflakeSql.transpile(sql, nativeVariant = true))
    }),

    // VARIANT cast forms (CAST(x AS VARIANT), x::VARIANT, TO_VARIANT(x))
    "q_sql_variant_cast" -> ((s, dir) => {
      sfSql(s, dir,
        """SELECT r_regionkey, CAST(r_name AS VARIANT) AS v1,
          |  r_regionkey::VARIANT AS v2, TO_VARIANT(r_name) AS v3
          |FROM region""".stripMargin)
    }),

    // 3-arg TRY_TO_NUMBER/TRY_TO_DECIMAL(expr, precision, scale)
    // (transpiler.py:246-260 type_map surface)
    "q_sql_trynum_ps" -> ((s, dir) => {
      sfSql(s, dir,
        """SELECT o_orderkey,
          |  CAST(TRY_TO_NUMBER(REGEXP_SUBSTR(o_orderpriority, '[0-9]+'), 18, 3)
          |    AS DOUBLE) AS prio_num,
          |  CAST(TRY_TO_DECIMAL(o_orderstatus, 10, 2) AS DOUBLE) AS bad_dec
          |FROM orders WHERE o_orderstatus = 'P'""".stripMargin)
    }),

    // IFF / OBJECT_CONSTRUCT / TRY_TO_* / DATEADD via SQL names
    "q_sql_dialect_fns" -> ((s, dir) => {
      sfSql(s, dir,
        """SELECT o_orderkey,
          |  IFF(o_totalprice > 200000, 'big', 'small') AS size_tag,
          |  OBJECT_CONSTRUCT('id', o_orderkey, 'st', o_orderstatus) AS obj,
          |  CAST(TRY_TO_NUMBER(o_orderpriority) AS DOUBLE) AS bad_num,
          |  DATEADD(week, 2, o_orderdate) AS plus2w,
          |  DATEDIFF('month', o_orderdate, TIMESTAMP '2001-12-31') AS m_left
          |FROM orders WHERE o_orderstatus = 'F'""".stripMargin)
    })
  )

  val oracle: Map[String, String] = Map(
    "q_fn_null_family" ->
      """SELECT c_custkey,
        |  CASE WHEN c_acctbal > 0 THEN 'pos' ELSE 'nonpos' END AS sign,
        |  COALESCE(NULLIF(c_mktsegment, 'BUILDING'), 'N/A') AS seg_nvl,
        |  CASE WHEN NULLIF(c_mktsegment, 'BUILDING') IS NOT NULL
        |    THEN 'kept' ELSE 'was_building' END AS seg_nvl2,
        |  COALESCE(NULLIF(c_nationkey, 7), 0) AS nat_z,
        |  NULLIF(c_nationkey, 0) AS nat_nz
        |FROM customer""".stripMargin,

    "q_fn_trycast" ->
      """SELECT p_partkey,
        |  CAST(TRY_CAST(p_brand AS DECIMAL(38,0)) AS DOUBLE) AS bad_num,
        |  CAST(TRY_CAST(regexp_extract(p_brand, '\d+') AS DECIMAL(38,0))
        |    AS DOUBLE) AS brand_num,
        |  TRY_CAST(CAST(p_size AS VARCHAR) AS DOUBLE) AS size_dbl,
        |  TRY_CAST('2024-03-15' AS DATE) AS good_date,
        |  TRY_CAST(p_type AS DATE) AS bad_date,
        |  TRY_CAST(CASE WHEN p_size % 2 = 0 THEN 'true' ELSE 'false' END
        |    AS BOOLEAN) AS even_flag,
        |  CAST(CAST(p_retailprice AS DECIMAL(12,2)) AS VARCHAR) AS price_str
        |FROM part""".stripMargin,

    "q_fn_object_json" ->
      """WITH o AS (SELECT o_orderkey,
        |  to_json(struct_pack(key := o_orderkey, status := o_orderstatus,
        |    priority := o_orderpriority)) AS obj FROM orders)
        |SELECT o_orderkey, obj,
        |  json_extract_string(obj, '$.status') AS status_back,
        |  json_extract_string(obj, '$.priority') AS prio_back
        |FROM o""".stripMargin,

    "q_fn_parse_json" ->
      """SELECT event_id, props AS valid_json,
        |  CAST(json_extract_string(props, '$.k') AS INT) AS k
        |FROM events WHERE CAST(json_extract_string(props, '$.k') AS INT) > 80""".stripMargin,

    "q_fn_variant" ->
      """SELECT n_nationkey,
        |  to_json(n_nationkey) AS v_int,
        |  to_json(n_name) AS v_str,
        |  to_json([n_nationkey, n_regionkey]) AS v_arr,
        |  to_json(struct_pack(name := n_name, r := n_regionkey)) AS v_obj
        |FROM nation""".stripMargin,

    "q_fn_variant_native" ->
      """SELECT n_nationkey,
        |  to_json(n_nationkey) AS v_int,
        |  to_json(n_name) AS v_str,
        |  to_json([n_nationkey, n_regionkey]) AS v_arr,
        |  to_json(struct_pack(name := n_name, r := n_regionkey)) AS v_obj
        |FROM nation""".stripMargin,

    "q_fn_flatten" ->
      """SELECT n_nationkey, unnest([n_nationkey, n_regionkey,
        |  n_nationkey + n_regionkey]) AS v
        |FROM nation""".stripMargin,

    "q_fn_strings" ->
      """SELECT c_custkey,
        |  concat('cust:', lower(c_name)) AS tagged,
        |  substring(c_name, 10, 9) AS id_part,
        |  trim(upper(c_mktsegment)) AS seg_up,
        |  split_part(c_name, '#', 2) AS num_part,
        |  CAST(length(c_name) AS INT) AS name_len
        |FROM customer""".stripMargin,

    "q_fn_dates" ->
      """SELECT o_orderkey,
        |  o_orderdate + INTERVAL 3 MONTH AS plus3m,
        |  o_orderdate - INTERVAL 7 DAY AS minus7d,
        |  date_diff('day', o_orderdate, TIMESTAMP '2002-01-01') AS days_to_2002,
        |  CAST(date_diff('month', o_orderdate, TIMESTAMP '2002-01-01')
        |    AS INT) AS months_to_2002,
        |  CAST(date_diff('year', o_orderdate, TIMESTAMP '2002-01-01')
        |    AS INT) AS years_to_2002,
        |  CAST(date_trunc('quarter', o_orderdate) AS TIMESTAMP) AS qtr,
        |  CAST(extract(year FROM o_orderdate) AS INT) AS yr
        |FROM orders""".stripMargin,

    "q_fn_regex" ->
      """SELECT p_partkey,
        |  regexp_replace(p_name, '\s+', '_', 'g') AS slug,
        |  NULLIF(regexp_extract(p_name, 'w\w+'), '') AS w_word,
        |  regexp_matches(p_type, '^(ECONOMY|SMALL)$') AS is_cheap
        |FROM part WHERE regexp_matches(p_name, '(ring|bolt|gear)')""".stripMargin,

    "q_fn_md5" ->
      """SELECT c_custkey,
        |  md5(concat_ws('-', CAST(c_custkey AS VARCHAR),
        |    CAST(c_nationkey AS VARCHAR),
        |    CAST(CAST(c_acctbal AS DECIMAL(12,2)) AS VARCHAR))) AS scd_id
        |FROM customer""".stripMargin,

    "q_fn_listagg" ->
      """SELECT s_nationkey,
        |  string_agg(s_name, '|' ORDER BY s_name) AS suppliers
        |FROM supplier GROUP BY s_nationkey""".stripMargin,

    "q_fn_convert_tz" ->
      """SELECT o_orderkey,
        |  timezone('America/New_York', timezone('UTC', o_orderdate)) AS ny_time,
        |  timezone('Asia/Tokyo', timezone('UTC', o_orderdate)) AS tokyo_time
        |FROM orders""".stripMargin,

    "q_sql_qualify" ->
      """SELECT o_orderkey, o_custkey, o_totalprice
        |FROM orders WHERE o_orderstatus = 'O'
        |QUALIFY ROW_NUMBER() OVER (PARTITION BY o_custkey
        |  ORDER BY o_totalprice DESC, o_orderkey) = 1""".stripMargin,

    "q_sql_qualify_order" ->
      """SELECT o_orderkey, o_custkey, o_totalprice
        |FROM orders WHERE o_orderstatus = 'O'
        |QUALIFY ROW_NUMBER() OVER (PARTITION BY o_custkey
        |  ORDER BY o_totalprice DESC, o_orderkey) = 1
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 100""".stripMargin,

    "q_sql_flatten" ->
      """SELECT n_nationkey, l[gs] AS v, CAST(gs - 1 AS INT) AS i
        |FROM (SELECT n_nationkey, [n_regionkey, n_nationkey * 2] AS l
        |      FROM nation) t, generate_series(1, 2) g(gs)""".stripMargin,

    "q_sql_colon_path" ->
      """SELECT event_id, CAST(json_extract_string(props, '$.k') AS INT) AS k_val
        |FROM events
        |WHERE CAST(json_extract_string(props, '$.k') AS INT) BETWEEN 20 AND 40""".stripMargin,

    "q_sql_colon_path_native" ->
      """SELECT event_id, CAST(json_extract_string(props, '$.k') AS INT) AS k_val
        |FROM events
        |WHERE CAST(json_extract_string(props, '$.k') AS INT) BETWEEN 20 AND 40""".stripMargin,

    "q_sql_variant_cast" ->
      """SELECT r_regionkey, to_json(r_name) AS v1,
        |  to_json(r_regionkey) AS v2, to_json(r_name) AS v3
        |FROM region""".stripMargin,

    "q_approx_distinct" ->
      """SELECT l_returnflag,
        |  count(DISTINCT l_partkey) AS exact_parts,
        |  count(DISTINCT l_suppkey) AS exact_supps,
        |  TRUE AS parts_ok, TRUE AS supps_ok
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,

    "q_sql_trynum_ps" ->
      """SELECT o_orderkey,
        |  CAST(TRY_CAST(NULLIF(regexp_extract(o_orderpriority, '[0-9]+'), '')
        |    AS DECIMAL(18,3)) AS DOUBLE) AS prio_num,
        |  CAST(TRY_CAST(o_orderstatus AS DECIMAL(10,2)) AS DOUBLE) AS bad_dec
        |FROM orders WHERE o_orderstatus = 'P'""".stripMargin,

    "q_sql_dialect_fns" ->
      """SELECT o_orderkey,
        |  CASE WHEN o_totalprice > 200000 THEN 'big' ELSE 'small' END AS size_tag,
        |  to_json(struct_pack(id := o_orderkey, st := o_orderstatus)) AS obj,
        |  CAST(TRY_CAST(o_orderpriority AS DECIMAL(38,0)) AS DOUBLE) AS bad_num,
        |  o_orderdate + INTERVAL 14 DAY AS plus2w,
        |  CAST(date_diff('month', o_orderdate, TIMESTAMP '2001-12-31')
        |    AS INT) AS m_left
        |FROM orders WHERE o_orderstatus = 'F'""".stripMargin
  )
}
