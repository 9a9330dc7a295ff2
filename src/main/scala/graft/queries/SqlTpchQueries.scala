package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.Tables
import graft.transpile.SnowflakeSql

/** TPC-H shapes driven through the Snowflake SQL TEXT front end
  * ([[graft.transpile.SnowflakeSql]]) rather than the DataFrame API —
  * the transpiler exercised at real plan depth (multi-join + GROUP BY +
  * windows + subqueries), not just the 39-case form corpus. Mirrors how
  * a reference user actually runs queries: dbt compiles Snowflake-
  * dialect SQL text and hands it to the engine (reference
  * `transpiler.py:54-79`, `tests/test_transpiler.py`).
  *
  * Each query mixes grammar- or function-level dialect (QUALIFY, IFF,
  * TRY_TO_NUMBER, unit-first DATEADD) into a TPC-H join/agg shape, and
  * each has a plain-ANSI DuckDB oracle. Money arithmetic follows the
  * house integer-cents discipline (see [[TpchQueries]]): window ORDER
  * BYs rank on the exact DECIMAL accumulator, never the divided double,
  * so no cross-engine double tie can flip a row at any scale.
  *
  * Scale notes (100 TB): the transpiler only rewrites TEXT — the plans
  * these produce are the same Catalyst plans as the DataFrame twins
  * (broadcast dims, partial aggs, pushed filters; asserted in
  * PlanAuditSpec's parity test). Both QUALIFY windows are PARTITIONED
  * (per order-date / per customer) — the graft QUALIFY rewrite must
  * never manufacture a global single-partition window.
  */
object SqlTpchQueries {
  type Q = (SparkSession, String) => DataFrame

  /** Exact integer-scaled revenue accumulator (1e-4 units), shared
    * verbatim by the Spark text and the DuckDB oracle — both engines
    * parse the same characters, so the sums are bit-equal. */
  private val revDec =
    """CAST((CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT)
      |    * (100 - CAST(floor(l_discount * 100.0 + 0.5) AS BIGINT)))
      |    AS DECIMAL(28,0))""".stripMargin

  private def run(sql: String): Q = (s, dir) => {
    Tables.registerFor(s, dir, sql)
    SnowflakeSql.run(s, sql)
  }

  val defs: Map[String, Q] = Map(
    // TPC-H Q1 pricing summary as Snowflake text: the date bound via
    // unit-first DATEADD (transpiled to graft_dateadd → TimestampAdd)
    // and a conditional count via IFF (Registry expression builder)
    "q_sql_tpch_q1" -> run(
      """SELECT l_returnflag, l_linestatus,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(24,6))) AS DOUBLE) AS sum_qty,
        |  CAST(SUM(IFF(l_discount > 0.05, 1, 0)) AS BIGINT) AS n_disc,
        |  COUNT(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= DATEADD(day, -90, TIMESTAMP '1998-12-01')
        |GROUP BY l_returnflag, l_linestatus""".stripMargin),

    // TPC-H Q3 shape with QUALIFY over the aggregate: top-revenue order
    // per order date. The window PARTITIONS on o_orderdate and ranks on
    // the exact DECIMAL revenue (ties impossible cross-engine).
    "q_sql_tpch_q3_qualify" -> run(
      s"""SELECT l_orderkey, o_orderdate,
         |  CAST(SUM($revDec) AS DOUBLE) / 10000.0 AS revenue
         |FROM customer
         |JOIN orders ON c_custkey = o_custkey
         |JOIN lineitem ON l_orderkey = o_orderkey
         |WHERE c_mktsegment = 'BUILDING'
         |  AND o_orderdate < TIMESTAMP '1998-01-01'
         |  AND l_shipdate > TIMESTAMP '1998-01-01'
         |GROUP BY l_orderkey, o_orderdate
         |QUALIFY ROW_NUMBER() OVER (PARTITION BY o_orderdate
         |  ORDER BY SUM($revDec) DESC, l_orderkey) = 1""".stripMargin),

    // TPC-H Q18 shape with QUALIFY: each customer's top-2 orders by
    // exact total quantity, order status labeled via IFF
    "q_sql_tpch_q18_qualify" -> run(
      """SELECT c_custkey, o_orderkey,
        |  IFF(o_orderstatus = 'F', 'final', 'open') AS status,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(24,6))) AS DOUBLE)
        |    AS total_qty
        |FROM customer
        |JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON l_orderkey = o_orderkey
        |GROUP BY c_custkey, o_orderkey, o_orderstatus
        |QUALIFY ROW_NUMBER() OVER (PARTITION BY c_custkey
        |  ORDER BY SUM(CAST(l_quantity AS DECIMAL(24,6))) DESC,
        |    o_orderkey) <= 2""".stripMargin),

    // TPC-H Q22 shape (above-average idle customers) with TRY_TO_NUMBER
    // deriving the country-code stand-in (no c_phone in this schema —
    // leading custkey digit). Scalar avg subquery uses the house exact
    // form (DECIMAL sum → one double division, identical text on both
    // engines); NOT EXISTS anti-joins orders.
    "q_sql_tpch_q22_try" -> run(
      """SELECT CAST(TRY_TO_NUMBER(
        |    SUBSTR(CAST(c_custkey AS VARCHAR), 1, 1)) AS BIGINT) AS cc,
        |  COUNT(*) AS numcust,
        |  CAST(SUM(CAST(c_acctbal AS DECIMAL(24,2))) AS DOUBLE)
        |    AS totacctbal
        |FROM customer
        |WHERE c_acctbal > (SELECT
        |    CAST(SUM(CAST(c_acctbal AS DECIMAL(24,2))) AS DOUBLE)
        |      / COUNT(*)
        |    FROM customer WHERE c_acctbal > 0.0)
        |  AND NOT EXISTS (SELECT 1 FROM orders
        |    WHERE o_custkey = c_custkey AND o_totalprice > 400000.0)
        |GROUP BY 1""".stripMargin)
  )

  val oracle: Map[String, String] = Map(
    "q_sql_tpch_q1" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(24,6))) AS DOUBLE) AS sum_qty,
        |  CAST(SUM(CASE WHEN l_discount > 0.05 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_disc,
        |  COUNT(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-12-01' - INTERVAL 90 DAY
        |GROUP BY l_returnflag, l_linestatus""".stripMargin,

    "q_sql_tpch_q3_qualify" ->
      s"""SELECT l_orderkey, o_orderdate, revenue FROM (
         |  SELECT l_orderkey, o_orderdate,
         |    CAST(SUM($revDec) AS DOUBLE) / 10000.0 AS revenue,
         |    ROW_NUMBER() OVER (PARTITION BY o_orderdate
         |      ORDER BY SUM($revDec) DESC, l_orderkey) AS rn
         |  FROM customer
         |  JOIN orders ON c_custkey = o_custkey
         |  JOIN lineitem ON l_orderkey = o_orderkey
         |  WHERE c_mktsegment = 'BUILDING'
         |    AND o_orderdate < TIMESTAMP '1998-01-01'
         |    AND l_shipdate > TIMESTAMP '1998-01-01'
         |  GROUP BY l_orderkey, o_orderdate) t
         |WHERE rn = 1""".stripMargin,

    "q_sql_tpch_q18_qualify" ->
      """SELECT c_custkey, o_orderkey, status, total_qty FROM (
        |  SELECT c_custkey, o_orderkey,
        |    CASE WHEN o_orderstatus = 'F' THEN 'final' ELSE 'open' END
        |      AS status,
        |    CAST(SUM(CAST(l_quantity AS DECIMAL(24,6))) AS DOUBLE)
        |      AS total_qty,
        |    ROW_NUMBER() OVER (PARTITION BY c_custkey
        |      ORDER BY SUM(CAST(l_quantity AS DECIMAL(24,6))) DESC,
        |        o_orderkey) AS rn
        |  FROM customer
        |  JOIN orders ON c_custkey = o_custkey
        |  JOIN lineitem ON l_orderkey = o_orderkey
        |  GROUP BY c_custkey, o_orderkey, o_orderstatus) t
        |WHERE rn <= 2""".stripMargin,

    "q_sql_tpch_q22_try" ->
      """SELECT CAST(TRY_CAST(
        |    SUBSTR(CAST(c_custkey AS VARCHAR), 1, 1) AS DECIMAL(38,0))
        |    AS BIGINT) AS cc,
        |  COUNT(*) AS numcust,
        |  CAST(SUM(CAST(c_acctbal AS DECIMAL(24,2))) AS DOUBLE)
        |    AS totacctbal
        |FROM customer
        |WHERE c_acctbal > (SELECT
        |    CAST(SUM(CAST(c_acctbal AS DECIMAL(24,2))) AS DOUBLE)
        |      / COUNT(*)
        |    FROM customer WHERE c_acctbal > 0.0)
        |  AND NOT EXISTS (SELECT 1 FROM orders
        |    WHERE o_custkey = c_custkey AND o_totalprice > 400000.0)
        |GROUP BY 1""".stripMargin
  )
}
