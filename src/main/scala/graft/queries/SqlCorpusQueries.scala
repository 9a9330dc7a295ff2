package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.Tables
import graft.transpile.SnowflakeSql

/** Transpiler corpus sweep — the reference ships a transpiler test
  * corpus (reference `tests/test_transpiler.py`, flatten/variant/date
  * forms at :88-168) that asserts on the transpiled TEXT; the per-query
  * oracle gate can't see dialect regressions that shift results only
  * for syntax no registered query happens to use. This module mirrors
  * the corpus as EXECUTABLE Snowflake-dialect cases: every case is a
  * self-describing `(case_id, result)` query over the test tables, run
  * on Spark through [[SnowflakeSql.run]] and union'd into ONE
  * driver-gate query (`q_sql_corpus`) whose DuckDB oracle re-expresses
  * each case in DuckDB's own dialect — so the whole dialect surface is
  * value-checked, not just text-checked. The table-driven
  * `SnowflakeSqlSpec` sweep runs each case individually with its
  * citation.
  *
  * Result discipline: every `result` is a STRING derived from integer,
  * date, or string computation only (counts, integer sums, min/max of
  * strings, boundary-exact date math) — no cross-engine doubles.
  *
  * Cost note: the union's runtime is dominated by driver-side
  * parse/transpile/analyze floors per branch (39 cases as of round 8),
  * now paid CONCURRENTLY (order-preserving Future.sequence in `defs`),
  * plus the single unioned job's execution (the only data-bound cases
  * are the two events-JSON probes and the partitioned QUALIFY, ~0.5 s
  * each at sf0.1) — i.e. the gate's cost is close to FLAT in corpus
  * size, which is the property that matters at scale; it reads whole
  * tables only through pushdown-pruned scalar aggregates.
  *
  * Plan note: c24/c25 mirror the reference's QUALIFY forms verbatim,
  * and c24's window has no PARTITION BY — an unpartitioned QUALIFY is
  * inherently a single-partition window in ANY engine (same in
  * Snowflake); it exists here to lock transpiler semantics, not as a
  * scale operator. The scale-correct global top-1 is `q_topk`
  * (orderable aggregate); the shipped QUALIFY production queries
  * (`q_sql_qualify*`) all partition.
  */
object SqlCorpus {

  /** One corpus case: reference citation, Snowflake-dialect SQL (Spark
    * via the transpiler) and the DuckDB-dialect equivalent. Both must
    * yield the same `(case_id, result)` rows. */
  final case class Case(id: String, cite: String, sf: String, duck: String)

  val cases: Seq[Case] = Seq(
    Case("c01", "test_transpiler.py:15-23 (simple SELECT)",
      "SELECT 'c01' AS case_id, CAST(COUNT(*) AS STRING) AS result FROM customer",
      "SELECT 'c01' AS case_id, CAST(COUNT(*) AS VARCHAR) AS result FROM customer"),
    Case("c02", "test_transpiler.py:15-23 (id, name projection)",
      "SELECT 'c02' AS case_id, MIN(c_name || ':' || c_mktsegment) AS result FROM customer",
      "SELECT 'c02' AS case_id, MIN(c_name || ':' || c_mktsegment) AS result FROM customer"),
    Case("c03", "test_transpiler.py:33-41 (WHERE status filter)",
      "SELECT 'c03' AS case_id, CAST(COUNT(*) AS STRING) AS result FROM orders WHERE o_orderstatus = 'O'",
      "SELECT 'c03' AS case_id, CAST(COUNT(*) AS VARCHAR) AS result FROM orders WHERE o_orderstatus = 'O'"),
    Case("c04", "test_transpiler.py:25-31 (DATEADD day, bare unit)",
      "SELECT 'c04' AS case_id, CAST(CAST(MIN(DATEADD(day, 1, o_orderdate)) AS DATE) AS STRING) AS result FROM orders",
      "SELECT 'c04' AS case_id, CAST(CAST(MIN(o_orderdate + INTERVAL 1 DAY) AS DATE) AS VARCHAR) AS result FROM orders"),
    Case("c05", "test_transpiler.py:25-31 (DATEADD quoted 'mm' month alias)",
      "SELECT 'c05' AS case_id, CAST(CAST(MAX(DATEADD('mm', 2, o_orderdate)) AS DATE) AS STRING) AS result FROM orders",
      "SELECT 'c05' AS case_id, CAST(CAST(MAX(o_orderdate + INTERVAL 2 MONTH) AS DATE) AS VARCHAR) AS result FROM orders"),
    Case("c06", "test_transpiler.py:25-31 (DATEADD 'hh' sub-day unit)",
      "SELECT 'c06' AS case_id, CAST(MIN(DATEADD('hh', 3, o_orderdate)) AS STRING) AS result FROM orders",
      "SELECT 'c06' AS case_id, CAST(MIN(o_orderdate + INTERVAL 3 HOUR) AS VARCHAR) AS result FROM orders"),
    Case("c07", "test_transpiler.py:25-31 (DATEDIFF month, boundary count)",
      "SELECT 'c07' AS case_id, CAST(SUM(DATEDIFF(month, o_orderdate, DATE '1998-12-31')) AS STRING) AS result FROM orders WHERE o_orderstatus = 'P'",
      "SELECT 'c07' AS case_id, CAST(SUM(date_diff('month', o_orderdate, DATE '1998-12-31')) AS VARCHAR) AS result FROM orders WHERE o_orderstatus = 'P'"),
    Case("c08", "test_transpiler.py:25-31 (DATEDIFF year)",
      "SELECT 'c08' AS case_id, CAST(SUM(DATEDIFF(year, o_orderdate, DATE '1998-12-31')) AS STRING) AS result FROM orders WHERE o_orderstatus = 'P'",
      "SELECT 'c08' AS case_id, CAST(SUM(date_diff('year', o_orderdate, DATE '1998-12-31')) AS VARCHAR) AS result FROM orders WHERE o_orderstatus = 'P'"),
    Case("c09", "transpiler.py:54-59 function surface (IFF)",
      "SELECT 'c09' AS case_id, CAST(SUM(IFF(o_totalprice > 150000, 1, 0)) AS STRING) AS result FROM orders",
      "SELECT 'c09' AS case_id, CAST(SUM(CASE WHEN o_totalprice > 150000 THEN 1 ELSE 0 END) AS VARCHAR) AS result FROM orders"),
    Case("c10", "transpiler.py:54-59 function surface (NVL over NULLIF)",
      "SELECT 'c10' AS case_id, MIN(NVL(NULLIF(r_name, 'ASIA'), 'fallback')) AS result FROM region",
      "SELECT 'c10' AS case_id, MIN(COALESCE(NULLIF(r_name, 'ASIA'), 'fallback')) AS result FROM region"),
    Case("c11", "transpiler.py:54-59 function surface (NVL2 + ZEROIFNULL)",
      "SELECT 'c11' AS case_id, CAST(SUM(NVL2(NULLIF(n_regionkey, 2), ZEROIFNULL(NULLIF(n_regionkey, 2)), -1)) AS STRING) AS result FROM nation",
      "SELECT 'c11' AS case_id, CAST(SUM(CASE WHEN NULLIF(n_regionkey, 2) IS NOT NULL THEN COALESCE(NULLIF(n_regionkey, 2), 0) ELSE -1 END) AS VARCHAR) AS result FROM nation"),
    Case("c12", "transpiler.py:246-260 type map (TRY_TO_NUMBER + REGEXP_SUBSTR)",
      "SELECT 'c12' AS case_id, CAST(SUM(TRY_TO_NUMBER(REGEXP_SUBSTR(o_orderpriority, '[0-9]+'))) AS STRING) AS result FROM orders",
      "SELECT 'c12' AS case_id, CAST(SUM(TRY_CAST(NULLIF(regexp_extract(o_orderpriority, '[0-9]+'), '') AS DECIMAL(38,0))) AS VARCHAR) AS result FROM orders"),
    Case("c13", "transpiler.py:246-260 type map (TRY_TO_DATE, valid + invalid)",
      "SELECT 'c13' AS case_id, CAST(TRY_TO_DATE('1996-03-04') AS STRING) || '/' || CAST(COUNT(TRY_TO_DATE(o_orderstatus)) AS STRING) AS result FROM orders",
      "SELECT 'c13' AS case_id, CAST(TRY_CAST('1996-03-04' AS DATE) AS VARCHAR) || '/' || CAST(COUNT(TRY_CAST(o_orderstatus AS DATE)) AS VARCHAR) AS result FROM orders"),
    Case("c14", "test_transpiler.py:130-139 (CAST(x AS VARIANT))",
      "SELECT 'c14' AS case_id, MIN(CAST(r_name AS VARIANT)) AS result FROM region",
      "SELECT 'c14' AS case_id, MIN(to_json(r_name)) AS result FROM region"),
    Case("c15", "test_transpiler.py:141-147 (x::VARIANT shorthand)",
      "SELECT 'c15' AS case_id, MAX(r_regionkey::VARIANT) AS result FROM region",
      "SELECT 'c15' AS case_id, MAX(to_json(r_regionkey)) AS result FROM region"),
    Case("c16", "test_transpiler.py:149-156 (TO_VARIANT function)",
      "SELECT 'c16' AS case_id, MAX(TO_VARIANT(n_name)) AS result FROM nation",
      "SELECT 'c16' AS case_id, MAX(to_json(n_name)) AS result FROM nation"),
    Case("c17", "test_transpiler.py:158-166 (non-VARIANT cast untouched)",
      "SELECT 'c17' AS case_id, MIN(CAST(o_orderkey AS VARCHAR(20))) AS result FROM orders",
      "SELECT 'c17' AS case_id, MIN(CAST(o_orderkey AS VARCHAR(20))) AS result FROM orders"),
    Case("c18", "test_transpiler.py:88-96 (bare comma FLATTEN(input =>))",
      "SELECT 'c18' AS case_id, CAST(SUM(f.value) AS STRING) AS result FROM nation, FLATTEN(input => ARRAY_CONSTRUCT(n_regionkey, n_nationkey * 2)) f",
      "SELECT 'c18' AS case_id, CAST(SUM(v) AS VARCHAR) AS result FROM (SELECT unnest([n_regionkey, n_nationkey * 2]) AS v FROM nation)"),
    Case("c19", "test_transpiler.py:98-106 (LATERAL FLATTEN)",
      "SELECT 'c19' AS case_id, CAST(SUM(n_nationkey * f.value) AS STRING) AS result FROM nation, LATERAL FLATTEN(input => ARRAY_CONSTRUCT(n_regionkey, 7)) f",
      "SELECT 'c19' AS case_id, CAST(SUM(n_nationkey * v) AS VARCHAR) AS result FROM (SELECT n_nationkey, unnest([n_regionkey, 7]) AS v FROM nation)"),
    Case("c20", "transpiler.py:326-364 (TABLE(FLATTEN(...)) form)",
      "SELECT 'c20' AS case_id, CAST(SUM(f.value) AS STRING) AS result FROM region, TABLE(FLATTEN(ARRAY_CONSTRUCT(r_regionkey, r_regionkey + 10))) AS f",
      "SELECT 'c20' AS case_id, CAST(SUM(v) AS VARCHAR) AS result FROM (SELECT unnest([r_regionkey, r_regionkey + 10]) AS v FROM region)"),
    Case("c21", "test_transpiler.py:88-106 (FLATTEN index column)",
      "SELECT 'c21' AS case_id, CAST(SUM(f.value * (f.index + 1)) AS STRING) AS result FROM nation, LATERAL FLATTEN(input => ARRAY_CONSTRUCT(n_regionkey, n_nationkey)) f",
      "SELECT 'c21' AS case_id, CAST(SUM(v * gs) AS VARCHAR) AS result FROM (SELECT l[gs] AS v, gs FROM (SELECT [n_regionkey, n_nationkey] AS l FROM nation) t, generate_series(1, 2) g(gs))"),
    Case("c22", "auto_router.py:358-364 (col:path::type — ref routes to cloud)",
      "SELECT 'c22' AS case_id, CAST(SUM(props:k::int) AS STRING) AS result FROM events WHERE props:k::int BETWEEN 20 AND 40",
      "SELECT 'c22' AS case_id, CAST(SUM(CAST(json_extract_string(props, '$.k') AS INT)) AS VARCHAR) AS result FROM events WHERE CAST(json_extract_string(props, '$.k') AS INT) BETWEEN 20 AND 40"),
    Case("c23", "auto_router.py:358-364 (col:path string access)",
      "SELECT 'c23' AS case_id, MIN(props:k) AS result FROM events WHERE props:k IS NOT NULL",
      "SELECT 'c23' AS case_id, MIN(json_extract_string(props, '$.k')) AS result FROM events WHERE json_extract_string(props, '$.k') IS NOT NULL"),
    Case("c24", "transpiler.py:366-370 (QUALIFY, inline window)",
      "SELECT 'c24' AS case_id, CAST(o_orderkey AS STRING) AS result FROM orders WHERE o_orderstatus = 'P' QUALIFY ROW_NUMBER() OVER (ORDER BY o_totalprice DESC, o_orderkey) = 1",
      "SELECT 'c24' AS case_id, CAST(o_orderkey AS VARCHAR) AS result FROM orders WHERE o_orderstatus = 'P' QUALIFY ROW_NUMBER() OVER (ORDER BY o_totalprice DESC, o_orderkey) = 1"),
    Case("c25", "transpiler.py:366-370 (QUALIFY + trailing ORDER BY/LIMIT)",
      "SELECT 'c25' AS case_id, CAST(o_orderkey AS STRING) AS result FROM orders WHERE o_orderstatus = 'F' QUALIFY ROW_NUMBER() OVER (PARTITION BY o_orderpriority ORDER BY o_totalprice DESC, o_orderkey) = 1 ORDER BY result LIMIT 3",
      "SELECT 'c25' AS case_id, CAST(o_orderkey AS VARCHAR) AS result FROM orders WHERE o_orderstatus = 'F' QUALIFY ROW_NUMBER() OVER (PARTITION BY o_orderpriority ORDER BY o_totalprice DESC, o_orderkey) = 1 ORDER BY result LIMIT 3"),
    Case("c26", "transpiler.py:54-59 function surface (OBJECT_CONSTRUCT)",
      "SELECT 'c26' AS case_id, MIN(OBJECT_CONSTRUCT('id', r_regionkey, 'nm', r_name)) AS result FROM region",
      "SELECT 'c26' AS case_id, MIN(to_json(struct_pack(id := r_regionkey, nm := r_name))) AS result FROM region"),
    Case("c27", "transpiler.py:54-59 function surface (ARRAY_CONSTRUCT literal)",
      "SELECT 'c27' AS case_id, CAST(ARRAY_CONSTRUCT(r_regionkey, r_regionkey + 1) AS STRING) AS result FROM region WHERE r_regionkey = 0",
      "SELECT 'c27' AS case_id, CAST([r_regionkey, r_regionkey + 1] AS VARCHAR) AS result FROM region WHERE r_regionkey = 0")
  )

  /** Error-path / edge semantics (reference `tests/test_transpiler.py:
    * 60-84`) as corpus rows: each `result` is the CLASSIFIED runtime
    * behavior, computed by exercising the API at query-build time —
    * never a hard-coded literal — so the driver gate value-checks
    * dialect ERROR semantics the same way it checks dialect results.
    * The oracle rows carry the reference-specified expectations. */
  private def edgeRows(sp: SparkSession): DataFrame = {
    import org.apache.spark.sql.functions.{col, sum}
    def classify(body: => String): String =
      try body catch {
        case e: IllegalArgumentException =>
          "rejected:" + e.getClass.getSimpleName
        case e: Throwable => "error:" + e.getClass.getSimpleName
      }
    val rows = Seq(
      // test_transpiler.py:65-70 — empty SQL must pass through, not crash
      "c28" -> classify {
        val t = SnowflakeSql.transpile("")
        if (t.trim.isEmpty) "empty-passthrough" else "unexpected:" + t
      },
      // :65-70 — whitespace-only input likewise
      "c29" -> classify {
        val t = SnowflakeSql.transpile("   ")
        if (t.trim.isEmpty) "whitespace-passthrough"
        else "unexpected:" + t
      },
      // :72-80 — every statement of a multi-statement script survives
      // transpilation AND executes (both values present in the result)
      "c30" -> classify {
        val parts = SnowflakeSql.runAll(sp, "SELECT 11 AS x; SELECT 22 AS x")
        val total = parts.reduce(_ unionByName _)
          .agg(sum(col("x")).as("t")).head().getLong(0)
        s"${parts.length}-statements-sum-$total"
      },
      // :82-84 — a non-Spark target dialect must be rejected
      "c31" -> classify {
        SnowflakeSql.convertDialect("SELECT 1", "snowflake", "oracle")
        "unexpected:no-error"
      }) ++ variantTruthRows(sp)
    import sp.implicits._
    rows.toDF("case_id", "result")
  }

  /** The VARIANT-handling truth table (reference
    * `tests/test_variant_handling.py:11-117`) as value-checked rows:
    * the error classifier's fallback decisions over the reference's
    * five literal error strings, and the source cache's VARIANT
    * detection / TO_VARCHAR-downgrade behavior — all computed by
    * exercising the live APIs, never hard-coded. */
  private def variantTruthRows(sp: SparkSession): Seq[(String, String)] = {
    import graft.planner.ErrorClassifier
    // the reference classifier takes the error STRING; ours classifies
    // a Throwable — a plain RuntimeException carries exactly the string
    def fallback(msg: String): String =
      ErrorClassifier.classify(new RuntimeException(msg)) match {
        case Some(c) => s"fallback:${c.name}"
        case None => "no-fallback"
      }
    val classifier = Seq(
      // :18-20 function-not-found triggers fallback
      "c32" -> fallback("Scalar Function 'CONVERT_TIMEZONE' does not exist"),
      // :22-26 VARIANT-unsupported triggers fallback
      "c33" -> fallback("DuckDB error: Not implemented Error: A table " +
        "cannot be created from a VARIANT column yet"),
      // :28-30 general not-implemented triggers fallback
      "c34" -> fallback("Not implemented Error: some feature"),
      // :32-35 a missing TABLE is missing on every venue — NO fallback
      "c35" -> fallback("Table 'my_table' does not exist"),
      // :37-39 a syntax error re-raised as-is — NO fallback (the string
      // form; an actual local ParseException is a separate class)
      "c36" -> fallback("Parser Error: syntax error at or near 'SELECTT'"))
    // :44-75 — VARIANT/OBJECT detection from the schema, and the
    // :77-117 TO_VARCHAR (to_json) downgrade projection
    import org.apache.spark.sql.functions.{col, lit, map, struct}
    val src = sp.range(1).select(lit(7L).as("id"), lit("n1").as("name"),
      struct(lit(1L).as("k")).as("flow_document"),
      map(lit("m"), lit(2L)).as("metadata"))
    val detected = graft.cache.SourceCache.variantColumns(src.schema)
    val none = graft.cache.SourceCache.variantColumns(
      sp.range(1).select(col("id"), lit("x").as("name")).schema)
    val down = graft.cache.SourceCache.downgradeVariants(src)
    val allString = down.schema.fields
      .filter(f => detected.contains(f.name))
      .forall(_.dataType ==
        org.apache.spark.sql.types.StringType)
    val row = down.head()
    val cache = Seq(
      "c37" -> s"detected:${detected.sorted.mkString("+")}:n=${detected.length}",
      "c38" -> (if (none.isEmpty) "detected:none" else
        s"unexpected:${none.mkString("+")}"),
      "c39" -> (s"plain=${row.getLong(0)}:${row.getString(1)}" +
        s"|json=${row.getString(2)}:${row.getString(3)}" +
        s"|variant-cols-stringified=$allString"))
    classifier ++ cache
  }

  /** The edge cases' oracle rows: the reference-specified expected
    * classifications as DuckDB literals. */
  private val edgeOracle: Seq[String] = Seq(
    "SELECT 'c28' AS case_id, 'empty-passthrough' AS result",
    "SELECT 'c29' AS case_id, 'whitespace-passthrough' AS result",
    "SELECT 'c30' AS case_id, '2-statements-sum-' || " +
      "CAST((SELECT 11) + (SELECT 22) AS VARCHAR) AS result",
    "SELECT 'c31' AS case_id, 'rejected:IllegalArgumentException' AS result",
    // VARIANT-handling truth table (tests/test_variant_handling.py):
    // the reference-specified classifier decisions ...
    "SELECT 'c32' AS case_id, 'fallback:function_missing' AS result",
    "SELECT 'c33' AS case_id, 'fallback:variant_unsupported' AS result",
    "SELECT 'c34' AS case_id, 'fallback:not_implemented' AS result",
    "SELECT 'c35' AS case_id, 'no-fallback' AS result",
    "SELECT 'c36' AS case_id, 'no-fallback' AS result",
    // ... and the source-cache detection/downgrade expectations
    "SELECT 'c37' AS case_id, 'detected:flow_document+metadata:n=2' AS result",
    "SELECT 'c38' AS case_id, 'detected:none' AS result",
    "SELECT 'c39' AS case_id, 'plain=7:n1|json={\"k\":1}:{\"m\":2}" +
      "|variant-cols-stringified=true' AS result")

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    // the whole corpus as ONE gate query: per-case (case_id, result)
    // rows union'd — the driver's DuckDB hash compare then checks every
    // dialect form's VALUES (each case is deterministic: aggregates or
    // QUALIFY-pinned rows; union order is irrelevant to the sorted-row
    // hash)
    "q_sql_corpus" -> ((s, dir) => {
      Tables.registerFor(s, dir, cases.map(_.sf).mkString("\n"))
      // branch construction (parse + transpile + analyze) is pure
      // driver-side work with a per-case floor; at 39 cases it WAS the
      // query's dominant cost (3.7 s of serial analysis at any sf —
      // execution itself is one unioned job). Analyze the branches
      // concurrently: Spark sessions support concurrent query
      // submission, the transpiler is pure string work, and QUALIFY
      // temp views are UUID-named, and Registry.register is itself
      // thread-safe (serialized, once per session) — the warm call below is purely a performance warm, not a
      // correctness precondition. Future.sequence preserves case
      // order, so the union (and the driver hash) is byte-identical
      // to the serial build.
      SnowflakeSql.run(s, "SELECT 1 AS __warm")
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration.Duration
      import scala.concurrent.ExecutionContext.Implicits.global
      val branches = Await.result(
        Future.sequence(cases.map(c => Future(SnowflakeSql.run(s, c.sf)))),
        Duration.Inf)
      (branches :+ edgeRows(s)).reduce(_.unionByName(_))
    })
  )

  val oracle: Map[String, String] = Map(
    // each case parenthesized: ORDER BY/LIMIT tails (c25) must bind to
    // their own SELECT, not the union
    "q_sql_corpus" -> (cases.map("(" + _.duck + ")") ++
      edgeOracle.map("(" + _ + ")")).mkString("\nUNION ALL\n")
  )
}
