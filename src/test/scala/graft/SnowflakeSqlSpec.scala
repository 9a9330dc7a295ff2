package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.transpile.SnowflakeSql.transpile

/** Transpiler behavioral table — mirrors the reference's transpiler tests
  * (reference tests/test_transpiler.py:15-168): assert properties of the
  * rewritten SQL text. */
class SnowflakeSqlSpec extends AnyFunSuite {

  test("FLATTEN with input => becomes POSEXPLODE lateral view") {
    val out = transpile(
      "SELECT t.id, f.value FROM t, LATERAL FLATTEN(input => t.arr) f")
    assert(out.contains("LATERAL VIEW POSEXPLODE(t.arr) f AS index, value"))
    assert(!out.toLowerCase.contains("flatten"))
  }

  test("TABLE(FLATTEN(...)) positional form") {
    val out = transpile("SELECT f.value FROM t, TABLE(FLATTEN(t.arr)) AS f")
    assert(out.contains("POSEXPLODE(t.arr) f AS index, value"))
    assert(!out.contains("TABLE("))
  }

  test("CAST AS VARIANT / ::VARIANT / nested parens") {
    assert(transpile("SELECT CAST(x AS VARIANT) FROM t")
      .contains("to_variant(x )"))
    assert(transpile("SELECT x::VARIANT FROM t").contains("to_variant(x)"))
    assert(transpile("SELECT CAST(f(a, b) AS VARIANT) FROM t")
      .contains("to_variant(f(a, b) )"))
  }

  test("colon paths rewrite; string literals survive") {
    val out = transpile("SELECT 'a:b', data:customer.name FROM events")
    assert(out.contains("get_json_object(data, '$.customer.name')"))
    assert(out.contains("'a:b'"))
  }

  test("colon path with ::type cast keeps the cast") {
    val out = transpile("SELECT data:k::int FROM events")
    assert(out.contains("get_json_object(data, '$.k')::int"))
  }

  test("Snowflake 3-arg date fns rewrite; Spark 2-arg forms untouched") {
    assert(transpile("SELECT DATEADD(day, 1, d) FROM t")
      .contains("graft_dateadd('day',"))
    assert(transpile("SELECT DATEDIFF('month', a, b) FROM t")
      .contains("graft_datediff('month',"))
    val untouched = "SELECT dateadd(start_dt, 5) FROM t"
    assert(transpile(untouched) == untouched)
    // bare single-letter units stay untouched too (likely a column name)
    val bare = "SELECT dateadd(d, 5) FROM t"
    assert(transpile(bare) == bare)
    // ... but quoted single-letter units rewrite
    assert(transpile("SELECT dateadd('d', 1, x) FROM t")
      .contains("graft_dateadd('d',"))
  }

  test("global top-k QUALIFY rewrites to ORDER BY + LIMIT") {
    import graft.transpile.SnowflakeSql.rewriteGlobalTopK
    assert(rewriteGlobalTopK(
      "SELECT a FROM t QUALIFY ROW_NUMBER() OVER (ORDER BY b DESC, a) = 1")
      .contains("SELECT a FROM t ORDER BY b DESC, a LIMIT 1"))
    assert(rewriteGlobalTopK(
      "SELECT a FROM t QUALIFY row_number() over (order by b) <= 5")
      .contains("SELECT a FROM t order by b LIMIT 5"))
    // partitioned, non-row_number, non-top-1 equality, trailing
    // clauses, and framed specs all punt to the general QUALIFY path
    Seq(
      "SELECT a FROM t QUALIFY ROW_NUMBER() OVER (PARTITION BY p ORDER BY b) = 1",
      "SELECT a FROM t QUALIFY RANK() OVER (ORDER BY b) = 1",
      "SELECT a FROM t QUALIFY ROW_NUMBER() OVER (ORDER BY b) = 2",
      "SELECT a FROM t QUALIFY ROW_NUMBER() OVER (ORDER BY b) = 1 ORDER BY a",
      "SELECT a FROM t QUALIFY ROW_NUMBER() OVER (ORDER BY b) = 1 LIMIT 3"
    ).foreach(s => assert(rewriteGlobalTopK(s).isEmpty, s))
  }

  test("bare VARCHAR becomes STRING; VARCHAR(n) and literals survive") {
    assert(transpile("SELECT CAST(x AS VARCHAR) FROM t")
      == "SELECT CAST(x AS STRING) FROM t")
    assert(transpile("SELECT CAST(x AS varchar ) FROM t")
      == "SELECT CAST(x AS STRING ) FROM t")
    // sized form is valid Spark — untouched
    val sized = "SELECT CAST(x AS VARCHAR(20)) FROM t"
    assert(transpile(sized) == sized)
    // inside a string literal or as part of a longer identifier: text
    val lit = "SELECT 'CAST AS VARCHAR' AS s, varchar_col FROM t"
    assert(transpile(lit) == lit)
  }

  test("empty and non-Snowflake SQL pass through unchanged") {
    assert(transpile("") == "")
    val plain = "SELECT a, b FROM t WHERE a > 1 GROUP BY a, b"
    assert(transpile(plain) == plain)
  }

  test("QUALIFY split hoists inline window expressions") {
    val Some((inner, pred, hoisted, tail)) = graft.transpile.SnowflakeSql
      .splitQualify(
        "SELECT id FROM t QUALIFY ROW_NUMBER() OVER (PARTITION BY g ORDER BY id) = 1")
    assert(inner.contains("ROW_NUMBER() OVER (PARTITION BY g ORDER BY id) AS __qualify_0"))
    assert(pred.trim == "__qualify_0 = 1")
    assert(hoisted == Seq("__qualify_0"))
    assert(tail.trim.isEmpty)
  }

  test("QUALIFY referencing an alias needs no hoisting") {
    val Some((inner, pred, hoisted, tail)) = graft.transpile.SnowflakeSql
      .splitQualify("SELECT id, RANK() OVER (ORDER BY id) AS r FROM t QUALIFY r <= 5")
    assert(hoisted.isEmpty)
    assert(pred.trim == "r <= 5")
    assert(inner.trim.endsWith("FROM t"))
    assert(tail.trim.isEmpty)
  }

  test("QUALIFY keeps trailing ORDER BY / LIMIT as a post-filter tail") {
    val Some((_, pred, _, tail)) = graft.transpile.SnowflakeSql
      .splitQualify("SELECT id FROM t QUALIFY ROW_NUMBER() OVER " +
        "(ORDER BY id) = 1 ORDER BY id DESC LIMIT 3")
    assert(pred.trim == "__qualify_0 = 1")
    assert(tail.trim.toLowerCase.startsWith("order by"))
    assert(tail.toLowerCase.contains("limit 3"))
  }

  // ------------------------------------------------------ corpus sweep
  // The reference's transpiler corpus executed end-to-end: every
  // graft.queries.SqlCorpus case (each cited to its reference test)
  // runs through SnowflakeSql.run on the sf0.001 tables and must
  // (a) leave no Snowflake-only grammar in the transpiled text and
  // (b) produce its self-describing (case_id, result) rows with a
  // non-null result. The VALUES are DuckDB-hash-checked by the driver
  // gate (q_sql_corpus); this sweep locks the per-case executability
  // and the text contract.
  test("reference transpiler corpus: all cases execute (≥25, cited)") {
    val spark = TestSpark.session
    Tables.registerAll(spark, "/root/testdata/sf0.001")
    val corpus = graft.queries.SqlCorpus.cases
    assert(corpus.size >= 25, s"corpus shrank to ${corpus.size}")
    assert(corpus.map(_.id).distinct.size == corpus.size)
    corpus.foreach { c =>
      val t = transpile(c.sf)
      val lower = t.toLowerCase
      assert(!lower.contains("flatten"), s"${c.id} (${c.cite}): $t")
      // VARIANT cast GRAMMAR must be gone (the rewrite target is the
      // registered to_variant() builder, so the bare word survives)
      assert(!lower.contains("as variant") && !lower.contains("::variant"),
        s"${c.id} (${c.cite}): $t")
      assert(!lower.contains("=>"), s"${c.id} (${c.cite}): $t")
      val rows = graft.transpile.SnowflakeSql.run(spark, c.sf).collect()
      assert(rows.nonEmpty, s"${c.id} (${c.cite}) returned no rows")
      rows.foreach { r =>
        assert(r.getString(0) == c.id, s"${c.id}: case_id ${r.getString(0)}")
        assert(r.getString(1) != null, s"${c.id} (${c.cite}): null result")
      }
    }
  }

  test("dialect functions register once per session; a new session has its own") {
    import org.apache.spark.sql.catalyst.FunctionIdentifier
    val s = TestSpark.session.newSession()
    val sql = "SELECT IFF(1 > 0, 'a', 'b') AS x"
    def infos(sp: org.apache.spark.sql.SparkSession) =
      Seq("iff", "to_variant", "graft_datediff").map(n => sp.sessionState
        .functionRegistry.lookupFunction(FunctionIdentifier(n)).get)
    assert(graft.transpile.SnowflakeSql.run(s, sql).head().getString(0) == "a")
    val first = infos(s)
    assert(graft.transpile.SnowflakeSql.run(s, sql).head().getString(0) == "a")
    // a re-registration would store a fresh ExpressionInfo per name
    first.zip(infos(s)).foreach { case (a, b) => assert(a eq b, a.getName) }
    assert(s.experimental.extraOptimizations
      .count(_ == graft.plans.JsonPathCse) == 1)
    val fresh = s.newSession()
    assert(graft.transpile.SnowflakeSql.run(fresh, sql).head().getString(0) == "a")
  }

  test("Spark's own forms of the names graft shadows still resolve; " +
    "a graft-only name with another arity fails analysis") {
    val s = TestSpark.session.newSession()
    def viaSpark(call: String) = String.valueOf(s.sql(s"SELECT $call").head().get(0))
    val builtins = Seq("try_to_number('12', '99')",
      "try_to_date('2020-01-02', 'yyyy-MM-dd')",
      "regexp_substr('a1b22', '[0-9]+')")
    val before = builtins.map(viaSpark)
    assert(before == Seq("12", "2020-01-02", "1"))
    def viaGraft(call: String) = String.valueOf(
      graft.transpile.SnowflakeSql.run(s, s"SELECT $call").head().get(0))
    // graft's own arities
    assert(viaGraft("try_to_number('12.34', 10, 2)") == "12.34")
    assert(viaGraft("try_to_number('x')") == "null")
    assert(viaGraft("try_to_date('2020-01-02')") == "2020-01-02")
    assert(viaGraft("regexp_substr('abc', '[0-9]+')") == "null")
    assert(viaGraft("iff(1 > 0, 'a', 'b')") == "a")
    assert(builtins.map(viaSpark) == before)
    for ((call, name, n) <- Seq(("iff(true, 1)", "iff", 2),
        ("object_construct('a')", "object_construct", 1))) {
      val e = intercept[org.apache.spark.sql.AnalysisException](
        graft.transpile.SnowflakeSql.run(s, s"SELECT $call"))
      assert(e.getCondition == "WRONG_NUM_ARGS.WITHOUT_SUGGESTION", e.getMessage)
      assert(e.getMessage.contains(s"`$name`") &&
        e.getMessage.contains(s"actual number is $n"), e.getMessage)
    }
  }

  test("registerFor registers only the tables a statement names") {
    val dir = "/root/testdata/sf0.001"
    val s = TestSpark.session.newSession()
    def views = s.catalog.listTables().collect().map(_.name).toSet
    Tables.registerFor(s, dir,
      "SELECT n_nationkey, o_orders FROM fct_orders, Nation QUALIFY 1 = 1")
    assert(views == Set("nation"))
    Tables.registerFor(s, dir, "SELECT * FROM ORDERS o JOIN lineitem l")
    assert(views == Set("nation", "orders", "lineitem"))
    // a named table whose file is absent is skipped, and still fails
    // loudly at analysis
    val partial = java.nio.file.Files.createTempDirectory("graft-partial")
    val region = partial.resolve("region.parquet")
    java.nio.file.Files.copy(java.nio.file.Paths.get(dir, "region.parquet"),
      region)
    try {
      val p = s.newSession()
      val sql = "SELECT * FROM region JOIN supplier ON r_regionkey = s_suppkey"
      Tables.registerFor(p, partial.toString, sql)
      assert(p.catalog.listTables().collect().map(_.name).toSet == Set("region"))
      val e = intercept[org.apache.spark.sql.AnalysisException](p.sql(sql))
      assert(e.getCondition == "TABLE_OR_VIEW_NOT_FOUND", e.getMessage)
    } finally {
      java.nio.file.Files.delete(region)
      java.nio.file.Files.delete(partial)
    }
  }

  test("empty SQL passes through (test_transpiler.py:65-70)") {
    assert(transpile("") == "")
    assert(transpile("   ") == "   ")
  }

  test("multi-statement split respects literals and parens " +
      "(test_transpiler.py:72-80)") {
    import graft.transpile.SnowflakeSql.splitStatements
    assert(splitStatements("SELECT 1; SELECT 2") ==
      Seq("SELECT 1", " SELECT 2"))
    // a ';' inside a string literal or parens is not a separator
    assert(splitStatements("SELECT 'a;b' AS x") == Seq("SELECT 'a;b' AS x"))
    assert(splitStatements("SELECT f(1) AS x; SELECT 2;").length == 2)
    assert(splitStatements(";;") == Nil)
    // a ';' inside a line or block comment is text, not a separator
    assert(splitStatements("SELECT 1 -- note; still the note\n; SELECT 2")
      .length == 2)
    assert(splitStatements("SELECT 1 /* a;b */; SELECT 2").length == 2)
    assert(splitStatements("SELECT 1 -- trailing; comment") ==
      Seq("SELECT 1 -- trailing; comment"))
    // Snowflake's // line-comment form behaves exactly like --
    assert(splitStatements("SELECT 1 // note; still the note\n; SELECT 2")
      .length == 2)
    assert(splitStatements("SELECT 1 // trailing; comment") ==
      Seq("SELECT 1 // trailing; comment"))
  }

  test("invalid target dialect is rejected (test_transpiler.py:82-84)") {
    import graft.transpile.SnowflakeSql.convertDialect
    assert(convertDialect("SELECT 1") == "SELECT 1")
    intercept[IllegalArgumentException] {
      convertDialect("SELECT 1", "snowflake", "oracle")
    }
    intercept[IllegalArgumentException] {
      convertDialect("SELECT 1", "tsql", "spark")
    }
  }
}
