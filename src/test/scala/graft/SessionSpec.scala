package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.materialize.IcebergDdl
import graft.materialize.IcebergDdl.IcebergConfig
import graft.model.{ModelConfig, ModelNode}
import graft.planner.{RoutingReason, Venue}

class SessionSpec extends AnyFunSuite {
  lazy val spark = TestSpark.session

  private val sf = "/root/testdata/sf0.001"

  test("facade runs a DAG with routing, WAL, savings, and health") {
    val gs = new GraftSession(spark,
      Files.createTempDirectory("graft_gs").toString)
    val base = ModelNode("big_orders", ModelConfig("table"), Nil)(
      s => Tables.load(s, sf, "orders").filter(col("o_totalprice") > 100000))
    val down = ModelNode("by_status", ModelConfig("table"),
      Seq("model.graft.big_orders"))(
      _ => gs.warehouse.read("main", "big_orders")
        .groupBy("o_orderstatus").count())
    val results = gs.run(Seq(down, base))
    assert(results.map(_.name) == Seq("big_orders", "by_status"))
    assert(results.forall(_.decision.venue == Venue.Local))
    assert(results.forall(_.rows > 0))
    assert(gs.savings.totalSavedUsd > 0)
    val health = gs.health(Some("big_orders"))
    assert(health.contains("[PASS] warehouse"))
    assert(!health.contains("[FAIL]"))
  }

  test("adapter surface composes: contract + predicated merge + tests " +
    "+ freshness in one run") {
    import graft.model.ContractColumn
    import graft.ops.DataTests
    val gs = new GraftSession(spark,
      Files.createTempDirectory("graft_gs").toString)
    // a contracted staging model feeding a predicate-bounded
    // incremental — dbt's production shape
    val staged = ModelNode("stg_orders",
      ModelConfig("table", contract = Seq(
        ContractColumn("o_orderkey", "bigint", notNull = true),
        ContractColumn("o_orderstatus", "string"),
        ContractColumn("ym", "string"))), Nil)(
      s => Tables.load(s, sf, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"),
          date_format(col("o_orderdate"), "yyyy-MM").as("ym")))
    // the staging side honors the predicate's promise (dbt's
    // is_incremental() conditional): full backfill on first build,
    // in-slice rows only afterwards — so the bounded merge stays
    // duplicate-free
    val inc = ModelNode("inc_orders",
      ModelConfig("incremental", uniqueKey = Seq("o_orderkey"),
        incrementalStrategy = "merge",
        incrementalPredicates = Some("ym >= '1997-01'")),
      Seq("model.graft.stg_orders"))(
      _ => {
        val all = gs.warehouse.read("main", "stg_orders")
        if (gs.warehouse.tableExists("main", "inc_orders"))
          all.filter(col("ym") >= "1997-01")
        else all
      })
    gs.run(Seq(inc, staged))
    gs.run(Seq(inc, staged)) // second run exercises the bounded merge
    val table = gs.warehouse.read("main", "inc_orders")
    assert(table.count() > 0)
    // dbt test + store-failures over the materialized table
    val summary = DataTests.storeFailures(gs.warehouse, Seq(
      "unique_inc_orders_key" -> DataTests.unique(table, "o_orderkey"),
      "accepted_status" -> DataTests.acceptedValues(table,
        "o_orderstatus", Seq("O", "F", "P"))))
      .collect().map(r => r.getString(0) -> r.getString(2)).toMap
    // predicate-bounded merge re-inserted the in-slice keys exactly
    // once, so uniqueness holds and the domain is closed
    assert(summary == Map("unique_inc_orders_key" -> "pass",
      "accepted_status" -> "pass"), summary.toString)
    // source freshness on the events feed classifies with the run clock
    val fresh = DataTests.sourceFreshness(
      Tables.load(spark, sf, "events"), "event_type", "ts",
      lit("2024-01-31 00:30:00").cast(
        org.apache.spark.sql.types.TimestampType), 2700L, 3600L)
    assert(fresh.count() == 5)
    // sf0.001's sparse feeds all age past the thresholds — what
    // matters is every source classified and none unclassified
    assert(fresh.filter(col("status").isin("pass", "warn", "error"))
      .count() == 5)
    assert(fresh.filter(col("max_loaded_at").isNull).count() == 0)
  }

  test("dev target applies LIMIT sampling (impl.py:403-415)") {
    val gs = new GraftSession(spark,
      Files.createTempDirectory("graft_dev").toString, target = "dev")
    val node = ModelNode("sampled",
      ModelConfig("table", devSampleSize = 7), Nil)(
      s => Tables.load(s, sf, "lineitem"))
    val r = gs.run(Seq(node))
    assert(r.head.rows == 7)
  }

  test("dev target tablesample method samples a fraction (impl.py:411)") {
    val gs = new GraftSession(spark,
      Files.createTempDirectory("graft_dev_ts").toString, target = "dev")
    val total = Tables.load(spark, sf, "lineitem").count()
    val node = ModelNode("ts_sampled",
      ModelConfig("table", devSampleMethod = "tablesample",
        devSampleFraction = 0.1), Nil)(
      s => Tables.load(s, sf, "lineitem"))
    val r = gs.run(Seq(node))
    // Bernoulli sampling: expected total/10, loose 3-sigma-ish bounds
    assert(r.head.rows > total / 20 && r.head.rows < total / 5,
      s"sampled ${r.head.rows} of $total")
    // deterministic seed: a re-run materializes the identical sample
    val r2 = gs.run(Seq(node.copy(name = "ts_sampled2",
      uniqueId = "model.graft.ts_sampled2")))
    assert(r2.head.rows == r.head.rows)
  }

  test("facade SQL entry point accepts Snowflake dialect") {
    val gs = new GraftSession(spark,
      Files.createTempDirectory("graft_sql").toString)
    Tables.registerAll(spark, sf)
    val out = gs.sql(
      "SELECT IFF(o_totalprice > 100000, 'big', 'small') AS t, " +
        "o_orderkey::VARIANT AS v FROM orders QUALIFY " +
        "ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_orderkey) = 1")
    assert(out.columns.toSeq == Seq("t", "v"))
    assert(out.count() > 0)
  }

  test("seed loads a CSV into the warehouse") {
    val gs = new GraftSession(spark,
      Files.createTempDirectory("graft_seed").toString)
    val csv = Files.createTempDirectory("seed").resolve("countries.csv")
    Files.writeString(csv,
      "code,name,population\nUS,United States,331\nIS,Iceland,0.37\n")
    val df = gs.seed(csv.toString, "countries")
    assert(df.count() == 2)
    assert(df.schema("population").dataType.typeName == "double")
  }

  test("failed model records a crash in the WAL") {
    val root = Files.createTempDirectory("graft_crash").toString
    val gs = new GraftSession(spark, root)
    val bad = ModelNode("explodes", ModelConfig("table"), Nil)(
      _ => throw new RuntimeException("boom"))
    assertThrows[RuntimeException](gs.run(Seq(bad)))
    assert(gs.state.crashCount("model.graft.explodes") == 1)
  }

  test("engine-incompatibility errors fall back to the cloud venue " +
    "(connections.py:334-371 classification)") {
    val root = Files.createTempDirectory("graft_fb").toString
    val gs = new GraftSession(spark, root)
    var calls = 0
    val flaky = ModelNode("needs_cloud", ModelConfig("table"), Nil)(
      s => {
        calls += 1
        if (calls == 1) {
          Thread.sleep(1200) // slow failed attempt — must not be billed
          throw new RuntimeException(
            "Scalar Function 'cortex_magic' does not exist")
        }
        Tables.load(s, sf, "region")
      })
    val r = gs.run(Seq(flaky))
    assert(calls == 2)
    assert(r.head.rows == 5)
    // recorded duration covers the successful retry only, not the 1.2s
    // failed attempt (else savings + the COMPLEXITY gate get poisoned)
    assert(r.head.durationSeconds < 1.0,
      s"retry duration includes the failed attempt: ${r.head.durationSeconds}")
    assert(r.head.fallback.contains(
      "Function does not exist on local engine"))
    // the crash was recorded in the WAL before the retry succeeded
    assert(gs.state.crashCount("model.graft.needs_cloud") == 1)
    // run summary carries the fallback venue + reason
    val Some((_, models)) = graft.telemetry.RunSummary
      .loadLastSession(s"$root/_graft/run_summary.json")
    val m = models.find(_.name == "needs_cloud").get
    assert(m.venue == "cloud" && m.status == "success" && m.reason.nonEmpty)
  }

  test("memory-class errors retry degraded (codegen off) and stay local") {
    val root = Files.createTempDirectory("graft_oom").toString
    val gs = new GraftSession(spark, root)
    var calls = 0
    var codegenDuringRetry: Option[String] = None
    val oomish = ModelNode("oomish", ModelConfig("table"), Nil)(
      s => {
        calls += 1
        if (calls == 1) throw new RuntimeException(
          "Not enough memory for hash aggregation")
        codegenDuringRetry = Some(s.conf.get("spark.sql.codegen.wholeStage"))
        Tables.load(s, sf, "region")
      })
    val r = gs.run(Seq(oomish))
    assert(calls == 2)
    assert(codegenDuringRetry.contains("false")) // degraded retry
    assert(spark.conf.get("spark.sql.codegen.wholeStage") != "false") // restored
    assert(r.head.fallback.contains("Local execution exhausted memory"))
    val Some((_, models)) = graft.telemetry.RunSummary
      .loadLastSession(s"$root/_graft/run_summary.json")
    assert(models.find(_.name == "oomish").get.venue == "local")
  }

  test("unclassified errors still re-raise (no blind retry)") {
    val gs = new GraftSession(spark,
      Files.createTempDirectory("graft_unc").toString)
    var calls = 0
    val bad = ModelNode("plain_bug", ModelConfig("table"), Nil)(
      _ => { calls += 1; throw new IllegalStateException("boom") })
    assertThrows[IllegalStateException](gs.run(Seq(bad)))
    assert(calls == 1)
  }

  test("classifier: storage paths mentioning 'function' are not capability errors") {
    import graft.planner.ErrorClassifier
    assert(ErrorClassifier.classify(new RuntimeException(
      "Path does not exist: /warehouse/function_logs")).isEmpty)
    assert(ErrorClassifier.classify(new RuntimeException(
      "Function to_magic does not exist")).contains(
      ErrorClassifier.MissingFunction))
  }

  // one row per reference class — mirrors the `_is_duckdb_incompatibility`
  // truth table (reference tests/test_variant_handling.py:11-45)
  test("classifier truth table matches the reference's, plus extensions") {
    import graft.planner.ErrorClassifier._
    def c(s: String) = classify(new RuntimeException(s))
    // function-not-found (incl. the "Scalar Function" wording) → fallback
    assert(c("Scalar Function 'CONVERT_TIMEZONE' does not exist")
      .contains(MissingFunction))
    // VARIANT-not-implemented → fallback
    assert(c("DuckDB error: Not implemented Error: A table cannot be " +
      "created from a VARIANT column yet").contains(VariantUnsupported))
    // general not-implemented → fallback
    assert(c("Not implemented Error: some feature").contains(NotImplemented))
    // regular error → NO fallback (missing table is missing everywhere)
    assert(c("Table 'my_table' does not exist").isEmpty)
    // syntax-error STRING → NO fallback (reference returns False; only a
    // real local ParseException is a venue capability gap)
    assert(c("Parser Error: syntax error at or near \"SELECTT\"").isEmpty)
    // extension / catalog-plugin missing (the Spark shapes of the
    // reference's failed lazy INSTALL, connections.py:908-914,1007-1008)
    assert(c("Failed to find data source: iceberg. Please find packages at" +
      " `https://spark.apache.org/third-party-projects.html`.")
      .contains(ExtensionMissing))
    assert(c("[DATA_SOURCE_NOT_FOUND] Failed to find the data source: foo")
      .contains(ExtensionMissing))
    assert(c("Catalog 'polaris' plugin class not found: " +
      "spark.sql.catalog.polaris is not defined").contains(ExtensionMissing))
  }

  test("real spill telemetry flips Gate 5 (no mocks)") {
    import graft.planner.{MetadataHarvester, PlannerConfig, TrafficController, Venue}
    val root = Files.createTempDirectory("graft_spill").toString
    // spill the window buffer every 64 rows so the model produces real
    // task-metric spill bytes at test scale (the in-memory threshold
    // must drop too, or rows never reach the spillable sorter): tens of
    // spill files, where one per row (threshold 1) opens a reader buffer
    // per row at merge and ran a 4 GB test heap out of memory
    val gs = TestSpark.withConf(
        "spark.sql.windowExec.buffer.spill.threshold" -> "64",
        "spark.sql.windowExec.buffer.in.memory.threshold" -> "1") {
      val gs = new GraftSession(spark, root)
      val node = ModelNode("spiller", ModelConfig("table"), Nil)(s => {
        import org.apache.spark.sql.expressions.Window
        Tables.load(s, sf, "orders").withColumn("rn",
          org.apache.spark.sql.functions.row_number().over(
            Window.partitionBy("o_orderstatus").orderBy("o_orderkey")))
      })
      gs.run(Seq(node))
      gs
    }
    val runs = graft.telemetry.RunSummary.loadAllRuns(
      s"$root/_graft/run_summary.json")
    assert(runs.exists(r => r.name == "spiller" && r.spillBytes > 0),
      s"expected recorded spill, got $runs")
    // the harvested average feeds Gate 5's spill clause
    val harvester = new MetadataHarvester(s"$root/_graft/run_summary.json")
    val spill = harvester.statsOf("spiller").get.avgSpillBytes
    assert(spill > 0)
    val tc = new TrafficController(PlannerConfig(maxSpillBytes = spill - 1),
      statsOf = harvester.statsOf)
    val d = tc.decide(spark, ModelNode("spiller", ModelConfig("table"), Nil)(
      s => Tables.load(s, sf, "orders")), "SELECT 1")
    assert(d.venue == Venue.Cloud && d.gate.contains("COMPLEXITY"))
    assert(d.detail.exists(_.contains("spill")))
  }

  test("recorded rows equal count() for partitioned table, append " +
    "incremental and snapshot models") {
    import org.apache.spark.sql.types.TimestampType
    val root = Files.createTempDirectory("graft_rows").toString
    val gs = new GraftSession(spark, root)
    def nodes(keys: Long) = Seq(
      ModelNode("p_orders", ModelConfig("table",
        partitionBy = Some("o_orderstatus")), Nil)(
        s => Tables.load(s, sf, "orders").filter(col("o_orderkey") < keys)),
      ModelNode("a_log", ModelConfig("incremental",
        incrementalStrategy = "append"), Nil)(
        s => Tables.load(s, sf, "nation").filter(col("n_nationkey") < keys)),
      ModelNode("s_regions", ModelConfig("snapshot",
        uniqueKey = Seq("r_regionkey"),
        snapshotUpdatedAt = Some("updated_at")), Nil)(
        s => Tables.load(s, sf, "region").withColumn("updated_at",
          lit(s"2024-01-0${keys % 9 + 1} 00:00:00").cast(TimestampType))))
    // the second run appends and versions every snapshot row
    val recorded = Seq(1000L, 20L).zipWithIndex.flatMap { case (keys, i) =>
      val now = lit(s"2024-02-0${i + 1} 00:00:00").cast(TimestampType)
      val rows = gs.run(nodes(keys), now = now).map(r => r.name -> r.rows)
      assert(rows == rows.map { case (n, _) =>
        n -> gs.warehouse.read("main", n).count() })
      rows
    }
    assert(gs.warehouse.read("main", "a_log").count() == 45)
    assert(gs.warehouse.read("main", "s_regions").count() == 10)
    // the ledger persists the same rows; within a run, models are
    // recorded as they finish, so each run's three are compared as sets
    assert(graft.telemetry.RunSummary
      .loadAllRuns(s"$root/_graft/run_summary.json")
      .map(r => r.name -> r.rows).grouped(3).map(_.toSet).toSeq ==
      recorded.grouped(3).map(_.toSet).toSeq)
  }

  test("auto-cache: SQL referencing an unknown schema.table ingests once") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft_ac").toString
    var fetches = 0
    val gs = new GraftSession(spark, root,
      sourceFetch = (schema, table) =>
        if (schema == "ext" && table == "users") {
          fetches += 1
          Some(Seq((1L, "ada"), (2L, "grace")).toDF("id", "name"))
        } else None)
    val out1 = gs.sql("SELECT id, name FROM ext.users WHERE id > 0")
    assert(out1.count() == 2 && fetches == 1)
    val out2 = gs.sql("SELECT count(*) AS n FROM ext.users")
    assert(out2.head().getLong(0) == 2)
    assert(fetches == 1) // second query hit the cache, no re-fetch
    assert(gs.cache.contains("ext", "users"))
  }

  test("console receives the run lifecycle and the summary block") {
    import spark.implicits._
    val buf = scala.collection.mutable.ArrayBuffer[String]()
    val console = new graft.telemetry.Console(
      graft.telemetry.Verbosity.Verbose, line => buf.synchronized(buf += line))
    val gs = new GraftSession(spark,
      Files.createTempDirectory("graft_con").toString,
      sourceFetch = (schema, table) =>
        if (schema == "ext" && table == "pets")
          Some(Seq((1L, "rex")).toDF("id", "name"))
        else None,
      console = console)
    gs.sql("SELECT * FROM ext.pets")
    val node = ModelNode("regions", ModelConfig("table"), Nil)(
      s => Tables.load(s, sf, "region"))
    gs.run(Seq(node))
    val out = buf.mkString("\n")
    // ingest path: step + progress-bar success (console.py:162-202)
    assert(out.contains("> Downloading ext.pets..."))
    assert(out.contains("+ Cached ext.pets [####################] 100%"))
    // run path: step, per-model success, closing summary block
    assert(out.contains("> Materializing regions..."))
    assert(out.matches("(?s).*\\+ regions \\(local, \\d+\\.\\ds, 5 rows\\).*"))
    assert(out.contains("GRAFT RUN SUMMARY"))
    assert(out.contains("Local (FREE):  1 (100%)"))
  }

  // Iceberg DDL — mirrors reference tests/test_bridge.py:16-99
  test("iceberg DDL per cloud dialect") {
    val cfg = IcebergConfig("analytics", "orders",
      catalogIntegration = Some("POLARIS_INT"),
      externalVolume = Some("S3_VOL"), partitionBy = Some("date"),
      location = Some("s3://bucket/path"),
      connection = Some("project-connection"))
    val sql = "SELECT * FROM stg"
    val sf = IcebergDdl.construct(IcebergDdl.Snowflake, sql, cfg)
    assert(sf.contains("CREATE OR REPLACE ICEBERG TABLE analytics.orders"))
    assert(sf.contains("CATALOG_INTEGRATION = 'POLARIS_INT'"))
    assert(sf.contains("EXTERNAL_VOLUME = 'S3_VOL'"))
    assert(sf.contains("PARTITION BY (date)"))
    val db = IcebergDdl.construct(IcebergDdl.Databricks, sql, cfg)
    assert(db.contains("USING ICEBERG") &&
      db.contains("LOCATION 's3://bucket/path'") &&
      db.contains("PARTITIONED BY (date)"))
    val bq = IcebergDdl.construct(IcebergDdl.BigQuery, sql, cfg)
    assert(bq.contains("EXTERNAL TABLE `analytics.orders`") &&
      bq.contains("WITH CONNECTION `project-connection`") &&
      bq.contains("format = 'ICEBERG'"))
    val at = IcebergDdl.construct(IcebergDdl.Athena, sql, cfg)
    assert(at.contains("table_type = 'ICEBERG'") &&
      at.contains("location = 's3://bucket/path'") &&
      !at.contains("OR REPLACE"))
  }

  test("failure-injected DAG: crash recorded, rerun resumes in topo " +
    "order, final warehouse equals the no-failure run") {
    import org.apache.spark.sql.types.TimestampType
    val t1 = lit("2024-01-01 00:00:00").cast(TimestampType)
    var flakyAttempts = 0

    // 10-model mixed DAG: 4 tables, 2 incrementals (merge +
    // partition delete+insert), 1 snapshot, 2 views, 1 flaky table.
    // Every materialization is rerun-idempotent (merge dedupes on the
    // unique key, delete+insert rewrites its partitions, the snapshot
    // sees unchanged rows), so a crashed run + a full rerun must
    // converge to the same warehouse as a single clean run.
    def nodes(gs: GraftSession, inject: Boolean): Seq[ModelNode] = {
      def wh = gs.warehouse
      Seq(
        ModelNode("t_orders", ModelConfig("table"), Nil)(
          s => Tables.load(s, sf, "orders")
            .filter(col("o_totalprice") > 50000)),
        ModelNode("t_lineitem", ModelConfig("table"), Nil)(
          s => Tables.load(s, sf, "lineitem")
            .select("l_orderkey", "l_linenumber", "l_quantity",
              "l_returnflag", "l_shipdate")),
        ModelNode("t_cust", ModelConfig("table"), Nil)(
          s => Tables.load(s, sf, "customer")),
        ModelNode("i_big_items",
          ModelConfig("incremental", uniqueKey = Seq("l_orderkey",
            "l_linenumber"), incrementalStrategy = "merge"),
          Seq("model.graft.t_lineitem"))(
          _ => wh.read("main", "t_lineitem").filter(col("l_quantity") > 30)),
        ModelNode("t_joined", ModelConfig("table"),
          Seq("model.graft.t_orders", "model.graft.t_cust"))(
          _ => wh.read("main", "t_orders").join(wh.read("main", "t_cust"),
            col("o_custkey") === col("c_custkey"))
            .select("o_orderkey", "o_totalprice", "c_name", "c_nationkey")),
        ModelNode("t_flaky", ModelConfig("table"),
          Seq("model.graft.i_big_items"))(
          _ => {
            if (inject) {
              flakyAttempts += 1
              if (flakyAttempts == 1)
                throw new RuntimeException("injected first-attempt failure")
            }
            wh.read("main", "i_big_items")
              .groupBy("l_returnflag").count()
          }),
        ModelNode("i_status",
          ModelConfig("incremental", incrementalStrategy = "delete+insert",
            partitionBy = Some("l_returnflag")),
          Seq("model.graft.i_big_items"))(
          _ => wh.read("main", "i_big_items")
            .groupBy("l_returnflag", "l_shipdate")
            .agg(count(lit(1)).as("n"))),
        ModelNode("s_snap",
          ModelConfig("snapshot", uniqueKey = Seq("r_regionkey"),
            snapshotUpdatedAt = Some("updated_at")), Nil)(
          s => Tables.load(s, sf, "region").withColumn("updated_at", t1)),
        ModelNode("v_top", ModelConfig("view"),
          Seq("model.graft.t_flaky"))(
          _ => wh.read("main", "t_flaky").filter(col("count") > 0)),
        ModelNode("v_dims", ModelConfig("view"), Nil)(
          s => Tables.load(s, sf, "nation").select("n_nationkey", "n_name")))
    }

    def contents(gs: GraftSession, names: Seq[String]) = names.map { n =>
      val df = gs.warehouse.read("main", n)
      n -> df.select(df.columns.sorted.map(col): _*)
        .collect().map(_.toString).toSet
    }.toMap

    val allNames = Seq("t_orders", "t_lineitem", "t_cust", "i_big_items",
      "t_joined", "t_flaky", "i_status", "s_snap", "v_top", "v_dims")

    // reference: one clean run in its own warehouse
    val refRoot = Files.createTempDirectory("graft_dag_ref").toString
    val gsRef = new GraftSession(spark, refRoot)
    val refResults = gsRef.run(nodes(gsRef, inject = false), now = t1)
    val refContents = contents(gsRef, allNames)

    // run 1 with injection: aborts at t_flaky
    val root = Files.createTempDirectory("graft_dag_fail").toString
    val gs1 = new GraftSession(spark, root)
    assertThrows[RuntimeException](gs1.run(nodes(gs1, inject = true), now = t1))
    assert(gs1.state.crashCount("model.graft.t_flaky") == 1)
    // flaky's upstream materialized, its downstream did not
    assert(gs1.warehouse.tableExists("main", "i_big_items"))
    assert(!gs1.warehouse.tableExists("main", "t_flaky"))

    // run 2 from a FRESH session over the same warehouse (crash
    // recovery): resumes the whole DAG in topo order and succeeds
    val gs2 = new GraftSession(spark, root)
    val results2 = gs2.run(nodes(gs2, inject = true), now = t1)
    assert(results2.map(_.name) == refResults.map(_.name),
      "rerun topo order differs from the clean run")
    allNames.foreach { n =>
      val idx = results2.indexWhere(_.name == n)
      nodes(gs2, inject = false).find(_.name == n).get.dependsOn.foreach {
        dep =>
          val depIdx = results2.indexWhere("model.graft." + _.name == dep)
          assert(depIdx < idx, s"$dep ran after $n")
      }
    }
    // the crash survives in the WAL after recovery
    assert(gs2.state.crashCount("model.graft.t_flaky") == 1)
    // and the final warehouse is identical to the no-failure run
    val gotContents = contents(gs2, allNames)
    allNames.foreach { n =>
      assert(gotContents(n) == refContents(n), s"$n diverged after recovery")
      assert(gotContents(n).nonEmpty, s"$n is empty")
    }
  }

  // ------------------------------------------------- concurrent models

  /** The model ids in the persisted WAL's successes, crashes and running
    * entries. */
  private def walOf(root: String): (Set[String], Set[String], Set[String]) = {
    import scala.jdk.CollectionConverters._
    val j = new com.fasterxml.jackson.databind.ObjectMapper().readTree(
      java.nio.file.Paths.get(root, "_graft", "state.json").toFile)
    def ids(field: String) = j.path(field).fieldNames().asScala
      .map(_.stripPrefix("model.graft.")).toSet
    (ids("successes"), ids("crashes"), ids("running"))
  }

  test("concurrent run: an unclassified build failure is raised, its " +
    "running siblings finish, nothing downstream runs, WAL = ledger") {
    val root = Files.createTempDirectory("graft_conc_fail").toString
    val gs = new GraftSession(spark, root)
    var downstreamBuilt = false
    val nodes = Seq(
      ModelNode("a_ok", ModelConfig("table"), Nil)(
        s => Tables.load(s, sf, "nation")),
      ModelNode("b_ok", ModelConfig("table"), Nil)(
        s => Tables.load(s, sf, "region")),
      // the last parentless model in topological order: both siblings
      // are in flight when its build throws
      ModelNode("c_bad", ModelConfig("table"), Nil)(
        _ => throw new IllegalStateException("c_bad broke")),
      ModelNode("d_after_bad", ModelConfig("table"),
        Seq("model.graft.c_bad"))(s => {
        downstreamBuilt = true
        Tables.load(s, sf, "region")
      }),
      // ready only after a_ok, and after c_bad in topological order: the
      // failure has stopped new launches by then
      ModelNode("e_after_a", ModelConfig("table"), Seq("model.graft.a_ok"))(
        s => Tables.load(s, sf, "region")))
    val err = intercept[IllegalStateException](gs.run(nodes))
    assert(err.getMessage == "c_bad broke")
    assert(gs.warehouse.tableExists("main", "a_ok"))
    assert(gs.warehouse.tableExists("main", "b_ok"))
    Seq("c_bad", "d_after_bad", "e_after_a").foreach(n =>
      assert(!gs.warehouse.tableExists("main", n), n))
    assert(!downstreamBuilt)
    val Some((_, models)) = graft.telemetry.RunSummary
      .loadLastSession(s"$root/_graft/run_summary.json")
    val ledger = models.map(m => m.name -> m.status).toMap
    assert(ledger == Map("a_ok" -> "success", "b_ok" -> "success",
      "c_bad" -> "error"))
    val (ok, crashed, running) = walOf(root)
    assert(running.isEmpty)
    nodes.map(_.name).foreach { n =>
      val wal = if (ok(n)) "success" else if (crashed(n)) "error" else "never"
      assert(wal == ledger.getOrElse(n, "never"), n)
    }
  }

  test("concurrent run: a degraded retry waits for its in-flight " +
    "sibling, which writes with whole-stage codegen on") {
    val key = "spark.sql.codegen.wholeStage"
    val gs = new GraftSession(spark,
      Files.createTempDirectory("graft_conc_retry").toString)
    var calls = 0
    var retryBuild: Option[(Long, String)] = None
    val nodes = Seq(
      ModelNode("a_slow", ModelConfig("table"), Nil)(
        s => TaskProbe.slowRows(s, "retry_sibling")),
      ModelNode("b_oomish", ModelConfig("table"), Nil)(s => {
        calls += 1
        if (calls == 1) throw new RuntimeException(
          "Not enough memory for hash aggregation")
        retryBuild = Some(System.nanoTime() -> s.conf.get(key))
        Tables.load(s, sf, "region")
      }))
    val r = gs.run(nodes)
    assert(calls == 2)
    assert(r.map(_.name) == Seq("a_slow", "b_oomish"))
    assert(r(1).fallback.contains("Local execution exhausted memory"))
    val (retryAt, retryConf) = retryBuild.get
    assert(retryConf == "false")
    val sibling = TaskProbe.seen("retry_sibling")
    assert(sibling.size == 4)
    assert(sibling.forall(_._2 == "true"), sibling)
    assert(sibling.map(_._1).max < retryAt,
      "the degraded retry began while its sibling was writing")
    assert(spark.conf.get(key) != "false")
  }

  test("concurrent run: builds run on the calling thread in topological " +
    "order, independent writes overlap") {
    val gs = new GraftSession(spark,
      Files.createTempDirectory("graft_conc_threads").toString)
    val builds = scala.collection.mutable.ArrayBuffer[(String, Thread, Long)]()
    def node(name: String, deps: Seq[String])(
        body: org.apache.spark.sql.SparkSession => org.apache.spark.sql.DataFrame) =
      ModelNode(name, ModelConfig("table"), deps.map("model.graft." + _))(
        s => {
          builds += ((name, Thread.currentThread, System.nanoTime()))
          body(s)
        })
    val nodes = Seq(
      node("joined", Seq("p1", "p2"))(
        _ => gs.warehouse.read("main", "p1")
          .union(gs.warehouse.read("main", "p2"))),
      node("p1", Nil)(s => TaskProbe.slowRows(s, "threads_p1")),
      node("p2", Nil)(s => TaskProbe.slowRows(s, "threads_p2")),
      node("v", Nil)(s => Tables.load(s, sf, "region")))
    val r = gs.run(nodes)
    assert(r.map(_.name) == Seq("p1", "p2", "joined", "v"))
    assert(builds.forall(_._2 eq Thread.currentThread), builds)
    // the three parentless models build first, the child after its parents
    assert(builds.map(_._1).toSeq == Seq("p1", "p2", "v", "joined"))
    val (p1, p2) = (TaskProbe.seen("threads_p1").map(_._1),
      TaskProbe.seen("threads_p2").map(_._1))
    assert(p1.min < p2.max && p2.min < p1.max, "p1 and p2 did not overlap")
    assert(builds.last._3 > (p1 ++ p2).max)
    assert(r.find(_.name == "joined").get.rows == 8)
  }

  test("spill is attributed by job group: of two concurrent models only " +
    "the spilling one records spill") {
    val root = Files.createTempDirectory("graft_spill_group").toString
    // the spill thresholds of "real spill telemetry flips Gate 5"
    TestSpark.withConf(
        "spark.sql.windowExec.buffer.spill.threshold" -> "64",
        "spark.sql.windowExec.buffer.in.memory.threshold" -> "1") {
      val gs = new GraftSession(spark, root)
      gs.run(Seq(
        // still writing when the spiller has finished: its group sees
        // none of the spiller's spill
        ModelNode("quiet", ModelConfig("table"), Nil)(
          s => TaskProbe.rowsAfter(s, s"$root/main/spiller/_SUCCESS")),
        ModelNode("spiller", ModelConfig("table"), Nil)(s => {
          import org.apache.spark.sql.expressions.Window
          Tables.load(s, sf, "orders").withColumn("rn", row_number().over(
            Window.partitionBy("o_orderstatus").orderBy("o_orderkey")))
        })))
    }
    val runs = graft.telemetry.RunSummary.loadAllRuns(
      s"$root/_graft/run_summary.json").map(r => r.name -> r.spillBytes).toMap
    assert(runs("spiller") > 0, runs)
    assert(runs("quiet") == 0, runs)
  }

  test("run summary records sessions and persists JSON") {
    val root = Files.createTempDirectory("graft_rs").toString
    val gs = new GraftSession(spark, root)
    val node = ModelNode("regions", ModelConfig("table"), Nil)(
      s => Tables.load(s, sf, "region"))
    gs.run(Seq(node))
    assert(gs.runSummary.render.contains("1 models (1 ok, 0 failed)"))
    assert(gs.runSummary.render.contains("5 rows produced"))
    // the run's wall time sits beside the summed model seconds
    assert(gs.runSummary.render.matches(
      ".* s total over models in \\d+\\.\\d s wall, .*"))
    assert(graft.telemetry.RunSummary.loadLastWallSeconds(
      s"$root/_graft/run_summary.json").contains(gs.runSummary.wallSeconds))
    // persisted JSON readable by a fresh reader
    val reader = new graft.telemetry.RunSummary(
      s"$root/_graft/run_summary.json")
    assert(reader.loadModelCount() == 1)
    // failures recorded too
    val bad = ModelNode("boom", ModelConfig("table"), Nil)(
      _ => throw new RuntimeException("x"))
    assertThrows[RuntimeException](gs.run(Seq(bad)))
    assert(gs.runSummary.render.contains("1 failed"))
  }

  test("GraftSession seeds the engine AQE floor, never overriding an " +
    "explicit deployment setting") {
    val key = EngineDefaults.MinPartKey
    val root = Files.createTempDirectory("graft_seed").toString
    // the shared session's own floor comes back afterwards
    TestSpark.withConf(key -> "2m") {
      // an explicit deployment choice survives construction
      new GraftSession(spark, root)
      assert(spark.conf.get(key) == "2m")
      // deployment-built session with no explicit floor: seeded
      spark.conf.unset(key)
      new GraftSession(spark, root)
      assert(spark.conf.get(key) == EngineDefaults.minPartitionSize)
    }
  }
}

/** Task-side probes for the concurrent-run specs. [[slowRows]] is a
  * slow four-row model whose tasks record, per row, the instant and the
  * shared session's live whole-stage codegen setting under a tag. */
object TaskProbe {
  private val rows =
    new java.util.concurrent.ConcurrentLinkedQueue[(String, Long, String)]()

  private val probe = udf { (tag: String, id: Long) =>
    Thread.sleep(150)
    rows.add((tag, System.nanoTime(),
      TestSpark.session.conf.get("spark.sql.codegen.wholeStage")))
    id
  }

  def slowRows(s: org.apache.spark.sql.SparkSession,
      tag: String): org.apache.spark.sql.DataFrame =
    s.range(0, 4, 1, 1).toDF("id").select(probe(lit(tag), col("id")).as("id"))

  private val await = udf { (path: String, id: Long) =>
    val deadline = System.nanoTime() + 60e9.toLong
    while (!java.nio.file.Files.exists(java.nio.file.Paths.get(path)) &&
      System.nanoTime() < deadline) Thread.sleep(20)
    id
  }

  /** A one-row model whose task waits until `path` exists. */
  def rowsAfter(s: org.apache.spark.sql.SparkSession,
      path: String): org.apache.spark.sql.DataFrame =
    s.range(0, 1, 1, 1).toDF("id").select(await(lit(path), col("id")).as("id"))

  def seen(tag: String): Seq[(Long, String)] = {
    import scala.jdk.CollectionConverters._
    rows.asScala.toSeq.collect { case (`tag`, t, conf) => (t, conf) }
  }
}
