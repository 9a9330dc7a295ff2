package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.model.{ModelConfig, ModelNode}
import graft.planner._

/** Router behavioral table — mirrors the reference's router tests
  * (reference tests/test_auto_router.py:35-266, tests/test_traffic.py:
  * 13-140, tests/test_state_metadata.py:16-94; FIXTURES.md §A). */
class PlannerSpec extends AnyFunSuite {
  lazy val spark = TestSpark.session

  private def node(name: String, cfg: ModelConfig = ModelConfig(),
      deps: Seq[String] = Nil) = ModelNode(name, cfg, deps)(_ => null)

  // ---------------------------------------- router (auto_router.py cases)
  test("external sources route CLOUD (s3/stage/copy into/3-part)") {
    val r = new TrafficController()
    val cases = Seq(
      "SELECT * FROM read_parquet('s3://my-bucket/data/f.parquet')",
      "SELECT * FROM @my_stage/data/",
      "COPY INTO my_table FROM @stage/file.csv",
      "SELECT * FROM other_db.schema.table_name")
    cases.foreach { sql =>
      val d = r.decide(spark, node("m"), sql)
      assert(d.venue == Venue.Cloud, sql)
      assert(d.reason == RoutingReason.ExternalSource, sql)
    }
  }

  test("iceberg catalog references stay LOCAL") {
    val r = new TrafficController()
    val d = r.decide(spark, node("m"),
      "SELECT * FROM iceberg_catalog.my_namespace.customers")
    assert(d.venue == Venue.Local)
  }

  test("cloud-only functions route CLOUD") {
    val r = new TrafficController()
    Seq("SELECT cortex.complete('hi') FROM t",
      "SELECT snowflake.ml.predict(1) FROM t",
      "SELECT system$stream_has_data('s')").foreach { sql =>
      val d = r.decide(spark, node("m"), sql)
      assert(d.venue == Venue.Cloud && d.reason == RoutingReason.CloudFunction, sql)
    }
  }

  test("window dedup flagship and multi-joins stay LOCAL") {
    val r = new TrafficController()
    val dedup =
      """WITH ranked AS (SELECT id, name, amount,
        |  ROW_NUMBER() OVER (PARTITION BY customer_id
        |    ORDER BY created_at DESC) rn
        |  FROM orders WHERE status = 'completed')
        |SELECT id, name, amount FROM ranked WHERE rn = 1""".stripMargin
    assert(r.decide(spark, node("m"), dedup).venue == Venue.Local)
    val joins =
      """SELECT o.id, c.name FROM orders o
        |JOIN customers c ON o.customer_id = c.id
        |LEFT JOIN products p ON o.product_id = p.id
        |WHERE o.created_at >= '2024-01-01'""".stripMargin
    assert(r.decide(spark, node("m"), joins).venue == Venue.Local)
  }

  test("user override beats everything; volume gate fires at >5GB") {
    val r = new TrafficController()
    val d = r.decide(spark,
      node("m", ModelConfig(routeOverride = Some("local"))),
      "SELECT * FROM s3://bucket/x/")
    assert(d.venue == Venue.Local &&
      d.reason == RoutingReason.UserOverrideLocal)
    val big = r.decide(spark,
      node("m", ModelConfig(estimatedSizeGb = Some(100.0))), "SELECT 1")
    assert(big.venue == Venue.Cloud &&
      big.reason == RoutingReason.LargeVolume)
  }

  test("cloud-routed upstream dependency propagates") {
    val r = new TrafficController()
    r.decide(spark, node("up"), "SELECT * FROM s3://b/x/") // CLOUD
    val d = r.decide(spark, node("down", deps = Seq("model.graft.up")),
      "SELECT 1")
    assert(d.venue == Venue.Cloud &&
      d.reason == RoutingReason.CloudDependency)
  }

  // -------------------------------------------- router (traffic.py cases)
  test("gates: internal source, toxic types, slow telemetry, size") {
    val tc0 = new TrafficController()
    assert(tc0.decide(spark, node("m"), "SELECT 1",
      Seq(SourceMeta("src", format = Some("internal")))).gate
      .contains("GRAVITY"))
    assert(tc0.decide(spark,
      node("m", ModelConfig(toxicTypes = Seq("GEOGRAPHY"))),
      "SELECT 1").reason == RoutingReason.ToxicTypes)
    val tc1 = new TrafficController(statsOf =
      _ => Some(ModelStats(avgSeconds = 3600, avgSpillBytes = 0)))
    assert(tc1.decide(spark, node("slow_model"), "SELECT 1").gate
      .contains("COMPLEXITY"))
    val tc2 = new TrafficController()
    assert(tc2.decide(spark,
      node("m", ModelConfig(estimatedSizeGb = Some(100.0))),
      "SELECT 1").gate.contains("PHYSICS"))
    assert(tc2.decide(spark, node("m"), "SELECT a FROM t").reason ==
      RoutingReason.DefaultLocal)
  }

  test("capability gate: Snowflake syntax transpiles, garbage does not") {
    val tc = new TrafficController()
    assert(tc.canTranspile(spark,
      "SELECT data:a.b::string FROM t QUALIFY ROW_NUMBER() OVER (ORDER BY x) = 1"))
    assert(!tc.canTranspile(spark, "SELEKT garbage FRM"))
    assert(tc.decide(spark, node("m"), "SELEKT garbage FRM").reason ==
      RoutingReason.Untranspilable)
  }

  // ------------------------------------------------------ StateManager
  test("WAL: dangling running = crash; 3 crashes = blacklist") {
    val wal = Files.createTempDirectory("graft_wal").toString + "/state.json"
    val s1 = new StateManager(wal)
    s1.markRunning("model.x")
    // new instance sees the dangling entry => crash recorded
    val s2 = new StateManager(wal)
    assert(s2.crashCount("model.x") == 1)
    assert(!s2.isBlacklisted("model.x"))
    s2.markCrash("model.x")
    s2.markCrash("model.x")
    assert(s2.isBlacklisted("model.x"))
    // router consults the WAL
    val r = new TrafficController(state = s2)
    val d = r.decide(spark, ModelNode("x", ModelConfig(), Nil)(_ => null)
      .copy(uniqueId = "model.x"), "SELECT 1")
    assert(d.venue == Venue.Cloud &&
      d.reason == RoutingReason.CrashHistory && d.gate.contains("STABILITY"))
  }

  test("WAL: success clears running; savings share") {
    val wal = Files.createTempDirectory("graft_wal2").toString + "/state.json"
    val s1 = new StateManager(wal)
    s1.markRunning("model.y")
    s1.markSuccess("model.y")
    s1.markRunning("model.z")
    s1.markSuccess("model.z", Venue.Cloud)
    val s2 = new StateManager(wal)
    assert(s2.crashCount("model.y") == 0)
    assert(s2.localSharePct == 50.0)
  }

  // ------------------------------------------------------- MemoryGuard
  test("memory guard classes and multipliers") {
    def facts(joins: Int, windows: Int, cube: Boolean = false) =
      QueryFacts(Set(), Nil, joins, windows, 0, cube, parsed = true, Nil)
    assert(MemoryGuard.check(facts(0, 0), 1.0, 16).multiplier == 1.2)
    assert(MemoryGuard.check(facts(1, 0), 1.0, 16).multiplier == 1.5)
    assert(MemoryGuard.check(facts(5, 0), 1.0, 16).multiplier == 2.5)
    assert(MemoryGuard.check(facts(0, 0, cube = true), 1.0, 16).multiplier == 4.0)
    // 10 GB complex query vs 16 GB RAM: 25 > (16-1)*0.8 = 12 -> no fit
    assert(!MemoryGuard.check(facts(5, 0), 10.0, 16).fits)
    assert(MemoryGuard.check(facts(0, 0), 1.0, 16).fits)
  }

  // ---------------------------------------------------- QueryAnalyzer
  test("plan-walk facts: joins, windows, functions, 3-part names") {
    val f = QueryAnalyzer.analyze(spark,
      """SELECT a, ROW_NUMBER() OVER (PARTITION BY b ORDER BY c) rn,
        |  upper(d) FROM t1 JOIN t2 ON t1.id = t2.id
        |  JOIN db.sch.t3 ON t2.k = t3.k""".stripMargin)
    assert(f.parsed && f.joinCount == 2 && f.windowCount == 1)
    assert(f.functions.contains("upper"))
    assert(f.threePartRelations == Seq("db.sch.t3"))
    assert(f.complexityClass == "medium") // reference: complex needs >4 joins
  }

  // ----------------------------------------------- MetadataHarvester
  test("harvested run history flips the COMPLEXITY gate without mocks") {
    val root = Files.createTempDirectory("graft_mh").toString
    val path = s"$root/run_summary.json"
    // two recorded sessions: slow_model averages 900 s (> 600 s limit),
    // fast_model averages 2 s
    val rs = new graft.telemetry.RunSummary(path, clock = () => 1000L)
    rs.record(graft.telemetry.ModelRun("slow_model", "local", 800.0, 10, "success"))
    rs.record(graft.telemetry.ModelRun("fast_model", "local", 2.0, 10, "success"))
    rs.persist()
    val rs2 = new graft.telemetry.RunSummary(path, clock = () => 2000L)
    rs2.record(graft.telemetry.ModelRun("slow_model", "local", 1000.0, 10, "success"))
    rs2.persist()

    val harvester = new MetadataHarvester(path)
    val slow = harvester.statsOf("model.graft.slow_model").get
    assert(math.abs(slow.avgSeconds - 900.0) < 1e-9 && slow.runCount == 2)

    val tc = new TrafficController(statsOf = harvester.statsOf)
    val dSlow = tc.decide(spark, node("slow_model"), "SELECT 1")
    assert(dSlow.venue == Venue.Cloud && dSlow.gate.contains("COMPLEXITY"))
    val dFast = tc.decide(spark, node("fast_model"), "SELECT 1")
    assert(dFast.venue == Venue.Local)
  }

  test("legacy single-session ledger reads through both loaders") {
    import graft.telemetry.{ModelRun, RunSummary}
    // before the `sessions` history the ledger was ONE session object
    // with `models` at its top level; old warehouses still carry it
    val path = Files.createTempDirectory("graft_legacy")
      .resolve("run_summary.json").toString
    Files.writeString(java.nio.file.Paths.get(path),
      """{"started_at": 1234, "models": [
        | {"name": "a", "venue": "local", "duration_seconds": 1.5,
        |  "rows": 7, "status": "success"},
        | {"name": "b", "venue": "cloud", "duration_seconds": 2.0,
        |  "rows": 0, "status": "error", "reason": "boom",
        |  "spill_bytes": 9}]}""".stripMargin)
    val expected = Seq(ModelRun("a", "local", 1.5, 7, "success"),
      ModelRun("b", "cloud", 2.0, 0, "error", "boom", 9))
    assert(RunSummary.loadAllRuns(path) == expected)
    assert(RunSummary.loadLastSession(path) == Some((1234L, expected)))
    assert(new RunSummary(path).loadModelCount() == 2)
  }

  test("plan-walk sees inside CTE bodies") {
    val f = QueryAnalyzer.analyze(spark,
      """WITH ranked AS (SELECT id,
        |  ROW_NUMBER() OVER (PARTITION BY c ORDER BY t DESC) rn
        |  FROM orders JOIN x ON orders.id = x.id)
        |SELECT * FROM ranked WHERE rn = 1""".stripMargin)
    assert(f.joinCount == 1 && f.windowCount == 1)
    assert(f.complexityClass == "medium")
  }
}
