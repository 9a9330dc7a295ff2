package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.model.{ModelConfig, ModelNode}
import graft.planner.{StateManager, Venue}
import graft.telemetry.{ModelRun, RunSummary}

/** `GraftSession.run` routes and `GraftSession.explain` reports with one
  * gate list: for every routing condition, the decision a run takes is
  * the verdict explain prints. */
class RoutingAgreementSpec extends AnyFunSuite {
  lazy val spark = TestSpark.session

  /** One routing condition on model `m`: its SQL text and config, an
    * optional upstream model with its own SQL, and history written to
    * the warehouse before the session opens it. */
  private case class Case(name: String, venue: Venue, gate: String,
      sql: String = "SELECT 1", cfg: ModelConfig = ModelConfig(),
      upstreamSql: Option[String] = None,
      history: String => Unit = _ => ())

  private val s3 = "SELECT * FROM read_parquet('s3://bucket/data/f.parquet')"

  private val cases = Seq(
    Case("s3 SQL", Venue.Cloud, "GRAVITY", sql = s3),
    Case("@stage", Venue.Cloud, "GRAVITY",
      sql = "SELECT * FROM @my_stage/data/"),
    Case("cloud-only function", Venue.Cloud, "CAPABILITY",
      sql = "SELECT cortex.complete('hi') FROM t"),
    Case("garbage SQL", Venue.Cloud, "CAPABILITY", sql = "SELEKT garbage FRM"),
    Case("toxicTypes", Venue.Cloud, "CAPABILITY",
      cfg = ModelConfig(toxicTypes = Seq("GEOGRAPHY"))),
    Case("spill history", Venue.Cloud, "COMPLEXITY", history = root => {
      val rs = new RunSummary(s"$root/_graft/run_summary.json")
      rs.record(ModelRun("m", "local", 1.0, 3, "success",
        spillBytes = 2L << 30))
      rs.persist()
    }),
    Case("crash WAL", Venue.Cloud, "STABILITY", history = root => {
      val wal = new StateManager(s"$root/_graft/state.json")
      (1 to 3).foreach(_ => wal.markCrash("model.graft.m"))
    }),
    Case("cloud upstream", Venue.Cloud, "GRAVITY", upstreamSql = Some(s3)),
    Case("override", Venue.Cloud, "INTENT",
      cfg = ModelConfig(routeOverride = Some("cloud"))),
    Case("local override", Venue.Local, "INTENT", sql = s3,
      cfg = ModelConfig(routeOverride = Some("local"))),
    Case("volume", Venue.Cloud, "PHYSICS",
      cfg = ModelConfig(estimatedSizeGb = Some(100.0))),
    Case("no condition", Venue.Local, "DEFAULT"))

  private def node(name: String, cfg: ModelConfig, deps: Seq[String]) =
    ModelNode(name, cfg, deps)(s => s.range(3).toDF("id"))

  cases.foreach { c =>
    test(s"run and explain agree: ${c.name}") {
      val root = Files.createTempDirectory("graft_route").toString
      c.history(root)
      val gs = new GraftSession(spark, root)
      val up = c.upstreamSql.map(_ => node("up", ModelConfig(), Nil))
      val m = node("m", c.cfg, up.map(_.uniqueId).toSeq)
      val sqlOf = Map("m" -> c.sql) ++ c.upstreamSql.map("up" -> _)
      val nodes = up.toSeq :+ m
      // explain before the run: a run adds to the history the gates read
      val verdicts = nodes.map(n =>
        n.name -> gs.explain(n, sqlOf(n.name)).linesIterator.toSeq.last).toMap
      val results = gs.run(nodes, sqlOf = n => sqlOf(n.name))
      results.foreach(r =>
        assert(verdicts(r.name) == s"  => ${r.decision.render}", r.name))
      val d = results.last.decision
      assert(d.venue == c.venue && d.gate.contains(c.gate), d.render)
    }
  }
}
