package graft.planner

import scala.util.Try

import org.apache.spark.sql.SparkSession

import graft.model.ModelNode
import graft.transpile.SnowflakeSql

/** The venue router: one ordered gate list, a port of the reference's
  * `TrafficController.decide` (reference `traffic.py:96-152`) with the
  * checks of its `AutoRouter` (`auto_router.py:192-291`) folded in:
  *
  *  1. INTENT     — user override (`icebreaker_route`)
  *  2. GRAVITY    — data must stay where it lives: internal sources;
  *                  external sources (stage/URL/COPY INTO patterns,
  *                  external source metadata, 3-part names — the
  *                  `iceberg_catalog` is exempt, it is locally
  *                  scannable, auto_router.py:181-190); an upstream model
  *                  this router sent CLOUD for an external source or a
  *                  cloud-only function
  *  3. CAPABILITY — cloud-only functions, toxic types, untranspilable SQL
  *  4. STABILITY  — crash WAL (dangling `running` / repeated crashes)
  *  5. COMPLEXITY — telemetry: avg runtime > `maxLocalSeconds` or spill >
  *                  `maxSpillBytes`
  *  6. PHYSICS    — declared input volume > `maxLocalSizeGb`
  *  default       — LOCAL (free!)
  *
  * [[decide]] returns the first gate that fires; [[explain]] renders
  * every gate's finding next to that same decision, so the two cannot
  * disagree. Every gate that fires CLOUD names the same venue, so the
  * order only picks the reported reason.
  *
  * CAPABILITY's "can_transpile dry-run" becomes: our transpiler rewrite +
  * Spark's parser accept the SQL (the reference calls sqlglot the same
  * way, traffic.py:250-259). Empty SQL (a DataFrame-defined model) starts
  * no parse and no regex scan.
  */
final class TrafficController(
    config: PlannerConfig = PlannerConfig(),
    state: StateManager = null,
    statsOf: String => Option[ModelStats] = _ => None) {

  /** Types Spark cannot represent (reference "toxic types",
    * traffic.py:250-259 + tests/test_traffic.py:74-85). */
  val toxicTypes: Set[String] = Set("GEOGRAPHY", "GEOMETRY")

  /** The models this router last sent CLOUD for an external source or a
    * cloud-only function, read by GRAVITY's upstream check (callers
    * decide in topological order). */
  private val cloudRouted = scala.collection.mutable.Set[String]()

  /** What the gates read about one model; the SQL is analyzed at most
    * once, and only when a gate asks. */
  private final class Probe(spark: SparkSession, val model: ModelNode,
      val sql: String, val sources: Seq[SourceMeta]) {
    val hasSql: Boolean = sql.trim.nonEmpty
    lazy val facts: Option[QueryFacts] =
      if (hasSql) Some(QueryAnalyzer.analyze(spark, sql)) else None
    lazy val transpiles: Boolean = canTranspile(spark, sql)
  }

  /** One routing gate: `check` fires a decision or passes the model on;
    * `seen` says what a passing gate read, for [[explain]] only. */
  private final case class Gate(name: String,
      check: Probe => Option[RoutingDecision], seen: Probe => String)

  private def cloud(reason: String, detail: String) =
    RoutingDecision(Venue.Cloud, reason, detail = Some(detail))

  // `run` decides a DAG's models before the JIT compiles this code, so the
  // walk and the checks are plain matches with no per-call closures on the
  // empty-SQL path: interpreted, iterator chains and by-name `orElse`s
  // measured about twice the cost per model
  private val gates: List[Gate] = List(
    Gate("INTENT", p => p.model.config.routeOverride match {
      case Some("cloud") =>
        Some(RoutingDecision(Venue.Cloud, RoutingReason.UserOverride))
      case Some("local") =>
        Some(RoutingDecision(Venue.Local, RoutingReason.UserOverrideLocal))
      case _ => None
    }, _ => "no override"),
    Gate("GRAVITY", { p =>
      val internal = p.sources.find(_.format.contains("internal"))
      if (internal.nonEmpty)
        Some(cloud(RoutingReason.InternalSource, internal.get.name))
      else externalSource(p) match {
        case Some(e) => Some(cloud(RoutingReason.ExternalSource, e))
        case None if cloudRouted.nonEmpty => p.model.dependsOn
          .find(cloudRouted).map(cloud(RoutingReason.CloudDependency, _))
        case None => None
      }
    }, _ => "no internal or external source, no cloud upstream"),
    Gate("CAPABILITY", { p =>
      val function = if (!p.hasSql) None else {
        val lower = p.sql.toLowerCase
        QueryAnalyzer.cloudOnlyFunctions.find(f =>
          lower.contains(f) || p.facts.exists(_.functions.contains(f)))
      }
      if (function.nonEmpty)
        Some(cloud(RoutingReason.CloudFunction, function.get))
      else p.model.config.toxicTypes.map(_.toUpperCase).find(toxicTypes) match {
        case Some(t) => Some(cloud(RoutingReason.ToxicTypes, t))
        case None if !p.transpiles =>
          Some(cloud(RoutingReason.Untranspilable, "parse failed"))
        case None => None
      }
    }, p => if (p.hasSql) "transpiles, no cloud-only function or toxic type"
      else "no SQL text, no toxic type"),
    Gate("STABILITY", p =>
      if (state == null || !state.isBlacklisted(p.model.uniqueId)) None
      else Some(cloud(RoutingReason.CrashHistory,
        s"${state.crashCount(p.model.uniqueId)} crashes")),
      p => Option(state).fold(0)(_.crashCount(p.model.uniqueId)) + " crashes"),
    Gate("COMPLEXITY", p => statsOf(p.model.uniqueId) match {
      case Some(s) if s.avgSeconds > config.maxLocalSeconds =>
        Some(cloud(RoutingReason.HighComplexity,
          f"avg ${s.avgSeconds}%.0f s > ${config.maxLocalSeconds}%.0f s"))
      case Some(s) if s.avgSpillBytes > config.maxSpillBytes =>
        Some(cloud(RoutingReason.HighComplexity,
          s"avg spill ${s.avgSpillBytes} B"))
      case _ => None
    }, p => statsOf(p.model.uniqueId).fold("no run history")(s =>
      f"avg ${s.avgSeconds}%.1f s, spill ${s.avgSpillBytes} B " +
        s"over ${s.runCount} runs")),
    Gate("PHYSICS", p => p.model.config.estimatedSizeGb match {
      case Some(gb) if gb > config.maxLocalSizeGb =>
        Some(cloud(RoutingReason.LargeVolume,
          f"$gb%.1f GB > ${config.maxLocalSizeGb}%.1f GB"))
      case _ => None
    }, p => p.model.config.estimatedSizeGb
      .fold("no volume estimate")(gb => f"$gb%.1f GB")))

  /** The first external source the query or its source metadata names,
    * unless it reads the `iceberg_catalog`. */
  private def externalSource(p: Probe): Option[String] =
    if (!p.hasSql && p.sources.isEmpty) None
    else if (p.sources.exists(_.iceberg) || p.facts.exists(_.relations
        .exists(_.headOption.exists(_.equalsIgnoreCase("iceberg_catalog")))))
      None
    else p.facts.flatMap(f => f.externalPatterns.headOption.orElse(
        f.threePartRelations.find(!_.startsWith("iceberg_catalog."))))
      .orElse(p.sources.find(s => s.external ||
        s.format.exists(externalFormats)).map(_.name))

  private val externalFormats = Set("external", "stage", "s3", "gcs")

  private def verdict(p: Probe): RoutingDecision = {
    @scala.annotation.tailrec
    def first(gs: List[Gate]): RoutingDecision = gs match {
      case g :: rest => g.check(p) match {
        case Some(d) => d.copy(gate = Some(g.name))
        case None => first(rest)
      }
      case Nil => RoutingDecision(Venue.Local, RoutingReason.DefaultLocal,
        gate = Some("DEFAULT"))
    }
    val d = first(gates)
    if (d.reason == RoutingReason.ExternalSource ||
      d.reason == RoutingReason.CloudFunction) cloudRouted += p.model.uniqueId
    else if (cloudRouted.nonEmpty) cloudRouted -= p.model.uniqueId
    d
  }

  def decide(spark: SparkSession, model: ModelNode, sql: String,
      sources: Seq[SourceMeta] = Nil): RoutingDecision =
    verdict(new Probe(spark, model, sql, sources))

  /** Gate-by-gate analysis (reference `AutoRouter.explain`,
    * auto_router.py:424-459): every gate's finding, then the decision
    * [[decide]] returns for the same inputs. */
  def explain(spark: SparkSession, model: ModelNode, sql: String,
      sources: Seq[SourceMeta] = Nil): String = {
    val p = new Probe(spark, model, sql, sources)
    val d = verdict(p)
    val findings = gates.zipWithIndex.map { case (g, i) =>
      f"  ${i + 1}. ${g.name}%-10s : ${g.check(p).fold(g.seen(p))(_.render)}"
    }
    (s"Routing analysis for ${model.name}:" +: findings :+ s"  => ${d.render}")
      .mkString("\n")
  }

  /** Transpile + parse dry-run (the sqlglot `can_transpile` analog).
    * Empty SQL (DataFrame-defined models have no SQL text) is trivially
    * transpilable, matching the reference's empty-input behavior. */
  def canTranspile(spark: SparkSession, sql: String): Boolean =
    sql.trim.isEmpty || Try {
      val t = SnowflakeSql.transpile(sql)
      SnowflakeSql.splitQualify(t) match {
        case Some((inner, _, _, _)) =>
          spark.sessionState.sqlParser.parsePlan(inner)
        case None => spark.sessionState.sqlParser.parsePlan(t)
      }
    }.isSuccess
}
