package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.lit

import graft.cache.SourceCache
import graft.materialize.Materializer
import graft.model.{Dag, ModelNode}
import graft.planner._
import graft.sync.SyncManager
import graft.telemetry.{Console, HealthCheck, ModelRun, RunSummary,
  SavingsTracker}
import graft.transpile.SnowflakeSql
import graft.warehouse.{ParquetFooter, Warehouse}

/** The engine facade — what `impl.execute_model` + connection manager are
  * to the reference (reference `impl.py:222-303`, SURVEY.md §3.2): one
  * object wiring the planner (route → explain), the WAL (crash
  * accounting around execution), materializations, the source cache,
  * verified sync, and savings telemetry over a Spark session.
  *
  * Venue semantics in a single-engine deployment: `Local` executes here;
  * `Cloud` is surfaced to the caller as a flagged decision and the model
  * still executes here, recorded as a local run, since there is no second
  * engine attached — exactly the "planner advice" reinterpretation
  * SURVEY.md §7 calls for. Only a classified fallback retry records a
  * cloud run.
  *
  * @param sourceFetch cache-miss resolver for auto-cached sources: given
  *   (schema, table) referenced by incoming SQL but absent from the
  *   session, return the upstream DataFrame to ingest (the reference's
  *   Snowflake download, connections.py:691-741). None = unknown source.
  */
final class GraftSession(
    val spark: SparkSession,
    warehouseRoot: String,
    targetSchema: String = "main",
    target: String = "prod", // "dev" enables LIMIT sampling
    config: PlannerConfig = PlannerConfig(),
    sourceFetch: (String, String) => Option[DataFrame] = (_, _) => None,
    console: Console = Console.silent) {

  // engine-level scale defaults on a deployment-built session (the AQE
  // coalescing floor that keeps CPU-dense small shuffles parallel);
  // never overrides a conf the deployment explicitly set
  EngineDefaults.seed(spark)

  val warehouse = new Warehouse(spark, warehouseRoot)
  val state = new StateManager(s"$warehouseRoot/_graft/state.json", config)
  val harvester = new MetadataHarvester(
    s"$warehouseRoot/_graft/run_summary.json")
  val traffic = new TrafficController(config, state, harvester.statsOf)
  val materializer = new Materializer(warehouse, targetSchema)
  val cache = new SourceCache(spark, s"$warehouseRoot/_graft/cache")
  val sync = new SyncManager()
  val savings = new SavingsTracker()
  val runSummary = new RunSummary(s"$warehouseRoot/_graft/run_summary.json")
  /** Task-metric spill accumulator feeding Gate 5's spill clause
    * (shared per SparkContext — see [[graft.telemetry.SpillListener]]). */
  val spillListener =
    graft.telemetry.SpillListener.forContext(spark.sparkContext)

  /** Snowflake-dialect SQL entry point. Referenced `schema.table`
    * sources that the session does not know yet are auto-cached first
    * (reference `connections.py:641-816`). */
  def sql(text: String): DataFrame = {
    autoCacheSources(text)
    SnowflakeSql.run(spark, text)
  }

  // ------------------------------------------------- auto-cache sources

  private val attemptedSources = scala.collection.mutable.Set[String]()

  /** Scan incoming SQL for FROM/JOIN `schema.table` references, probe
    * the session catalog, and on miss resolve warehouse-first then via
    * `sourceFetch` into the parquet [[cache]] — the port of the
    * reference's regex scan → existence probe → cache-miss download →
    * view registration (connections.py:648-689). Each table is attempted
    * once per session (the `_cached_tables` set). */
  private[graft] def autoCacheSources(text: String): Unit = {
    val ref = "(?i)\\b(?:FROM|JOIN)\\s+([A-Za-z_]\\w*)\\s*\\.\\s*([A-Za-z_]\\w*)".r
    ref.findAllMatchIn(text).foreach { m =>
      val (schema, table) = (m.group(1), m.group(2))
      val k = s"$schema.$table".toLowerCase
      if (!attemptedSources.contains(k)) {
        attemptedSources += k
        val exists = scala.util.Try(
          spark.catalog.tableExists(s"`$schema`.`$table`")).getOrElse(false)
        if (!exists) {
          if (warehouse.tableExists(schema, table)) {
            registerSource(schema, table, warehouse.tablePath(schema, table))
            console.debug(s"Registered $schema.$table from warehouse")
          } else sourceFetch(schema, table).foreach { df =>
            // reference console.py:162-202: concurrent ingests share one
            // tracker; each completion prints a progress-bar line
            console.downloads.start(s"$schema.$table")
            console.step(s"Downloading $schema.$table...")
            cache.put(schema, table, df)
            registerSource(schema, table, cache.pathOf(schema, table))
            val (done, total) = console.downloads.finish(s"$schema.$table")
            console.success(s"Cached $schema.$table " +
              Console.progressBar(done, total))
          }
        }
      }
    }
  }

  /** Register cached parquet as `schema.table` in the session catalog so
    * qualified SQL names resolve (the reference's CREATE VIEW over
    * read_parquet, source_cache.py:389-426). */
  private def registerSource(schema: String, table: String,
      path: String): Unit = {
    spark.sql(s"CREATE DATABASE IF NOT EXISTS `$schema`")
    spark.sql(s"DROP TABLE IF EXISTS `$schema`.`$table`")
    spark.catalog.createTable(s"`$schema`.`$table`", "parquet",
      graft.warehouse.ParquetFooter.readTable(spark, path).schema, Map("path" -> path))
  }

  /** Routing explanation for a model (the `icebreaker explain` analog):
    * the gate-by-gate findings and the decision [[run]] takes. */
  def explain(node: ModelNode, sqlText: String): String =
    traffic.explain(spark, node, sqlText)

  final case class RunResult(name: String, decision: RoutingDecision,
      durationSeconds: Double, rows: Long,
      fallback: Option[String] = None)

  /** Execute a model DAG in topological order with routing, WAL
    * accounting, dev sampling, fallback-on-error, and savings logging
    * per node. The WAL ([[state]]) is written per node for crash
    * recovery; the telemetry ledger persists ONCE per run (success or
    * not) — a per-node rewrite would make every finish O(full ledger). */
  def run(nodes: Seq[ModelNode], now: Column = lit(null),
      sqlOf: ModelNode => String = _ => ""): Seq[RunResult] =
    try {
      Dag.topoOrder(nodes).map { node =>
        val decision = traffic.decide(spark, node, sqlOf(node))
        state.markRunning(node.uniqueId)
        val tStart = System.nanoTime()
        // each attempt times itself: a fallback retry's recorded duration
        // must not include the failed first attempt (it would overstate
        // savings and poison the COMPLEXITY gate's average runtime)
        def materializeNode(): (Long, Double, Long) = {
          // drain async task-metric events on both sides so the spill
          // delta belongs to exactly this model (models run serially)
          org.apache.spark.sql.GraftBridge.drainListenerBus(spark)
          val spill0 = spillListener.totalSpillBytes
          val t0 = System.nanoTime()
          val sampled =
            if (target == "dev" && node.config.materialized != "snapshot")
              node.config.devSampleMethod match {
                case "tablesample" =>
                  // deterministic seed: a dev re-run sees the same rows
                  node.copy(build = s => node.build(s)
                    .sample(node.config.devSampleFraction, 42L))
                case _ =>
                  node.copy(build =
                    s => node.build(s).limit(node.config.devSampleSize))
              }
            else node
          val out = materializer.materialize(sampled, Option(now))
          // a parquet table's rows come from the footers of the files
          // of the relation materialize returned, not a job
          val rows =
            if (node.config.tableFormat == "iceberg" ||
              node.config.materialized == "view") out.count()
            else ParquetFooter.rowCount(spark, out.inputFiles)
          val dur = (System.nanoTime() - t0) / 1e9
          org.apache.spark.sql.GraftBridge.drainListenerBus(spark)
          (rows, dur, spillListener.totalSpillBytes - spill0)
        }
        def finish(rows: Long, dur: Double, spill: Long, venue: Venue,
            reason: String): RunResult = {
          state.markSuccess(node.uniqueId, venue)
          val venueName = if (venue == Venue.Local) "local" else "cloud"
          savings.logExecution(node.name, venueName, dur)
          runSummary.record(ModelRun(node.name, venueName, dur, rows,
            "success", reason, spillBytes = spill))
          console.success(f"${node.name} ($venueName, $dur%.1fs, $rows rows)")
          RunResult(node.name, decision, dur, rows,
            fallback = Option(reason).filter(_.nonEmpty))
        }
        console.step(s"Materializing ${node.name}...")
        try {
          val (rows, dur, spill) = materializeNode()
          finish(rows, dur, spill, Venue.Local, "")
        } catch {
          case e: Throwable =>
            state.markCrash(node.uniqueId)
            ErrorClassifier.classify(e) match {
              case Some(cls) =>
                // reference connections.py:538-545: "Local execution
                // failed: <err>" → re-execute on the fallback venue
                console.warn(s"Local execution failed: ${e.getMessage} " +
                  s"(${cls.reason})")
                retryPerPolicy(cls, materializeNode _, finish, node, e)
              case None =>
                runSummary.record(ModelRun(node.name, "local",
                  (System.nanoTime() - tStart) / 1e9, 0L, "error"))
                console.error(s"${node.name}: ${e.getMessage}")
                throw e
            }
        }
      }
    } finally {
      runSummary.persist()
      harvester.refresh()
      // reference run_summary.py:253-256: every run closes with the
      // formatted summary block at normal verbosity
      console.info(Console.formatRunSummary(runSummary.recorded))
    }

  /** Execute the classified retry: FallbackCloud re-runs flagged CLOUD
    * (single-engine deployment — the run happens here, the venue is the
    * flag the reference records); RetryDegraded re-runs locally with
    * whole-stage codegen off. A retry failure surfaces the ORIGINAL
    * error with the retry error suppressed. */
  private def retryPerPolicy(cls: ErrorClassifier.ErrorClass,
      attempt: () => (Long, Double, Long),
      finish: (Long, Double, Long, Venue, String) => RunResult,
      node: ModelNode, original: Throwable): RunResult =
    try {
      cls.policy match {
        case ErrorClassifier.FallbackCloud =>
          val (rows, dur, spill) = attempt()
          finish(rows, dur, spill, Venue.Cloud, cls.reason)
        case ErrorClassifier.RetryDegraded =>
          val key = "spark.sql.codegen.wholeStage"
          val prior = spark.conf.get(key, "true")
          spark.conf.set(key, "false")
          try {
            val (rows, dur, spill) = attempt()
            finish(rows, dur, spill, Venue.Local, cls.reason)
          } finally spark.conf.set(key, prior)
      }
    } catch {
      case retryErr: Throwable =>
        runSummary.record(ModelRun(node.name, "local", 0.0, 0L, "error",
          cls.reason))
        console.error(s"${node.name}: retry failed (${cls.reason})")
        original.addSuppressed(retryErr)
        throw original
    }

  /** CSV seed load (reference adapters.sql:130-152). */
  def seed(csvPath: String, name: String): DataFrame = {
    val df = spark.read.option("header", "true").option("inferSchema", "true")
      .csv(csvPath)
    warehouse.createTableAs(df, targetSchema, name)
    warehouse.read(targetSchema, name)
  }

  def health(probeTable: Option[String] = None): String =
    HealthCheck.render(HealthCheck.run(
      warehouse = probeTable.map(t => (warehouse, targetSchema, t)),
      cache = Some(cache), state = Some(state), sync = Some(sync)))
}
