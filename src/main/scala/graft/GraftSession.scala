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
  /** Task-metric spill by job group, feeding Gate 5's spill clause
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

  /** Execute a model DAG with routing, WAL accounting, dev sampling,
    * fallback-on-error and savings logging per model; one result per
    * model, in [[Dag.topoOrder]] order.
    *
    * A model starts as soon as every parent has succeeded, and
    * independent models write side by side on a fixed pool of daemon
    * threads, as many as the session's cores (`defaultParallelism`) —
    * the reference's dbt `threads`. The calling thread keeps the work
    * that is order-sensitive or not thread-safe: it routes each model
    * (after its parents), marks it running in the WAL and calls its
    * `build`, one build at a time in topological order, then hands the
    * built DataFrame to the pool. The pool task checks the contract,
    * writes, counts rows and records the success, under the model's own
    * Spark job group, so spill is attributed per model.
    *
    * Failures: a classified error is retried (see `DagRun.retry`) once
    * no other model is in flight, since a degraded retry flips the
    * session-global codegen conf. Any other error stops new launches and
    * lets running models finish; then the first failure in topological
    * order is raised with the others suppressed, so nothing downstream
    * of a failure runs. The WAL ([[state]]) is written per model for
    * crash recovery; the telemetry ledger persists ONCE per run (success
    * or not) — a per-model rewrite would make every finish O(full
    * ledger). */
  def run(nodes: Seq[ModelNode], now: Column = lit(null),
      sqlOf: ModelNode => String = _ => ""): Seq[RunResult] = {
    val threads = new java.util.concurrent.atomic.AtomicInteger()
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.max(1, spark.sparkContext.defaultParallelism), (r: Runnable) => {
        val t = new Thread(r, s"graft-model-${threads.incrementAndGet()}")
        t.setDaemon(true)
        t
      })
    try new DagRun(Dag.topoOrder(nodes).toIndexedSeq, now, sqlOf, pool)
      .execute()
    finally {
      // no write outlives the call, even when the scheduler itself threw
      pool.shutdown()
      pool.awaitTermination(Long.MaxValue, java.util.concurrent.TimeUnit.DAYS)
      runSummary.persist()
      harvester.refresh()
      // reference run_summary.py:253-256: every run closes with the
      // formatted summary block at normal verbosity
      console.info(Console.formatRunSummary(runSummary.recorded,
        runSummary.wallSeconds))
    }
  }

  /** The scheduler of one [[run]] call. Its state is read and written by
    * the calling thread only; pool tasks report back through `done`. */
  private final class DagRun(order: IndexedSeq[ModelNode], now: Column,
      sqlOf: ModelNode => String,
      pool: java.util.concurrent.ExecutorService) {
    private val n = order.length
    private val parents = {
      val index = order.map(_.uniqueId).zipWithIndex.toMap
      order.map(_.dependsOn.flatMap(index.get))
    }
    private val decisions = new Array[RoutingDecision](n)
    private val results = new Array[RunResult](n)
    private val launched = new Array[Boolean](n)
    private val launchedAt = new Array[Long](n)
    private val done = new java.util.concurrent.LinkedBlockingQueue[
      (Int, Either[Throwable, RunResult])]()
    private var inFlight = 0
    private val retries = scala.collection.mutable.Queue[
      (Int, ErrorClassifier.ErrorClass, Throwable)]()
    private val failures =
      scala.collection.mutable.ArrayBuffer[(Int, Throwable)]()
    // job groups are unique per run: sessions may share one context
    private val groupPrefix = s"graft-${java.util.UUID.randomUUID()}"

    def execute(): Seq[RunResult] = {
      var more = true
      while (more) {
        collect(block = false)
        if (failures.nonEmpty || retries.nonEmpty) {
          // a failure drains the pool and stops; a retry waits for it
          if (inFlight > 0) collect(block = true)
          else if (failures.isEmpty) retry(retries.dequeue())
          else more = false
        } else (0 until n).find(i => !launched(i) &&
            parents(i).forall(results(_) != null)) match {
          case Some(i) => launch(i)
          case None => if (inFlight > 0) collect(block = true) else more = false
        }
      }
      if (failures.nonEmpty) {
        val errs = failures.sortBy(_._1).map(_._2)
        errs.tail.filterNot(_ eq errs.head).foreach(errs.head.addSuppressed)
        throw errs.head
      }
      results.toSeq
    }

    private def collect(block: Boolean): Unit = {
      var next = if (block) done.take() else done.poll()
      while (next != null) {
        inFlight -= 1
        next match {
          case (i, Right(r)) => results(i) = r
          case (i, Left(e)) => failed(i, e)
        }
        next = done.poll()
      }
    }

    private def launch(i: Int): Unit = {
      val node = order(i)
      decisions(i) = traffic.decide(spark, node, sqlOf(node))
      state.markRunning(node.uniqueId)
      launched(i) = true
      launchedAt(i) = System.nanoTime()
      console.step(s"Materializing ${node.name}...")
      build(i) match {
        case Right((df, secs)) => submit(i, df, secs, Venue.Local, "")
        case Left(e) => failed(i, e)
      }
    }

    /** The model's output with dev sampling applied, and the seconds the
      * build took. Each attempt times itself: a fallback retry's recorded
      * duration must not include the failed first attempt (it would
      * overstate savings and poison the COMPLEXITY gate's average). */
    private def build(i: Int): Either[Throwable, (DataFrame, Double)] = {
      val node = order(i)
      val t0 = System.nanoTime()
      try {
        val df = node.build(spark)
        val sampled =
          if (target == "dev" && node.config.materialized != "snapshot")
            node.config.devSampleMethod match {
              // deterministic seed: a dev re-run sees the same rows
              case "tablesample" =>
                df.sample(node.config.devSampleFraction, 42L)
              case _ => df.limit(node.config.devSampleSize)
            }
          else df
        Right((sampled, (System.nanoTime() - t0) / 1e9))
      } catch { case e: Throwable => Left(e) }
    }

    private def submit(i: Int, df: DataFrame, buildSeconds: Double,
        venue: Venue, reason: String): Unit = {
      val (node, decision) = (order(i), decisions(i))
      inFlight += 1
      pool.execute { () =>
        done.put(i -> (try Right(write(node, decision, df, buildSeconds,
          venue, reason)) catch { case e: Throwable => Left(e) }))
      }
    }

    /** A pool task: write one built model and record its success. */
    private def write(node: ModelNode, decision: RoutingDecision,
        df: DataFrame, buildSeconds: Double, venue: Venue,
        reason: String): RunResult = {
      val sc = spark.sparkContext
      val group = s"$groupPrefix-${node.uniqueId}"
      SparkSession.setActiveSession(spark)
      sc.setJobGroup(group, s"graft model ${node.name}")
      try {
        val t0 = System.nanoTime()
        val out = materializer.write(node, df, Option(now))
        // a parquet table's rows come from the footers of the files of
        // the relation the write returned, not a job
        val rows =
          if (node.config.tableFormat == "iceberg" ||
            node.config.materialized == "view") out.count()
          else ParquetFooter.rowCount(spark, out.inputFiles)
        val dur = buildSeconds + (System.nanoTime() - t0) / 1e9
        // task-end events are asynchronous: drain, then read this
        // model's group
        org.apache.spark.sql.GraftBridge.drainListenerBus(spark)
        val spill = spillListener.takeSpillBytes(group)
        state.markSuccess(node.uniqueId, venue)
        val venueName = if (venue == Venue.Local) "local" else "cloud"
        savings.logExecution(node.name, venueName, dur)
        runSummary.record(ModelRun(node.name, venueName, dur, rows,
          "success", reason, spillBytes = spill))
        console.success(f"${node.name} ($venueName, $dur%.1fs, $rows rows)")
        RunResult(node.name, decision, dur, rows,
          fallback = Option(reason).filter(_.nonEmpty))
      } finally sc.clearJobGroup()
    }

    /** A first attempt failed: record the crash, then queue a classified
      * retry, or stop the run. */
    private def failed(i: Int, e: Throwable): Unit = {
      val node = order(i)
      state.markCrash(node.uniqueId)
      ErrorClassifier.classify(e) match {
        case Some(cls) if failures.isEmpty =>
          // reference connections.py:538-545: "Local execution failed:
          // <err>" → re-execute on the fallback venue
          console.warn(s"Local execution failed: ${e.getMessage} " +
            s"(${cls.reason})")
          retries.enqueue((i, cls, e))
        case cls => abort(i, e, cls.fold("")(_.reason),
          (System.nanoTime() - launchedAt(i)) / 1e9,
          s"${node.name}: ${e.getMessage}")
      }
    }

    /** Record a model's failure and stop new launches; a queued retry
      * will not run either, so it fails with its original error. */
    private def abort(i: Int, e: Throwable, reason: String, seconds: Double,
        message: String): Unit = {
      runSummary.record(ModelRun(order(i).name, "local", seconds, 0L,
        "error", reason))
      console.error(message)
      failures += i -> e
      retries.dequeueAll(_ => true).foreach { case (j, cls, err) =>
        abort(j, err, cls.reason, 0.0, s"${order(j).name}: ${err.getMessage}")
      }
    }

    /** Execute a classified retry with no other model in flight:
      * FallbackCloud re-runs flagged CLOUD (single-engine deployment —
      * the run happens here, the venue is the flag the reference
      * records); RetryDegraded re-runs locally with whole-stage codegen
      * off. A retry failure surfaces the ORIGINAL error with the retry
      * error suppressed. */
    private def retry(pending: (Int, ErrorClassifier.ErrorClass,
        Throwable)): Unit = {
      val (i, cls, original) = pending
      def attempt(venue: Venue): Either[Throwable, RunResult] =
        build(i).flatMap { case (df, secs) =>
          submit(i, df, secs, venue, cls.reason)
          inFlight -= 1
          done.take()._2
        }
      val outcome = cls.policy match {
        case ErrorClassifier.FallbackCloud => attempt(Venue.Cloud)
        case ErrorClassifier.RetryDegraded =>
          val key = "spark.sql.codegen.wholeStage"
          val prior = spark.conf.get(key, "true")
          spark.conf.set(key, "false")
          try attempt(Venue.Local) finally spark.conf.set(key, prior)
      }
      outcome match {
        case Right(r) => results(i) = r
        case Left(retryErr) =>
          original.addSuppressed(retryErr)
          abort(i, original, cls.reason, 0.0,
            s"${order(i).name}: retry failed (${cls.reason})")
      }
    }
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
