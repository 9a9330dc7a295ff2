package graft

import java.nio.file.{Files, Paths}

import graft.model.{ModelConfig, ModelNode}
import graft.planner.{MemoryGuard, QueryAnalyzer}
import graft.telemetry.{Console, CostModel, RunSummary}

/** Command-line surface — port of the reference's `icebreaker` CLI
  * (reference `cli.py:14-199` dispatch + the `cmd_*` handlers): every
  * subcommand renders through the already-built engine components, so
  * the CLI is a thin formatter.
  *
  * {{{
  *   sbt "runMain graft.Cli explain 'SELECT * FROM t'"
  *   sbt "runMain graft.Cli summary"        # last run session
  *   sbt "runMain graft.Cli savings"        # estimated $ saved
  *   sbt "runMain graft.Cli cache status"   # cache contents
  *   sbt "runMain graft.Cli health"
  * }}}
  *
  * Warehouse root comes from `GRAFT_WAREHOUSE` (default
  * `/tmp/graft_warehouse`) — the analog of the reference's
  * `~/.icebreaker` home.
  */
object Cli {

  val version = "graft 0.2.0"

  def main(args: Array[String]): Unit = {
    val root = sys.env.getOrElse("GRAFT_WAREHOUSE", "/tmp/graft_warehouse")
    // SPARK_MASTER points the CLI at a deployment's cluster instead
    lazy val spark = {
      val b = EngineDefaults.local(EngineDefaults.cpus, 8).appName("graft-cli")
      sys.env.get("SPARK_MASTER").foreach(b.master)
      b.getOrCreate()
    }
    // summary/savings/version/help read files only — no Spark needed
    val needsSpark =
      Set("explain", "sync", "verify", "cache", "health", "status", "stats")
    val sessionFactory: () => GraftSession =
      () => new GraftSession(spark, root, console = new Console())
    val sparkBacked = args.headOption.exists(needsSpark)
    try println(run(args.toSeq,
      if (sparkBacked) Some(sessionFactory) else None, root))
    finally if (sparkBacked) spark.stop()
  }

  /** Dispatch (cli.py:170-199) — pure string rendering for testability. */
  def run(args: Seq[String], session: Option[() => GraftSession],
      root: String): String = args match {
    case Seq("explain", input, _*) => cmdExplain(session.get(), input)
    case Seq("sync", rest @ _*) => cmdSync(session.get(), rest)
    case Seq("verify", rest @ _*) => cmdVerify(session.get(), rest)
    case Seq("cache", rest @ _*) => cmdCache(session.get(), rest)
    case Seq("savings", rest @ _*) => cmdSavings(root, rest)
    case Seq("summary", _*) => cmdSummary(root)
    case Seq("health", rest @ _*) => cmdHealth(session.get(), rest)
    case Seq("status", _*) => cmdStatus(session.get())
    case Seq("stats", _*) => cmdStats(session.get())
    case Seq("catalog", uri, rest @ _*) => cmdCatalog(uri, rest)
    case Seq("nessie", uri, rest @ _*) => cmdNessie(uri, rest)
    case Seq("glue", region, rest @ _*) => cmdGlue(region, rest)
    case Seq("version", _*) => cmdVersion
    case _ => cmdHelp
  }

  // ------------------------------------------------------------ catalog

  /** Namespace levels from the CLI argument: levels separate on `.`,
    * and a level name that itself contains a dot writes it as `\.`
    * (shell-quoted), e.g. `prod.team\.data` → ["prod", "team.data"].
    * The REST layer addresses levels losslessly (0x1F separator). */
  private[graft] def nsLevels(ns: String): Seq[String] =
    ns.split("(?<!\\\\)\\.", -1).toSeq.map(_.replace("\\.", "."))

  /** `graft catalog <uri> [ns [table]]` — the reference's attach-time
    * visibility (connections.py:1040-1049: "Connected to Iceberg
    * catalog …" + "Available namespaces: …") plus table drill-down,
    * over the REST protocol client. Auth mirrors the reference's
    * credential fields: `GRAFT_ICEBERG_TOKEN` (bearer) or
    * `GRAFT_ICEBERG_CREDENTIAL` (client_id:client_secret OAuth2
    * exchange), `GRAFT_ICEBERG_WAREHOUSE`. Pure HTTP + JSON — no Spark
    * session spins up for catalog browsing. */
  def cmdCatalog(uri: String, rest: Seq[String]): String = {
    val cat = new graft.materialize.IcebergRestCatalog(uri,
      token = sys.env.get("GRAFT_ICEBERG_TOKEN"),
      credential = sys.env.get("GRAFT_ICEBERG_CREDENTIAL"),
      warehouse = sys.env.get("GRAFT_ICEBERG_WAREHOUSE"))
    browse(rest, {
      val ns = cat.listNamespaces()
      s"Connected to Iceberg catalog: $uri\n" +
        s"Available namespaces: ${ns.map(_.mkString(".")).mkString(", ")}"
    }, ns => cat.listTables(nsLevels(ns)),
      (ns, table) => cat.loadTable(nsLevels(ns), table))
  }

  /** The catalog browsers' shared drill-down: no argument prints
    * `header`; a namespace lists its tables; a namespace and a table
    * print the table's detail block, its first line suffixed by `at`. */
  private def browse(rest: Seq[String], header: => String,
      tables: String => Seq[String],
      load: (String, String) => (graft.materialize.IcebergMetadata, String),
      at: => String = ""): String = rest.toList match {
    case Nil => header
    case ns :: Nil =>
      val ts = tables(ns)
      s"$ns: ${ts.size} table(s)\n" + ts.map("  " + _).mkString("\n")
    case ns :: table :: _ =>
      val (md, dir) = load(ns, table)
      val parts =
        if (md.partitionFields.isEmpty) "(unpartitioned)"
        else md.partitionFields.map { case (n, t) => s"$n($t)" }
          .mkString(", ")
      s"""$ns.$table$at
         |  location:  $dir
         |  format:    v${md.formatVersion}
         |  schema:    ${md.schema.simpleString}
         |  partition: $parts
         |  snapshots: ${md.snapshots.size} (current ${
        md.currentSnapshot.map(_.snapshotId).getOrElse(-1L)})""".stripMargin
  }

  /** `graft nessie <uri> [ns [table]]` — the reference's
    * `catalog_type: nessie` attach surface (connections.py:109,
    * :990-1055) over the Nessie REST API v2 client. Auth:
    * `GRAFT_NESSIE_TOKEN` (bearer); `GRAFT_NESSIE_REF` pins a branch
    * or tag (default: the server's default branch). */
  def cmdNessie(uri: String, rest: Seq[String]): String = {
    val cat = new graft.materialize.NessieCatalog(uri,
      token = sys.env.get("GRAFT_NESSIE_TOKEN"),
      ref = sys.env.get("GRAFT_NESSIE_REF"))
    browse(rest, {
      val refs = cat.listReferences()
        .map { case (n, t) => s"$n($t)" }.mkString(", ")
      val ns = cat.listNamespaces()
      s"Connected to Nessie catalog: $uri (branch ${cat.branch})\n" +
        s"References: $refs\n" +
        s"Available namespaces: ${ns.map(_.mkString(".")).mkString(", ")}"
    }, ns => cat.listTables(nsLevels(ns)),
      (ns, table) => cat.loadTable(nsLevels(ns), table),
      at = s" @ ${cat.branch}")
  }

  /** `graft glue <region> [db [table]]` — the reference's
    * `catalog_type: glue` attach surface (connections.py:109,
    * bridge.py:299-302) over the SigV4-signed Glue Data Catalog
    * client. Auth mirrors the AWS credential convention:
    * `AWS_ACCESS_KEY_ID` / `AWS_SECRET_ACCESS_KEY`
    * (+ `AWS_SESSION_TOKEN`). The region argument accepts an inline
    * endpoint override as `<region>=<endpoint>` (VPC endpoints,
    * loopback testing); plain `<region>` targets the public service
    * endpoint. */
  def cmdGlue(regionArg: String, rest: Seq[String]): String = {
    val (region, endpoint) = regionArg.split("=", 2) match {
      case Array(r, e) => (r, Some(e))
      case _ => (regionArg, None)
    }
    val cat = new graft.materialize.GlueCatalog(region,
      accessKey = sys.env.getOrElse("AWS_ACCESS_KEY_ID", ""),
      secretKey = sys.env.getOrElse("AWS_SECRET_ACCESS_KEY", ""),
      sessionToken = sys.env.get("AWS_SESSION_TOKEN"),
      endpoint = endpoint)
    browse(rest, {
      val dbs = cat.listDatabases()
      s"Connected to Glue catalog: $region\n" +
        s"Available databases: ${dbs.mkString(", ")}"
    }, cat.listTables, cat.loadTable)
  }

  // ------------------------------------------------------------ explain

  /** `icebreaker explain <file-or-sql>` (cli.py:490-520): gate-by-gate
    * routing analysis plus the memory pre-flight. */
  def cmdExplain(gs: GraftSession, input: String): String = {
    val sql =
      if (input.endsWith(".sql") && Files.exists(Paths.get(input)))
        Files.readString(Paths.get(input))
      else input
    val model = ModelNode("cli_query", ModelConfig(), Nil)(_ => null)
    val explanation = gs.explain(model, sql)
    val facts = QueryAnalyzer.analyze(gs.spark, sql)
    val est = MemoryGuard.check(facts, inputGb = 0.0)
    s"""== Routing Explanation ==
       |$explanation
       |
       |Pre-flight: complexity=${est.complexity} x${est.multiplier}
       |  ${est.recommendation}""".stripMargin
  }

  // --------------------------------------------------------- sync/verify

  /** `icebreaker sync [schema.table ...]` (cli.py:282-360): verified
    * copy of warehouse tables to the cloud-twin directory. */
  def cmdSync(gs: GraftSession, tables: Seq[String]): String = {
    val twin = new graft.warehouse.Warehouse(gs.spark,
      gs.warehouse.root + "_twin")
    val targets = resolveTables(gs, tables)
    if (targets.isEmpty) return "No tables found to sync."
    val results = targets.map { case (schema, t) =>
      gs.sync.syncTable(gs.warehouse, twin, schema, t)
    }
    val ok = results.count(_.status == "synced")
    results.map(r =>
      f"${r.table}%-24s ${r.status}%-8s rows=${r.targetRows} attempts=${r.attempts}")
      .mkString("", "\n", f"\nSynced: $ok, Failed: ${results.length - ok}")
  }

  /** `icebreaker verify [schema.table ...]` (cli.py:447-481): row-count
    * reconciliation between warehouse and its twin. */
  def cmdVerify(gs: GraftSession, tables: Seq[String]): String = {
    val twin = new graft.warehouse.Warehouse(gs.spark,
      gs.warehouse.root + "_twin")
    val targets = resolveTables(gs, tables)
    if (targets.isEmpty) return "No tables found to verify."
    var matched, mismatched = 0
    val lines = targets.map { case (schema, t) =>
      val local = scala.util.Try(gs.warehouse.rowCount(schema, t))
        .map(_.toString).getOrElse("N/A")
      val cloud = scala.util.Try(twin.rowCount(schema, t))
        .map(_.toString).getOrElse("N/A")
      val status =
        if (local == "N/A" || cloud == "N/A") "?"
        else if (local == cloud) { matched += 1; "ok" }
        else { mismatched += 1; "MISMATCH" }
      f"$schema.$t%-24s local=$local%-10s twin=$cloud%-10s $status"
    }
    lines.mkString("", "\n",
      s"\nMatched: $matched, Mismatched: $mismatched")
  }

  private def resolveTables(gs: GraftSession,
      tables: Seq[String]): Seq[(String, String)] =
    if (tables.nonEmpty)
      tables.map { t =>
        t.split('.') match {
          case Array(s, n) => (s, n)
          case _ => ("main", t)
        }
      }
    else { // all tables in the warehouse root (cli.py:316-330)
      val rootPath = Paths.get(gs.warehouse.root)
      if (!Files.isDirectory(rootPath)) Nil
      else {
        import scala.jdk.CollectionConverters._
        Files.list(rootPath).iterator().asScala
          .filter(Files.isDirectory(_))
          .filterNot(_.getFileName.toString.startsWith("_"))
          .flatMap { schemaDir =>
            Files.list(schemaDir).iterator().asScala
              .filter(d => Files.exists(d.resolve("_SUCCESS")))
              .map(d => (schemaDir.getFileName.toString,
                d.getFileName.toString))
          }.toSeq.sorted
      }
    }

  // ------------------------------------------------------------- cache

  /** `icebreaker cache status|clear` (cli.py:667-705). */
  def cmdCache(gs: GraftSession, rest: Seq[String]): String =
    rest.headOption match {
      case Some("clear") =>
        gs.cache.evictAll()
        "Cache cleared."
      case _ =>
        val gb = gs.cache.totalSizeBytes.toDouble / (1L << 30)
        f"Source cache: ${gs.cache.size} entries, $gb%.2f GB\n" +
          "Use 'cache clear' to evict everything."
    }

  // ------------------------------------------------- savings / summary

  /** `icebreaker savings` (cli.py:200-216 → savings.py): estimated cloud
    * cost avoided by local runs, from the persisted session ledger. */
  def cmdSavings(root: String, rest: Seq[String]): String = {
    val runs = RunSummary.loadAllRuns(s"$root/_graft/run_summary.json")
    if (runs.isEmpty) return "No runs recorded yet. Run a model DAG first."
    val local = runs.filter(r => r.venue == "local" && r.status == "success")
    val saved = local.map(r => CostModel.cloudCostUsd(r.durationSeconds)).sum
    val byModel = local.groupBy(_.name).view
      .mapValues(rs => rs.map(r => CostModel.cloudCostUsd(r.durationSeconds)).sum)
      .toSeq.sortBy { case (m, s) => (-s, m) }.take(5)
    val top = byModel.map { case (m, s) => f"  $m%-32s $$$s%.2f" }
      .mkString("\n")
    f"""== Savings ==
       |Runs:          ${runs.length} (${local.length} local)
       |Est. savings:  $$$saved%.2f  (xs warehouse, standard edition)
       |Top models:
       |$top""".stripMargin
  }

  /** `icebreaker summary` (cli.py:612-664): last session rendered
    * through the reference's run-summary block (run_summary.py:165-225,
    * shared with the end-of-run print). */
  def cmdSummary(root: String): String = {
    val path = s"$root/_graft/run_summary.json"
    RunSummary.loadLastSession(path) match {
      case None => "No run sessions found yet."
      case Some((startedAt, models)) =>
        s"Session: $startedAt" + Console.formatRunSummary(models,
          RunSummary.loadLastWallSeconds(path).getOrElse(0.0))
    }
  }

  // ----------------------------------------------- health/status/stats

  def cmdHealth(gs: GraftSession, rest: Seq[String]): String =
    gs.health(rest.headOption)

  /** `icebreaker status` (cli.py:219-243). */
  def cmdStatus(gs: GraftSession): String =
    s"""== Graft Status ==
       |$version — Spark-native analytics engine
       |Local engine: active (Spark ${gs.spark.version})
       |Warehouse:    ${gs.warehouse.root}
       |${gs.health()}""".stripMargin

  /** `icebreaker stats` (cli.py:523-561): system resources + execution
    * statistics. */
  def cmdStats(gs: GraftSession): String = {
    val totalGb = Runtime.getRuntime.maxMemory().toDouble / (1L << 30)
    val availGb = MemoryGuard.availableGb(totalGb)
    val runs = RunSummary.loadAllRuns(
      gs.warehouse.root + "/_graft/run_summary.json")
    val local = runs.count(_.venue == "local")
    f"""== System Resources ==
       |JVM max heap:   $totalGb%.1f GB
       |Admissible:     $availGb%.1f GB (80%% less 1 GB floor)
       |Parallelism:    ${gs.spark.sparkContext.defaultParallelism}
       |
       |== Execution Stats ==
       |Total runs:     ${runs.length}
       |Local runs:     $local
       |Cloud-flagged:  ${runs.length - local}""".stripMargin
  }

  def cmdVersion: String =
    s"""$version
       |Spark-native analytics engine.
       |  - SQL routing with gate-by-gate explain
       |  - verified sync with retry
       |  - source cache with TTL + pruning
       |  - savings telemetry""".stripMargin

  def cmdHelp: String =
    """Usage: graft.Cli <command>
      |
      |  explain <sql-file-or-query>   why a query routes LOCAL or CLOUD
      |  sync [schema.table ...]       verified copy to the twin warehouse
      |  verify [schema.table ...]     row-count reconciliation vs twin
      |  cache [status|clear]          source cache contents / eviction
      |  savings                       estimated $ saved by local runs
      |  summary                       last run session report
      |  health [probe_table]          health checks
      |  status                        engine + connection status
      |  stats                         system + execution statistics
      |  catalog <uri> [ns [table]]    browse an Iceberg REST catalog
      |  nessie <uri> [ns [table]]     browse a Nessie catalog (API v2)
      |  glue <region> [db [table]]    browse an AWS Glue Data Catalog
      |  version                       version info""".stripMargin
}
