package graft.sync

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.model.{Dag, ModelNode}
import graft.warehouse.Warehouse

/** Verified table copies with retry and a ledger — port of the
  * reference's `SyncManager` (reference `sync_manager.py:76-164`,
  * `:417-501`): per table, read source count → copy → read target count →
  * counts must match, up to `maxAttempts` tries with linear backoff;
  * every attempt is recorded. Orchestration follows Kahn topological
  * order with stop-on-failure.
  *
  * The row-count reconciliation IS the reference's production correctness
  * primitive (`cli.py:447-481` verify, `health_check.py:309-336` drift).
  */
final case class SyncConfig(
    maxAttempts: Int = 3,
    backoffMillis: Long = 1000)

final case class SyncResult(
    table: String,
    status: String, // synced | failed
    attempts: Int,
    sourceRows: Long,
    targetRows: Long,
    error: Option[String])

final class SyncManager(config: SyncConfig = SyncConfig(),
    sleep: Long => Unit = Thread.sleep) {

  private val ledgerBuf = scala.collection.mutable.ArrayBuffer[SyncResult]()

  def ledger: Seq[SyncResult] = ledgerBuf.toSeq

  /** Copy one table source→target warehouse, verified. */
  def syncTable(source: Warehouse, target: Warehouse, schema: String,
      table: String): SyncResult = {
    var attempt = 0
    var last: SyncResult = null
    while (attempt < config.maxAttempts &&
      (last == null || last.status == "failed")) {
      attempt += 1
      last =
        try {
          val srcCount = source.rowCount(schema, table)
          target.createTableAs(source.read(schema, table), schema, table)
          val tgtCount = target.rowCount(schema, table)
          if (srcCount != tgtCount)
            SyncResult(table, "failed", attempt, srcCount, tgtCount,
              Some(s"row count mismatch: $srcCount != $tgtCount"))
          else SyncResult(table, "synced", attempt, srcCount, tgtCount, None)
        } catch {
          case e: Exception =>
            SyncResult(table, "failed", attempt, -1, -1,
              Some(e.getMessage))
        }
      if (last.status == "failed" && attempt < config.maxAttempts)
        sleep(config.backoffMillis * attempt) // linear backoff
    }
    ledgerBuf += last
    last
  }

  /** Sync a dependency-ordered set of models, stop-on-failure
    * (sync_manager.py:417-501). */
  def syncAll(source: Warehouse, target: Warehouse, schema: String,
      nodes: Seq[ModelNode]): Seq[SyncResult] = {
    val ordered = Dag.topoOrder(nodes)
    val out = scala.collection.mutable.ArrayBuffer[SyncResult]()
    var failed = false
    ordered.foreach { n =>
      if (!failed) {
        val r = syncTable(source, target, schema, n.name)
        out += r
        if (r.status == "failed") failed = true
      }
    }
    out.toSeq
  }

  /** Persist the ledger as a dataset (the SQLite table analog,
    * sync_manager.py:277-301). */
  def writeLedger(spark: SparkSession, path: String): Unit = {
    import spark.implicits._
    ledgerBuf.toSeq.map(r => (r.table, r.status, r.attempts, r.sourceRows,
      r.targetRows, r.error.getOrElse("")))
      .toDF("table", "status", "attempts", "source_rows", "target_rows",
        "error")
      .write.mode("overwrite").parquet(path)
  }
}
