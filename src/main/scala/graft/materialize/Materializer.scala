package graft.materialize

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.model.{Dag, ModelNode}
import graft.warehouse.Warehouse

/** Materializes one model into a [[Warehouse]] — the engine-side
  * equivalent of the reference's materialization macros + adapter executor
  * (reference `impl.py:222-303` and the materialization SQL macros).
  *
  * Immutable-storage translation of the reference's mutating SQL:
  * DELETE/UPDATE/MERGE become the pure DataFrame programs in
  * [[Incremental]] / [[Snapshot]] followed by a table rewrite; `append`
  * is a real Parquet append (no rewrite). Each write can be verified by
  * row-count reconciliation (the reference's correctness primitive,
  * `sync_manager.py:101-114`) via [[graft.sync.SyncManager]]. A DAG
  * runs through [[graft.GraftSession.run]].
  */
final class Materializer(wh: Warehouse, targetSchema: String = "main") {

  private def schemaOf(n: ModelNode): String =
    Dag.schemaName(targetSchema, n.config.customSchema)

  /** dbt model-contract enforcement (contract: enforced: true): the
    * build fails BEFORE any write when the produced schema deviates
    * from the declared one (missing/extra columns, type mismatches) or
    * a not-null constrained column contains NULLs. Schema checks are
    * metadata-only; the not-null probe is ONE map-side-combined
    * aggregate over the model output (the precheck shape — production
    * engines push the constraint into the write DDL instead, same
    * failure semantics). */
  private def enforceContract(n: ModelNode, df: DataFrame): Unit = {
    import org.apache.spark.sql.functions.{lit, sum, when}
    import org.apache.spark.sql.types.DataType
    val contract = n.config.contract
    if (contract.isEmpty) return
    val actual = df.schema.map(f => f.name -> f.dataType).toMap
    val declared = contract.map(_.name)
    val errs =
      declared.filterNot(actual.contains).map(m => s"$m: missing") ++
      df.schema.map(_.name).filterNot(declared.contains)
        .map(e => s"$e: not in contract") ++
      contract.flatMap { c =>
        actual.get(c.name).flatMap { dt =>
          val want = DataType.fromDDL(c.dataType)
          if (dt == want) None
          else Some(s"${c.name}: expected ${want.sql}, got ${dt.sql}")
        }
      }
    if (errs.nonEmpty) throw new IllegalArgumentException(
      s"${n.name}: contract violated — ${errs.mkString("; ")}")
    val nn = contract.filter(_.notNull).map(_.name)
    if (nn.nonEmpty) {
      val counts = df.agg(
        sum(when(col(nn.head).isNull, 1L).otherwise(0L)),
        nn.tail.map(c =>
          sum(when(col(c).isNull, 1L).otherwise(0L))): _*).head()
      val bad = nn.zipWithIndex
        .collect { case (c, i) if counts.getLong(i) > 0 =>
          s"$c: ${counts.getLong(i)} NULLs" }
      if (bad.nonEmpty) throw new IllegalArgumentException(
        s"${n.name}: not_null constraint violated — ${bad.mkString("; ")}")
    }
  }

  /** Build `n` and [[write]] its output. */
  def materialize(n: ModelNode, now: Option[Column] = None): DataFrame =
    write(n, n.build(wh.spark), now)

  /** Check `df`, `n`'s built output, against the model's contract, write
    * it by the model's materialization and return the written relation
    * read back. Never calls `n.build`. */
  def write(n: ModelNode, df: DataFrame,
      now: Option[Column] = None): DataFrame = {
    enforceContract(n, df)
    val schema = schemaOf(n)
    if (n.config.tableFormat == "iceberg")
      return materializeIceberg(n, df, schema)
    n.config.materialized match {
      case "view" =>
        wh.createView(df, schema, n.name)

      case "table" =>
        wh.createTableAs(df, schema, n.name,
          n.config.partitionBy.toSeq)

      case "incremental" =>
        if (!wh.tableExists(schema, n.name)) // first run = CTAS
          wh.createTableAs(df, schema, n.name, n.config.partitionBy.toSeq)
        else n.config.incrementalStrategy match {
          case "append" =>
            failOnDrift(n, wh.read(schema, n.name).schema, df.schema)
            if (evolvesSchema(n))
              rewrite(Incremental.append(
                syncTarget(n, wh.read(schema, n.name), df), df,
                evolveSchema = true), schema, n.name, n.config.partitionBy.toSeq)
            else wh.append(df, schema, n.name)
          case "delete+insert" | "merge" =>
            val evolve = evolvesSchema(n)
            val current = wh.read(schema, n.name)
            failOnDrift(n, current.schema, df.schema)
            val target = syncTarget(n, current, df)
            val merged = n.config.partitionBy match {
              case Some(p) if n.config.uniqueKey.isEmpty =>
                Incremental.deleteInsertByPartition(target, df, p, evolve)
              case _ =>
                require(n.config.uniqueKey.nonEmpty,
                  s"${n.name}: delete+insert/merge needs unique_key or partition_by")
                n.config.incrementalPredicates match {
                  case Some(p) => Incremental.mergeWithPredicates(target,
                    df, n.config.uniqueKey,
                    org.apache.spark.sql.functions.expr(p), evolve)
                  case None =>
                    Incremental.merge(target, df, n.config.uniqueKey, evolve)
                }
            }
            rewrite(merged, schema, n.name, n.config.partitionBy.toSeq)
          case other =>
            throw new IllegalArgumentException(
              s"${n.name}: unknown incremental strategy '$other'")
        }

      case "snapshot" =>
        val nowCol = now.getOrElse(throw new IllegalArgumentException(
          s"${n.name}: snapshots need an explicit now (no wall-clock reads)"))
        val strategy = snapshotStrategy(n)
        val next =
          if (!wh.tableExists(schema, n.name))
            Snapshot.firstRun(df, n.config.uniqueKey, strategy, nowCol)
          else Snapshot.update(wh.read(schema, n.name), df,
            n.config.uniqueKey, strategy, nowCol,
            hardDelete = n.config.invalidateHardDeletes)
        rewrite(next, schema, n.name, Nil)

      case other =>
        throw new IllegalArgumentException(
          s"${n.name}: unknown materialization '$other'")
    }
    wh.read(schema, n.name)
  }

  /** dbt's `on_schema_change` lattice (incremental.sql:25 reads the
    * config; the reference never acts on it — completed here with
    * dbt's documented semantics): `ignore` (default) appends
    * like-for-like and errors on drift via the engine's schema checks;
    * `fail` raises a dedicated error on ANY name/type drift;
    * `append_new_columns` widens the table, old rows null-filled;
    * `sync_all_columns` additionally removes target columns the batch
    * no longer carries. */
  private def evolvesSchema(n: ModelNode): Boolean =
    n.config.onSchemaChange == "append_new_columns" ||
      n.config.onSchemaChange == "sync_all_columns"

  /** `target` is evaluated only under `fail`, so other settings never
    * read the target for this check. */
  private def failOnDrift(n: ModelNode,
      target: => org.apache.spark.sql.types.StructType,
      batch: org.apache.spark.sql.types.StructType): Unit =
    if (n.config.onSchemaChange == "fail")
      require(target.map(f => (f.name, f.dataType)) ==
        batch.map(f => (f.name, f.dataType)),
        s"${n.name}: on_schema_change=fail and the batch schema " +
          s"(${batch.simpleString}) differs from the target " +
          s"(${target.simpleString})")

  private def syncTarget(n: ModelNode, target: DataFrame,
      batch: DataFrame): DataFrame =
    if (n.config.onSchemaChange == "sync_all_columns")
      Incremental.syncColumns(target, batch)
    else target

  /** The iceberg-format materializations (`tableFormat: "iceberg"`):
    * the model's output commits to an Iceberg v2 table at the model's
    * warehouse path — `table` re-runs are replace snapshots,
    * incremental `append` appends (evolving the schema when
    * `on_schema_change: append_new_columns` and the batch is wider),
    * and `delete+insert`/`merge` become ONE positional-tombstone +
    * data-files snapshot via [[IcebergWriter.deleteInsert]] — the
    * merge-on-read shape: a 0.1% incremental against a 100 TB target
    * writes tombstones and the batch, never rewrites the table (the
    * parquet path's rewrite() materializes the whole merged relation).
    * Reads come back through the manifest chain, time travel included. */
  private def materializeIceberg(n: ModelNode, df: DataFrame,
      schema: String): DataFrame = {
    val spark = wh.spark
    wh.createSchema(schema)
    val path = wh.tablePath(schema, n.name)
    val exists = new java.io.File(path, "metadata").exists()
    val parts = n.config.partitionBy.toSeq
    n.config.materialized match {
      case "table" =>
        if (!exists) IcebergWriter.create(spark, path, df, parts)
        else IcebergWriter.replace(spark, path, df)
      case "incremental" =>
        if (!exists) IcebergWriter.create(spark, path, df, parts)
        else n.config.incrementalStrategy match {
          case "append" =>
            failOnDrift(n, IcebergTable.loadMetadata(path).schema, df.schema)
            if (n.config.onSchemaChange == "sync_all_columns") {
              // removal half first — metadata-only drops — then the
              // batch reordered to (kept table order) ++ (new columns)
              // so the add half is a plain trailing evolution
              val batchCols = df.schema.fieldNames.toSet
              IcebergTable.loadMetadata(path).schema.fieldNames
                .filterNot(batchCols.contains)
                .foreach(IcebergWriter.dropColumn(path, _))
              val kept = IcebergTable.loadMetadata(path).schema.fieldNames
              val ordered = df.select((kept ++
                df.schema.fieldNames.filterNot(kept.contains))
                .map(org.apache.spark.sql.functions.col).toIndexedSeq: _*)
              if (ordered.schema.size > kept.length)
                IcebergWriter.appendEvolved(spark, path, ordered)
              else IcebergWriter.append(spark, path, ordered)
            } else if (n.config.onSchemaChange == "append_new_columns" &&
              df.schema.size > IcebergTable.loadMetadata(path).schema.size)
              IcebergWriter.appendEvolved(spark, path, df)
            else IcebergWriter.append(spark, path, df)
          case "delete+insert" | "merge" =>
            require(n.config.uniqueKey.nonEmpty,
              s"${n.name}: delete+insert/merge needs unique_key")
            IcebergWriter.deleteInsert(spark, path, df, n.config.uniqueKey)
          case other => throw new IllegalArgumentException(
            s"${n.name}: unknown incremental strategy '$other'")
        }
      case other => throw new IllegalArgumentException(
        s"${n.name}: iceberg format supports table|incremental, not '$other'")
    }
    IcebergTable.read(spark, path)
  }

  private def snapshotStrategy(n: ModelNode): Snapshot.Strategy =
    (n.config.snapshotUpdatedAt, n.config.snapshotCheckCols) match {
      case (Some(u), _) => Snapshot.TimestampStrategy(u)
      case (None, cols) if cols.nonEmpty => Snapshot.CheckStrategy(cols)
      case _ => throw new IllegalArgumentException(
        s"${n.name}: snapshot needs snapshotUpdatedAt or snapshotCheckCols")
    }

  /** Rewrite-in-place: materialize the merged plan to a temp location
    * first (the target's own files feed the plan — overwriting directly
    * would corrupt the read), then promote by rename. ONE data write
    * per rewrite; mirrors the reference's tmp-table-then-swap
    * (incremental.sql:110-123), whose swap is also a rename. */
  private def rewrite(df: DataFrame, schema: String, name: String,
      partitionBy: Seq[String]): Unit = {
    val tmp = name + "__tmp"
    wh.createTableAs(df, schema, tmp, partitionBy)
    wh.promote(schema, tmp, name)
  }
}
