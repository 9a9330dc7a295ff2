package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.TimestampType
import org.scalatest.funsuite.AnyFunSuite

import graft.materialize.Materializer
import graft.model.{ContractColumn, Dag, ModelConfig, ModelNode}
import graft.warehouse.Warehouse

class MaterializerSpec extends AnyFunSuite {
  lazy val spark = TestSpark.session

  private def freshWh(): Warehouse =
    new Warehouse(spark, Files.createTempDirectory("graft_wh").toString)

  private val sf = "/root/testdata/sf0.001"

  test("table materialization writes and reads back") {
    val wh = freshWh()
    val m = new Materializer(wh)
    val node = ModelNode("nations", ModelConfig("table"), Nil)(
      s => Tables.load(s, sf, "nation"))
    m.materialize(node)
    assert(wh.read("main", "nations").count() == 25)
    assert(wh.tableExists("main", "nations"))
  }

  test("a table rebuild that fails at execution keeps the live table") {
    val wh = freshWh()
    val m = new Materializer(wh)
    val node = ModelNode("ids", ModelConfig("table"), Nil)(
      s => s.range(10).toDF("id"))
    m.materialize(node)
    val failing = node.copy(build = s => s.range(10).toDF("id")
      .selectExpr("id", "if(id > 5, raise_error('boom'), 1) AS flag"))
    intercept[Exception](m.materialize(failing))
    // the first version is still live and nothing was archived
    assert(wh.tableExists("main", "ids"))
    assert(wh.read("main", "ids").columns.toSeq == Seq("id"))
    assert(wh.read("main", "ids").count() == 10)
    assert(wh.versions("main", "ids").isEmpty)
    assert(wh.versionLedger.isEmpty)
    // and the failed write left no staging directory behind
    val left = Files.list(Paths.get(wh.root, "main"))
      .iterator().asScala.map(_.getFileName.toString).toList
    assert(left == List("ids"))
  }

  test("view materialization registers without writing files") {
    val wh = freshWh()
    val m = new Materializer(wh)
    val node = ModelNode("v_regions", ModelConfig("view"), Nil)(
      s => Tables.load(s, sf, "region"))
    m.materialize(node)
    assert(wh.viewExists("main", "v_regions"))
    assert(!wh.tableExists("main", "v_regions"))
    assert(wh.read("main", "v_regions").count() == 5)
  }

  test("incremental append accumulates; merge replaces by key") {
    val wh = freshWh()
    val m = new Materializer(wh)
    val appendNode = ModelNode("inc_a",
      ModelConfig("incremental", incrementalStrategy = "append"), Nil)(
      s => Tables.load(s, sf, "region"))
    m.materialize(appendNode) // first run: CTAS
    m.materialize(appendNode) // append
    assert(wh.read("main", "inc_a").count() == 10)

    val base = ModelNode("inc_m",
      ModelConfig("incremental", uniqueKey = Seq("r_regionkey"),
        incrementalStrategy = "merge"), Nil)(
      s => Tables.load(s, sf, "region"))
    m.materialize(base)
    val relabel = base.copy(build =
      s => Tables.load(s, sf, "region").withColumn("r_name", lit("XX")))
    m.materialize(relabel)
    val out = wh.read("main", "inc_m")
    assert(out.count() == 5) // replaced, not duplicated
    assert(out.filter(col("r_name") === "XX").count() == 5)
  }

  test("iceberg-format models: table replaces, incremental merges by key, " +
    "history time-travels") {
    import graft.materialize.IcebergTable
    val wh = freshWh()
    val m = new Materializer(wh)
    val path = wh.tablePath("main", "ice_t")
    // table: first run creates snapshot 1, re-run is a replace snapshot
    val t = ModelNode("ice_t",
      ModelConfig("table", tableFormat = "iceberg"), Nil)(
      s => Tables.load(s, sf, "region"))
    m.materialize(t)
    assert(m.materialize(t).count() == 5) // replace, not duplicate
    val md = IcebergTable.loadMetadata(path)
    assert(md.snapshots.size == 2)
    assert(IcebergTable.readVersion(spark, path, 1L).count() == 5)

    // incremental merge: re-keyed batch tombstones + appends in ONE
    // snapshot; read comes back through the manifest chain
    val i = ModelNode("ice_i",
      ModelConfig("incremental", uniqueKey = Seq("r_regionkey"),
        incrementalStrategy = "merge", tableFormat = "iceberg"), Nil)(
      s => Tables.load(s, sf, "region"))
    m.materialize(i)
    val relabeled = i.copy(build = s =>
      Tables.load(s, sf, "region").filter(col("r_regionkey") < 2)
        .withColumn("r_name", lit("XX")))
    val out = m.materialize(relabeled)
    assert(out.count() == 5)
    assert(out.filter(col("r_name") === "XX").count() == 2)
    // the merge wrote tombstones + batch, no table rewrite: the two
    // original data-file sets are both still referenced
    val mdI = IcebergTable.loadMetadata(wh.tablePath("main", "ice_i"))
    assert(mdI.snapshots.size == 2)
  }

  test("snapshot runs twice and versions changed rows") {
    val wh = freshWh()
    val m = new Materializer(wh)
    val t1 = lit("2024-01-01 00:00:00").cast(TimestampType)
    val t2 = lit("2024-02-01 00:00:00").cast(TimestampType)
    def src(mutate: Boolean) = ModelNode("snap",
      ModelConfig("snapshot", uniqueKey = Seq("r_regionkey"),
        snapshotUpdatedAt = Some("updated_at"),
        invalidateHardDeletes = true), Nil)(
      s => {
        val r = Tables.load(s, sf, "region")
        if (!mutate) r.withColumn("updated_at", t1)
        else r.filter(col("r_regionkey") =!= 4)
          .withColumn("r_name",
            when(col("r_regionkey") === 0, lit("RENAMED"))
              .otherwise(col("r_name")))
          .withColumn("updated_at",
            when(col("r_regionkey") === 0, t2).otherwise(t1))
      })
    m.materialize(src(mutate = false), Some(t1))
    m.materialize(src(mutate = true), Some(t2))
    val out = wh.read("main", "snap")
    // 5 original versions + 1 new version of key 0
    assert(out.count() == 6)
    // key 0: old version closed at t2, new open version RENAMED
    val k0 = out.filter(col("r_regionkey") === 0)
    assert(k0.count() == 2)
    assert(k0.filter(col("dbt_valid_to").isNull)
      .select("r_name").head().getString(0) == "RENAMED")
    // key 4 was hard-deleted: closed, no open version
    val k4 = out.filter(col("r_regionkey") === 4)
    assert(k4.count() == 1 && k4.filter(col("dbt_valid_to").isNull).count() == 0)
    // untouched keys stay open
    assert(out.filter(col("dbt_valid_to").isNull).count() == 4)
  }

  test("DAG topo-orders dependencies and detects cycles") {
    val a = ModelNode("a", ModelConfig(), Nil)(_ => null)
    val b = ModelNode("b", ModelConfig(), Seq("model.graft.a"))(_ => null)
    val c = ModelNode("c", ModelConfig(), Seq("model.graft.b", "model.graft.a"))(_ => null)
    assert(Dag.topoOrder(Seq(c, b, a)).map(_.name) == Seq("a", "b", "c"))
    val x = ModelNode("x", ModelConfig(), Seq("model.graft.y"))(_ => null)
    val y = ModelNode("y", ModelConfig(), Seq("model.graft.x"))(_ => null)
    assertThrows[IllegalStateException](Dag.topoOrder(Seq(x, y)))
  }

  test("schema name generation matches reference adapters.sql:9-16") {
    assert(Dag.schemaName("analytics", None) == "analytics")
    assert(Dag.schemaName("analytics", Some("staging")) == "analytics_staging")
  }

  test("partition-scoped incremental rewrites only staged partitions") {
    val wh = freshWh()
    val m = new Materializer(wh)
    def build(tag: String, monthGe: String) = ModelNode("inc_p",
      ModelConfig("incremental", incrementalStrategy = "delete+insert",
        partitionBy = Some("ym")), Nil)(
      s => Tables.load(s, sf, "orders")
        .filter(date_format(col("o_orderdate"), "yyyy-MM") >= monthGe)
        .select(col("o_orderkey"), lit(tag).as("tag"),
          date_format(col("o_orderdate"), "yyyy-MM").as("ym")))
    m.materialize(build("v1", "1995-01"))
    val before = wh.read("main", "inc_p").count()
    m.materialize(build("v2", "2001-01"))
    val out = wh.read("main", "inc_p")
    assert(out.count() == before) // same keys, partitions replaced
    assert(out.filter(col("ym") >= "2001-01")
      .filter(col("tag") =!= "v2").count() == 0)
    assert(out.filter(col("ym") < "2001-01")
      .filter(col("tag") =!= "v1").count() == 0)
  }

  test("incremental rewrite writes the merged data once, promotes by rename") {
    import org.apache.spark.sql.SaveMode
    var writes = 0
    val wh = new Warehouse(spark,
      Files.createTempDirectory("graft_wh").toString) {
      override def createTableAs(df: org.apache.spark.sql.DataFrame,
          schema: String, name: String, partitionBy: Seq[String],
          mode: SaveMode): Unit = {
        writes += 1
        super.createTableAs(df, schema, name, partitionBy, mode)
      }
    }
    val m = new Materializer(wh)
    val node = ModelNode("inc_w",
      ModelConfig("incremental", uniqueKey = Seq("r_regionkey"),
        incrementalStrategy = "merge"), Nil)(
      s => Tables.load(s, sf, "region"))
    m.materialize(node) // first run: CTAS
    writes = 0
    m.materialize(node) // rewrite: one tmp write, then a rename
    assert(writes == 1, s"rewrite issued $writes writes, expected 1")
    assert(!wh.tableExists("main", "inc_w__tmp"))
    assert(wh.read("main", "inc_w").count() == 5)
  }

  test("versioned reads: promotes archive previous versions; readAsOf time-travels") {
    val wh = freshWh()
    val m = new Materializer(wh)
    def node(tag: String) = ModelNode("inc_v",
      ModelConfig("incremental", uniqueKey = Seq("r_regionkey"),
        incrementalStrategy = "merge"), Nil)(
      s => Tables.load(s, sf, "region").withColumn("tag", lit(tag)))
    wh.setVersionLabel("2024-01-01")
    m.materialize(node("v1")) // CTAS — nothing to archive
    wh.setVersionLabel("2024-02-01")
    m.materialize(node("v2")) // archives version 1 = the v1 state
    wh.setVersionLabel("2024-03-01")
    m.materialize(node("v3")) // archives version 2 = the v2 state
    assert(wh.versions("main", "inc_v") == Seq(1, 2))
    assert(wh.read("main", "inc_v")
      .filter(col("tag") === "v3").count() == 5)
    assert(wh.readVersion("main", "inc_v", 2)
      .filter(col("tag") === "v2").count() == 5)
    assert(wh.readVersion("main", "inc_v", 1)
      .filter(col("tag") === "v1").count() == 5)
    // as-of semantics: the state that was LIVE at the given label
    assert(wh.readAsOf("main", "inc_v", "2024-01-15")
      .filter(col("tag") === "v1").count() == 5)
    assert(wh.readAsOf("main", "inc_v", "2024-02-15")
      .filter(col("tag") === "v2").count() == 5)
    assert(wh.readAsOf("main", "inc_v", "2024-04-01")
      .filter(col("tag") === "v3").count() == 5)
    // ledger recorded both archives with their replacement labels
    val entries = wh.versionLedger.filter(_.table == "inc_v")
    assert(entries.map(e => (e.version, e.label, e.action)) ==
      Seq((1, "2024-02-01", "promote"), (2, "2024-03-01", "promote")))
    // a fourth run prunes beyond Warehouse.KeepVersions = 2
    wh.setVersionLabel("2024-04-01")
    m.materialize(node("v4"))
    assert(wh.versions("main", "inc_v") == Seq(2, 3))
    // pruned-era as-of FAILS instead of silently serving newer data:
    // version 1 (live during January) is pruned, and the ledger knows it
    val ex = intercept[IllegalStateException](
      wh.readAsOf("main", "inc_v", "2024-01-15"))
    assert(ex.getMessage.contains("pruned"))
    // retained eras still resolve after the prune
    assert(wh.readAsOf("main", "inc_v", "2024-02-15")
      .filter(col("tag") === "v2").count() == 5)
    assert(wh.readAsOf("main", "inc_v", "2024-05-01")
      .filter(col("tag") === "v4").count() == 5)
  }

  test("version ledger round-trips a label with a newline, a quote and a backslash") {
    val wh = freshWh()
    val m = new Materializer(wh)
    def node(tag: String) = ModelNode("inc_l",
      ModelConfig("incremental", uniqueKey = Seq("r_regionkey"),
        incrementalStrategy = "merge"), Nil)(
      s => Tables.load(s, sf, "region").withColumn("tag", lit(tag)))
    val label = "2024-02-01\n\"q\" \\x"
    wh.setVersionLabel("2024-01-01")
    m.materialize(node("v1"))
    wh.setVersionLabel(label)
    m.materialize(node("v2")) // archives version 1 under `label`
    assert(wh.versionLedger.map(e =>
      (e.schema, e.table, e.version, e.label, e.action)) ==
      Seq(("main", "inc_l", 1, label, "promote")))
    assert(wh.readAsOf("main", "inc_l", "2024-01-15")
      .filter(col("tag") === "v1").count() == 5)
  }

  test("diffVersions emits Delta-CDF change rows between archived and live") {
    val wh = freshWh()
    val v1 = Tables.load(spark, sf, "region")
      .select(col("r_regionkey"), col("r_name"))
    wh.setVersionLabel("2024-01-01")
    wh.createTableAs(v1, "main", "cdc")
    // v2: key 4 deleted, key 0 renamed, key 99 inserted
    val v2 = v1.filter(col("r_regionkey") =!= 4)
      .withColumn("r_name", when(col("r_regionkey") === 0, lit("RENAMED"))
        .otherwise(col("r_name")))
      .unionByName(v1.filter(col("r_regionkey") === 1)
        .select(lit(99L).as("r_regionkey"), lit("NEW").as("r_name")))
    wh.setVersionLabel("2024-02-01")
    wh.createTableAs(v2, "main", "cdc") // archives v1 as version 1
    val d = wh.diffVersions("main", "cdc", Seq("r_regionkey"), 1)
    val byType = d.groupBy(col("_change_type")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byType == Map("insert" -> 1L, "delete" -> 1L,
      "update_preimage" -> 1L, "update_postimage" -> 1L), byType.toString)
    assert(d.filter(col("_change_type") === "insert")
      .head.getAs[Long]("r_regionkey") == 99L)
    assert(d.filter(col("_change_type") === "delete")
      .head.getAs[Long]("r_regionkey") == 4L)
    assert(d.filter(col("_change_type") === "update_postimage")
      .head.getAs[String]("r_name") == "RENAMED")
    assert(d.filter(col("_change_type") === "update_preimage")
      .head.getAs[Long]("r_regionkey") == 0L)
    // identical states diff to zero rows
    assert(Warehouse.diff(v2, v2, Seq("r_regionkey")).count() == 0)
  }

  test("compact rewrites small files into clustered big ones, versioned") {
    val wh = freshWh()
    // simulate append-accumulated small files: 8 partitions of orders
    wh.createTableAs(
      Tables.load(spark, sf, "orders").repartition(8), "main", "ord")
    assert(wh.dataFiles("main", "ord").size == 8)
    val before = wh.rowCount("main", "ord")
    wh.compact("main", "ord", targetFileRows = before,
      clusterBy = Seq("o_orderdate"))
    assert(wh.dataFiles("main", "ord").size == 1)
    assert(wh.rowCount("main", "ord") == before)
    // the pre-compaction state was archived as a version
    assert(wh.versions("main", "ord") == Seq(1))
    assert(wh.readVersion("main", "ord", 1).count() == before)
    // clustered: the single file is sorted by the cluster column
    val ts = wh.read("main", "ord")
      .selectExpr("unix_micros(CAST(o_orderdate AS TIMESTAMP))")
      .collect().map(_.getLong(0))
    assert(ts.sameElements(ts.sorted), "not sorted within file")
  }

  test("z-order compaction prunes on every clustered dimension") {
    import spark.implicits._
    val wh = freshWh()
    // two independent uniform dimensions, scattered across 8 files
    val rows = for (x <- 0 until 64; y <- 0 until 64)
      yield (x.toLong * 64 + y, x.toLong, y.toLong)
    wh.createTableAs(rows.toDF("id", "x", "y").repartition(8),
      "main", "pts")
    val before = wh.rowCount("main", "pts")
    wh.compactZOrder("main", "pts", targetFileRows = before / 16,
      zOrderBy = Seq("x", "y"))
    assert(wh.dataFiles("main", "pts").size == 16)
    assert(wh.rowCount("main", "pts") == before)
    // row set preserved exactly
    assert(wh.read("main", "pts").select("id").collect()
      .map(_.getLong(0)).sorted.sameElements(rows.map(_._1).sorted))
    // per-file bounding boxes: a y-band predicate must prune files —
    // the capability single-column clustering cannot provide
    val boxes = wh.read("main", "pts")
      .groupBy(input_file_name().as("f"))
      .agg(min(col("y")).as("ylo"), max(col("y")).as("yhi"),
        min(col("x")).as("xlo"), max(col("x")).as("xhi"))
      .collect()
    assert(boxes.length == 16)
    val hitY = boxes.count(r => r.getAs[Long]("ylo") < 8) // y < 8 band
    assert(hitY <= 8, s"y-band predicate should prune >= half, hit $hitY")
    val hitX = boxes.count(r => r.getAs[Long]("xlo") < 8)
    assert(hitX <= 8, s"x-band predicate should prune >= half, hit $hitX")
  }

  test("analyzeTable measures clustering quality per file") {
    import spark.implicits._
    val wh = freshWh()
    val rows = for (x <- 0 until 64; y <- 0 until 64)
      yield (x.toLong * 64 + y, x.toLong, y.toLong)
    wh.createTableAs(rows.toDF("id", "x", "y").repartition(8),
      "main", "pts")
    // scattered: every file spans (nearly) the full x domain
    val scattered = wh.analyzeTable("main", "pts", Seq("x", "y"))
      .filter(col("column") === "x").collect()
    assert(scattered.length == 8)
    assert(scattered.forall(r =>
      r.getAs[String]("max_value").toLong -
        r.getAs[String]("min_value").toLong > 32))
    assert(scattered.map(_.getAs[Long]("rows")).sum == 64 * 64)
    assert(scattered.forall(_.getAs[Long]("null_count") == 0))
    // after z-order compaction the same ledger shows narrow ranges
    wh.compactZOrder("main", "pts", targetFileRows = (64 * 64) / 16,
      zOrderBy = Seq("x", "y"))
    val clustered = wh.analyzeTable("main", "pts", Seq("x", "y"))
      .filter(col("column") === "x").collect()
    assert(clustered.length == 16)
    assert(clustered.forall(r =>
      r.getAs[String]("max_value").toLong -
        r.getAs[String]("min_value").toLong <= 32))
  }

  test("model contracts enforce schema and not-null before any write") {
    val wh = freshWh()
    val m = new Materializer(wh)
    val goodContract = Seq(
      ContractColumn("r_regionkey", "int", notNull = true),
      ContractColumn("r_name", "string"))
    def node(contract: Seq[ContractColumn],
        build: SparkSession => org.apache.spark.sql.DataFrame) =
      ModelNode("contracted", ModelConfig("table", contract = contract),
        Nil)(build)
    def region(s: SparkSession) = Tables.load(s, sf, "region")
      .select(col("r_regionkey"), col("r_name"))
    // conforming build materializes
    m.materialize(node(goodContract, region))
    assert(wh.read("main", "contracted").count() == 5)
    // type mismatch fails with the column named
    val e1 = intercept[IllegalArgumentException](m.materialize(node(
      Seq(ContractColumn("r_regionkey", "bigint"),
        ContractColumn("r_name", "string")), region)))
    assert(e1.getMessage.contains("r_regionkey") &&
      e1.getMessage.contains("expected BIGINT"))
    // extra / missing columns fail
    val e2 = intercept[IllegalArgumentException](m.materialize(node(
      Seq(ContractColumn("r_regionkey", "int")), region)))
    assert(e2.getMessage.contains("r_name: not in contract"))
    val e3 = intercept[IllegalArgumentException](m.materialize(node(
      goodContract :+ ContractColumn("r_comment", "string"), region)))
    assert(e3.getMessage.contains("r_comment: missing"))
    // not-null violation fails before the write (table unchanged)
    val e4 = intercept[IllegalArgumentException](m.materialize(node(
      goodContract,
      s => region(s).withColumn("r_regionkey",
        when(col("r_regionkey") < 2, lit(null).cast("int"))
          .otherwise(col("r_regionkey"))))))
    assert(e4.getMessage.contains("not_null") &&
      e4.getMessage.contains("2 NULLs"))
    assert(wh.read("main", "contracted")
      .filter(col("r_regionkey").isNull).count() == 0)
  }

  test("readPruned skips files by ledger stats and returns exact rows") {
    import spark.implicits._
    val wh = freshWh()
    val rows = for (x <- 0 until 64; y <- 0 until 64)
      yield (x.toLong * 64 + y, x.toLong, y.toLong)
    wh.createTableAs(rows.toDF("id", "x", "y"), "main", "pts2")
    wh.compactZOrder("main", "pts2", targetFileRows = (64 * 64) / 16,
      zOrderBy = Seq("x", "y"))
    // a persisted ledger (what a maintenance loop would materialize)
    val ledger = wh.analyzeTable("main", "pts2", Seq("x"))
    val (scan, kept, total) =
      wh.readPruned("main", "pts2", "x", 10.0, 20.0, Some(ledger))
    assert(total == 16)
    assert(kept < total, s"kept $kept of $total — nothing pruned")
    // pruning must not change results: equals the full-scan filter
    val expected = wh.read("main", "pts2")
      .filter(col("x") >= 10 && col("x") <= 20)
    assert(scan.count() == expected.count())
    assert(scan.agg(sum(col("id"))).head.getLong(0) ==
      expected.agg(sum(col("id"))).head.getLong(0))
    // an empty range prunes everything but keeps the schema
    val (empty, k2, _) =
      wh.readPruned("main", "pts2", "x", 1000.0, 2000.0, Some(ledger))
    assert(k2 == 0 && empty.count() == 0)
    assert(empty.columns.toSeq == Seq("id", "x", "y"))
  }

  test("on_schema_change=append_new_columns evolves incremental tables") {
    val wh = freshWh()
    val m = new Materializer(wh)
    val node = ModelNode("inc_evo",
      ModelConfig("incremental", uniqueKey = Seq("r_regionkey"),
        incrementalStrategy = "merge",
        onSchemaChange = "append_new_columns"), Nil)(
      s => Tables.load(s, sf, "region"))
    m.materialize(node)
    val widened = node.copy(build =
      s => Tables.load(s, sf, "region").withColumn("extra", lit(42)))
    m.materialize(widened)
    val out = wh.read("main", "inc_evo")
    assert(out.columns.contains("extra"))
    assert(out.count() == 5)
    assert(out.filter(col("extra") === 42).count() == 5) // all replaced
  }

  test("on_schema_change=sync_all_columns adds AND removes columns") {
    val wh = freshWh()
    val m = new Materializer(wh)
    val node = ModelNode("inc_sync",
      ModelConfig("incremental", incrementalStrategy = "append",
        onSchemaChange = "sync_all_columns"), Nil)(
      s => Tables.load(s, sf, "region"))
    m.materialize(node)
    // next batch drops r_comment and adds extra: the table follows
    val changed = node.copy(build = s => Tables.load(s, sf, "region")
      .drop("r_comment").withColumn("extra", lit(7)))
    m.materialize(changed)
    val out = wh.read("main", "inc_sync")
    assert(!out.columns.contains("r_comment"))
    assert(out.columns.contains("extra"))
    assert(out.count() == 10) // first batch (null extra) + second
    assert(out.filter(col("extra").isNull).count() == 5)
  }

  test("on_schema_change=fail raises on any schema drift") {
    val wh = freshWh()
    val m = new Materializer(wh)
    val node = ModelNode("inc_fail",
      ModelConfig("incremental", incrementalStrategy = "append",
        onSchemaChange = "fail"), Nil)(
      s => Tables.load(s, sf, "region"))
    m.materialize(node)
    m.materialize(node) // like-for-like still appends
    assert(wh.read("main", "inc_fail").count() == 10)
    val drifted = node.copy(build =
      s => Tables.load(s, sf, "region").withColumn("extra", lit(1)))
    val e = intercept[IllegalArgumentException](m.materialize(drifted))
    assert(e.getMessage.contains("on_schema_change=fail"))
  }

  test("iceberg sync_all_columns: metadata-only drops + trailing evolution") {
    val wh = freshWh()
    val m = new Materializer(wh)
    val node = ModelNode("ice_sync",
      ModelConfig("incremental", incrementalStrategy = "append",
        onSchemaChange = "sync_all_columns",
        tableFormat = "iceberg"), Nil)(
      s => Tables.load(s, sf, "region"))
    m.materialize(node)
    val changed = node.copy(build = s => Tables.load(s, sf, "region")
      .drop("r_comment").withColumn("extra", lit(7L)))
    val out = m.materialize(changed)
    assert(out.columns.toSeq ==
      Seq("r_regionkey", "r_name", "extra"))
    assert(out.count() == 10)
    assert(out.filter(col("extra").isNull).count() == 5)
    assert(out.filter(col("extra") === 7L).count() == 5)
  }
}
