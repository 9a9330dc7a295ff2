package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, GraftBridge}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.materialize.Materializer
import graft.model.{ModelConfig, ModelNode}
import graft.warehouse.{ParquetFooter, Warehouse}

/** The warehouse's metadata read path: schemas and row counts taken from
  * parquet footers must equal what Spark's inference and `count()` give,
  * on every table layout the engine writes, and must launch no job. */
class WarehouseMetadataSpec extends AnyFunSuite {
  lazy val spark = TestSpark.session

  private def freshWh(): Warehouse =
    new Warehouse(spark, Files.createTempDirectory("graft_meta").toString)

  private def rowsOf(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  /** Footer path taken, and schema, content and row count equal to a
    * plain `spark.read.parquet` of the same directory. */
  private def assertEquivalent(wh: Warehouse, table: String): Unit = {
    val path = wh.tablePath("main", table)
    assert(ParquetFooter.tableSchema(spark, path).isDefined,
      s"$table: expected the footer path")
    val inferred = spark.read.parquet(path)
    val fromFooter = wh.read("main", table)
    assert(fromFooter.schema == inferred.schema, table)
    assert(rowsOf(fromFooter) == rowsOf(inferred), table)
    assert(wh.rowCount("main", table) == inferred.count(), table)
  }

  private def orders = spark.range(0, 600).select(
    col("id").as("o_orderkey"), (col("id") % 37).as("o_custkey"),
    element_at(array(lit("F"), lit("O"), lit("P")),
      (col("id") % 3 + 1).cast("int")).as("o_orderstatus"),
    (col("id") * 1.25).cast("decimal(12,2)").as("o_totalprice"),
    timestamp_seconds(col("id") * 86400).as("o_orderdate"))

  private def regions = spark.range(0, 5).select(
    col("id").as("r_regionkey"), concat(lit("R"), col("id")).as("r_name"),
    lit("comment").as("r_comment"))

  test("plain, partitioned, multi-file and empty tables: footer == inference") {
    val wh = freshWh()
    wh.createTableAs(orders.repartition(3), "main", "plain")
    assertEquivalent(wh, "plain")

    // int and string partition columns, a NULL partition value included:
    // partition columns come back with the types Spark infers from the
    // directory names, in the same place
    wh.createTableAs(orders
        .withColumn("bucket", (col("o_orderkey") % 3).cast("int"))
        .withColumn("status", when(col("o_orderstatus") =!= "F",
          col("o_orderstatus"))),
      "main", "parted", partitionBy = Seq("bucket", "status"))
    assertEquivalent(wh, "parted")
    assert(wh.read("main", "parted").columns.takeRight(2).toSeq ==
      Seq("bucket", "status"))

    wh.createTableAs(orders.filter(col("o_orderkey") % 2 === 0)
      .repartition(2), "main", "appended")
    wh.append(orders.filter(col("o_orderkey") % 2 === 1).repartition(2),
      "main", "appended")
    wh.append(orders.limit(7), "main", "appended")
    assertEquivalent(wh, "appended")
    assert(wh.rowCount("main", "appended") == orders.count() + 7)

    wh.createTableAs(orders.limit(0), "main", "empty")
    assertEquivalent(wh, "empty")
    assert(wh.rowCount("main", "empty") == 0)
  }

  test("schema-evolved incremental tables: footer == inference") {
    val wh = freshWh()
    val m = new Materializer(wh)
    val widening = ModelNode("evo_merge", ModelConfig("incremental",
      uniqueKey = Seq("r_regionkey"), incrementalStrategy = "merge",
      onSchemaChange = "append_new_columns"), Nil)(_ => regions)
    m.materialize(widening)
    m.materialize(widening.copy(build = _ => regions
      .filter(col("r_regionkey") < 2).withColumn("extra", lit(42))))
    assertEquivalent(wh, "evo_merge")
    assert(wh.read("main", "evo_merge").columns.contains("extra"))

    val syncing = ModelNode("evo_sync", ModelConfig("incremental",
      incrementalStrategy = "append", onSchemaChange = "sync_all_columns"),
      Nil)(_ => regions)
    m.materialize(syncing)
    m.materialize(syncing.copy(build = _ => regions
      .drop("r_comment").withColumn("extra", lit(7))))
    assertEquivalent(wh, "evo_sync")
    assert(!wh.read("main", "evo_sync").columns.contains("r_comment"))
    assert(wh.rowCount("main", "evo_sync") == 10)
  }

  test("views, foreign parquet, Iceberg and empty dirs fall back to Spark") {
    val wh = freshWh()
    wh.createView(regions, "main", "v")
    assert(wh.rowCount("main", "v") == 5)

    // a file another writer made carries no Spark schema key
    val foreign = Paths.get(wh.tablePath("main", "foreign"))
    locally {
      import org.apache.parquet.example.data.simple.SimpleGroupFactory
      import org.apache.parquet.hadoop.example.ExampleParquetWriter
      val schema = org.apache.parquet.schema.MessageTypeParser
        .parseMessageType("message t { required int64 id; }")
      val w = ExampleParquetWriter.builder(new org.apache.hadoop.fs.Path(
        foreign.resolve("part-0.parquet").toString)).withType(schema).build()
      try (0 until 5).foreach(i =>
        w.write(new SimpleGroupFactory(schema).newGroup().append("id", i.toLong)))
      finally w.close()
    }
    assert(ParquetFooter.tableSchema(spark, foreign.toString).isEmpty)
    assert(wh.read("main", "foreign").schema ==
      spark.read.parquet(foreign.toString).schema)
    assert(wh.rowCount("main", "foreign") == 5)

    val ice = wh.tablePath("main", "ice")
    graft.materialize.IcebergWriter.create(spark, ice, regions, Nil)
    assert(ParquetFooter.tableSchema(spark, ice).isEmpty)

    val empty = Paths.get(wh.tablePath("main", "nothing"))
    Files.createDirectories(empty)
    Files.createFile(empty.resolve("_SUCCESS"))
    assert(ParquetFooter.tableSchema(spark, empty.toString).isEmpty)
  }

  test("footer batches above the job threshold read in one job, same result") {
    val wh = freshWh()
    wh.createTableAs(orders.repartition(2), "main", "t")
    val files = spark.read.parquet(wh.tablePath("main", "t")).inputFiles.toSeq
    val jobs = new AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    GraftBridge.drainListenerBus(spark)
    spark.sparkContext.addSparkListener(listener)
    try {
      val small = ParquetFooter.readAll(spark, files)(ParquetFooter.rows)
      GraftBridge.drainListenerBus(spark)
      assert(jobs.get == 0)
      // the same files repeated past the threshold: executor-side reads
      val many = Iterator.continually(files).flatten
        .take(ParquetFooter.JobThreshold + 1).toSeq
      val big = ParquetFooter.readAll(spark, many)(ParquetFooter.rows)
      GraftBridge.drainListenerBus(spark)
      assert(jobs.get == 1)
      assert(big.toMap == small.toMap && big.size == many.size)
      assert(small.map(_._2).sum == orders.count())
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("materializing an existing merge model, read and rowCount start " +
    "no job outside a SQL execution") {
    val wh = freshWh()
    val m = new Materializer(wh)
    import spark.implicits._
    def batch(keys: Range) =
      keys.map(k => (k.toLong, s"v$k", k * 1.5)).toDF("id", "name", "score")
    val node = ModelNode("merged", ModelConfig("incremental",
      uniqueKey = Seq("id"), incrementalStrategy = "merge"), Nil)(
      _ => batch(0 until 50))
    m.materialize(node)

    val outside = new AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties)
            .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
            .isEmpty) outside.incrementAndGet()
    }
    GraftBridge.drainListenerBus(spark)
    spark.sparkContext.addSparkListener(listener)
    try {
      m.materialize(node.copy(build = _ => batch(40 until 60)))
      val df = wh.read("main", "merged")
      assert(df.columns.toSeq == Seq("id", "name", "score"))
      assert(wh.rowCount("main", "merged") == 60)
      GraftBridge.drainListenerBus(spark)
      assert(outside.get == 0)
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}
