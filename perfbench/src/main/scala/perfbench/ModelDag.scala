package perfbench

import java.io.File
import java.math.{BigDecimal => JBig, RoundingMode}
import java.sql.Timestamp

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.types._

import graft.GraftSession
import graft.model.{ContractColumn, ModelConfig, ModelNode}
import graft.planner.Venue
import graft.telemetry.ModelRun
import graft.warehouse.Warehouse

/** The write path: a dbt-style model DAG run through `GraftSession.run`.
  *
  * One pass is one cycle on a fresh warehouse: a full build, then
  * `ModelDag.Incrementals` incremental runs (each a fresh `GraftSession`
  * over the same warehouse root, each run's landing batch changing a
  * seeded subset of keys: updates, deletes and inserts), a verified
  * `SyncManager.syncAll` of the marts to a second warehouse, and a few of
  * the `m_*` inventory queries. Reference sources (`raw.nation`,
  * `raw.region`) arrive through `sourceFetch` into the `SourceCache`.
  *
  * Every final table is read back from the warehouse path and checked
  * against a last-write-wins / SCD2 recomputation made here, in plain
  * Scala, from the same seeded batches.
  *
  * Untraced, each run is one `GraftSession.run` call and a model's
  * latency is the time from its build call to the next model's (the last
  * one ends when `run` returns). Traced, the harness makes the public
  * calls `run` makes, in the same order, so each layer gets its own span.
  */
final class ModelDag extends Workload {
  import ModelDag._

  val passes = 1
  def queryNames: Seq[String] = InventoryOps

  private val base = mutable.Map[String, Base]()
  private var batches: Batches = _
  private val lastOp = mutable.Map[String, OpRec]()
  private def root(h: Harness) = new File(h.workDir, s"dag/pass${h.pass}")

  override def prepare(h: Harness, dataDir: String, seed: Long): Unit = {
    val b = base.getOrElseUpdate(dataDir, Base.load(h.spark, dataDir))
    deleteTree(root(h))
    batches = Batches.generate(b, seed, 1 + Incrementals)
    batches.write(h.spark, new File(root(h), "landing").getPath)
    // reference sources are fetched again in every cycle
    Seq("nation", "region").foreach(t =>
      h.spark.sql(s"DROP TABLE IF EXISTS raw.$t"))
    lastOp.clear()
  }

  def pass(h: Harness, dataDir: String, seed: Long): Unit = {
    val spark = h.spark
    val landing = new File(root(h), "landing").getPath
    val fetches = new java.util.concurrent.atomic.AtomicInteger()
    val whRoot = new File(root(h), "wh").getPath

    (0 to Incrementals).foreach { run =>
      val gs = new GraftSession(spark, whRoot,
        sourceFetch = (schema, table) =>
          if (schema == "raw" && Set("nation", "region")(table)) {
            fetches.incrementAndGet()
            Some(graft.Tables.load(spark, dataDir, table))
          } else None)
      val now = lit(batches.runTs(run))
      val nodes = models(h, gs, landing, run, fetches)
      val recs =
        if (h.traced) tracedRun(h, gs, nodes, now)
        else untracedRun(h, gs, nodes, now)
      recs.foreach(r => lastOp(r.name) = r)
    }
    h.layer("cache.fetches", fetches.get)

    val wh = new Warehouse(spark, whRoot)
    val wh2 = new Warehouse(spark, new File(root(h), "wh2").getPath)
    val synced = Seq("dim_customers", "fct_orders", "mart_segment_revenue")
    h.op("sync", "sync") {
      val gs = new GraftSession(spark, whRoot)
      h.timed("sync", "sync.ms") {
        gs.sync.syncAll(wh, wh2, "main",
          models(h, gs, landing, 0, fetches)
            .filter(n => synced.contains(n.name)))
      }
    } { results =>
      h.layer("sync.tables", results.size)
      h.layer("sync.attempts", results.map(_.attempts).sum)
      val bad = results.filter(_.status != "synced")
      if (results.size != synced.size || bad.nonEmpty)
        Some(s"sync: ${bad.map(r => s"${r.table}: ${r.error}").mkString("; ")}")
      else synced.flatMap { t =>
        val a = digestOf(wh.read("main", t)); val c = digestOf(wh2.read("main", t))
        if (a == c) None else Some(s"synced $t digest $c != source $a")
      }.headOption
    }

    new scala.util.Random(seed).shuffle(InventoryOps).foreach { n =>
      h.query(n, "m")(graft.SparkEntry.queries(n)(spark, dataDir))
    }
  }

  override def verify(h: Harness, dataDir: String, seed: Long): Unit = {
    val spark = h.spark
    val root = this.root(h)
    val whRoot = new File(root, "wh").getPath
    val wh = new Warehouse(spark, whRoot)
    // output checks: final tables against the independent recomputation
    val expect = Expected(batches, base(dataDir))
    val problems =
      try check(spark, wh, new File(whRoot, "main").getPath, expect)
      catch { case e: Throwable =>
        lastOp.keys.toSeq.map(_ -> s"check threw: ${e.getMessage}") }
    problems.foreach { case (table, err) =>
      lastOp.get(table).foreach(o => h.fail(o, s"output check: $err"))
    }

    val whFiles = files(new File(root, "wh")) ++ files(new File(root, "wh2"))
    h.layer("warehouse.files", whFiles.size)
    h.layer("warehouse.disk_mb", whFiles.map(_.length).sum / 1e6)
    val ice = new File(whRoot, "main/ice_orders")
    h.layer("iceberg.files_written",
      files(new File(ice, "data")).count(_.getName.endsWith(".parquet")))
    val meta = files(new File(ice, "metadata"))
    h.layer("iceberg.manifests_written",
      meta.count(f => f.getName.endsWith(".avro") && !f.getName.startsWith("snap-")))
    h.layer("iceberg.metadata_versions",
      meta.count(_.getName.endsWith(".metadata.json")))
    deleteTree(root)
  }

  /** One `GraftSession.run` call; model latencies from build-call stamps. */
  private def untracedRun(h: Harness, gs: GraftSession, nodes: Seq[ModelNode],
      now: org.apache.spark.sql.Column): Seq[OpRec] = {
    val stamps = mutable.LinkedHashMap[String, Double]()
    val stamped = nodes.map(n => n.copy(build = s => {
      if (!stamps.contains(n.name)) stamps(n.name) = Clock.nowMs
      n.build(s)
    }))
    val t0 = Clock.nowMs
    val result = try Right(gs.run(stamped, now)) catch { case e: Throwable => Left(e) }
    val tEnd = Clock.nowMs
    val starts = stamps.toSeq
    val order = graft.model.Dag.topoOrder(nodes)
    order.map { n =>
      val i = starts.indexWhere(_._1 == n.name)
      val kind = kindOf(n)
      if (i < 0) h.record(n.name, kind, tEnd, tEnd,
        Some(result.left.toOption.map(e => s"not run: ${e.getMessage}")
          .getOrElse("not run")))
      else {
        val s = if (i == 0) t0 else starts(i)._2
        val e = if (i + 1 < starts.size) starts(i + 1)._2 else tEnd
        val err = result match {
          case Left(ex) if i == starts.size - 1 =>
            Some(s"threw: ${String.valueOf(ex.getMessage).take(300)}")
          case Right(rs) => rs.find(_.name == n.name).flatMap(_.fallback)
            .map(f => s"fell back: $f")
          case _ => None
        }
        h.record(n.name, kind, s, e, err)
      }
    }
  }

  /** The calls `GraftSession.run` makes, in its order, each in a span. */
  private def tracedRun(h: Harness, gs: GraftSession, nodes: Seq[ModelNode],
      now: org.apache.spark.sql.Column): Seq[OpRec] = {
    val spark = gs.spark
    val recs = graft.model.Dag.topoOrder(nodes).map { n =>
      val kind = kindOf(n)
      h.op(n.name, kind) {
        h.timed("planner", "planner.decide_ms")(gs.traffic.decide(spark, n, ""))
        h.layer("planner.decisions", 1)
        h.timed("state", "state.wal_ms")(gs.state.markRunning(n.uniqueId))
        val t0 = System.nanoTime()
        val rows = h.timed(s"materialize.$kind", s"materialize.${kind}_ms") {
          gs.materializer.materialize(n, Option(now)).count()
        }
        val dur = (System.nanoTime() - t0) / 1e9
        h.timed("state", "state.wal_ms")(gs.state.markSuccess(n.uniqueId, Venue.Local))
        h.timed("telemetry", "telemetry.record_ms") {
          gs.savings.logExecution(n.name, "local", dur)
          gs.runSummary.record(ModelRun(n.name, "local", dur, rows, "success"))
        }
      }(_ => None)
    }
    h.timed("telemetry", "telemetry.persist_ms") {
      gs.runSummary.persist()
      gs.harvester.refresh()
    }
    recs
  }

  /** The DAG for dbt run `run`; builds read that run's landing batch. */
  private def models(h: Harness, gs: GraftSession, landing: String,
      run: Int, fetches: java.util.concurrent.atomic.AtomicInteger)
      : Seq[ModelNode] = {
    def read(s: SparkSession, t: String) = s.read.parquet(s"$landing/run$run/$t")
    def ref(name: String) = gs.warehouse.read("main", name)
    val orderKey = Seq("o_orderkey")
    val custKey = Seq("c_custkey")
    Seq(
      ModelNode("stg_customers", ModelConfig(materialized = "view"), Nil)(
        s => read(s, "customers")),
      ModelNode("dim_customers", ModelConfig(materialized = "table",
        contract = Seq(ContractColumn("c_custkey", "bigint", notNull = true),
          ContractColumn("c_acctbal", "decimal(12,2)"),
          ContractColumn("c_mktsegment", "string"),
          ContractColumn("n_name", "string"))),
        Seq("model.graft.stg_customers")) { _ =>
        // two source references; a miss fetches and puts into the cache
        h.layer("cache.refs", 2)
        val f0 = fetches.get
        val t0 = Clock.nowMs
        val geo = gs.sql("SELECT n.n_nationkey, n.n_name, r.r_name " +
          "FROM raw.nation n JOIN raw.region r ON n.n_regionkey = r.r_regionkey")
        if (fetches.get > f0) h.layer("cache.put_ms", Clock.nowMs - t0)
        ref("stg_customers").join(geo, col("c_nationkey") === col("n_nationkey"))
          .select("c_custkey", "c_acctbal", "c_mktsegment", "n_name")
      },
      ModelNode("fct_orders", ModelConfig(materialized = "incremental",
        incrementalStrategy = "merge", uniqueKey = orderKey), Nil)(
        s => read(s, "orders")),
      ModelNode("fct_orders_recent", ModelConfig(materialized = "incremental",
        incrementalStrategy = "merge", uniqueKey = orderKey,
        incrementalPredicates = Some(s"o_orderdate >= TIMESTAMP'$RecentCutoff'")),
        Nil)(s => read(s, "orders")
          .filter(col("o_orderdate") >= lit(Timestamp.valueOf(RecentCutoff)))),
      ModelNode("fct_orders_log", ModelConfig(materialized = "incremental",
        incrementalStrategy = "append"), Nil)(
        s => read(s, "orders").withColumn("run_id", lit(run))),
      ModelNode("ice_orders", ModelConfig(materialized = "incremental",
        incrementalStrategy = "merge", uniqueKey = orderKey,
        tableFormat = "iceberg"), Nil)(s => read(s, "orders")),
      ModelNode("snap_customers_ts", ModelConfig(materialized = "snapshot",
        uniqueKey = custKey, snapshotUpdatedAt = Some("updated_at"),
        invalidateHardDeletes = true), Nil)(s => read(s, "customers")),
      ModelNode("snap_customers_check", ModelConfig(materialized = "snapshot",
        uniqueKey = custKey,
        snapshotCheckCols = Seq("c_acctbal", "c_mktsegment")), Nil)(
        s => read(s, "customers").drop("updated_at")),
      ModelNode("mart_segment_revenue", ModelConfig(materialized = "table"),
        Seq("model.graft.fct_orders", "model.graft.dim_customers")) { _ =>
        ref("fct_orders").join(ref("dim_customers"),
            col("o_custkey") === col("c_custkey"))
          .groupBy("c_mktsegment")
          .agg(org.apache.spark.sql.functions.sum("o_totalprice").as("revenue"),
            org.apache.spark.sql.functions.count(lit(1)).as("orders"))
      })
  }
}

object ModelDag {
  /** Incremental runs after the full build in each cycle. */
  val Incrementals = 1
  val RecentCutoff = "1996-01-01 00:00:00"
  /** `m_*` inventory queries timed in each cycle. */
  val InventoryOps: Seq[String] = Seq("m_snapshot_scd2")

  def kindOf(n: ModelNode): String =
    if (n.config.tableFormat == "iceberg") "iceberg" else n.config.materialized

  def files(d: File): Seq[File] =
    if (!d.exists()) Nil
    else if (d.isFile) Seq(d)
    else Option(d.listFiles()).toSeq.flatten.flatMap(files)

  def deleteTree(d: File): Unit = {
    if (d.isDirectory) Option(d.listFiles()).toSeq.flatten.foreach(deleteTree)
    d.delete()
  }

  def digestOf(df: DataFrame): String = Digest.of(df.schema, df.collect())

  val Money = DecimalType(12, 2)

  final case class Cust(key: Long, name: String, nation: Int, acctbal: JBig,
      segment: String, updatedAt: Timestamp)
  final case class Ord(key: Long, cust: Long, status: String, price: JBig,
      date: Timestamp)

  /** The input tables the batches derive from, read once per scale. */
  final case class Base(customers: Seq[Cust], orders: Seq[Ord],
      nations: Map[Int, String])

  object Base {
    def load(spark: SparkSession, dir: String): Base = {
      val t0 = Timestamp.valueOf("2024-01-01 00:00:00")
      val c = graft.Tables.load(spark, dir, "customer").collect().map { r =>
        Cust(r.getAs[Long]("c_custkey"), r.getAs[String]("c_name"),
          r.getAs[Int]("c_nationkey"), money(r.getAs[Double]("c_acctbal")),
          r.getAs[String]("c_mktsegment"), t0)
      }
      val o = graft.Tables.load(spark, dir, "orders")
        .withColumn("o_orderdate", col("o_orderdate").cast(TimestampType))
        .collect().map { r =>
        Ord(r.getAs[Long]("o_orderkey"), r.getAs[Long]("o_custkey"),
          r.getAs[String]("o_orderstatus"), money(r.getAs[Double]("o_totalprice")),
          r.getAs[Timestamp]("o_orderdate"))
      }
      val n = graft.Tables.load(spark, dir, "nation").collect()
        .map(r => r.getAs[Int]("n_nationkey") -> r.getAs[String]("n_name")).toMap
      Base(c.sortBy(_.key).toSeq, o.sortBy(_.key).toSeq, n)
    }
  }

  def money(d: Double): JBig = new JBig(d).setScale(2, RoundingMode.HALF_UP)

  /** Seeded landing batches: per run, the full customer export and the
    * order delta (run 0: every order). */
  final case class Batches(customers: Seq[Seq[Cust]], orders: Seq[Seq[Ord]]) {
    def runTs(run: Int): Timestamp =
      Timestamp.valueOf(s"2024-01-0${1 + run} 00:00:00")

    def write(spark: SparkSession, dir: String): Unit =
      customers.indices.foreach { run =>
        spark.createDataFrame(spark.sparkContext.parallelize(
          customers(run).map(c => Row(c.key, c.name, c.nation, c.acctbal,
            c.segment, c.updatedAt)), 1), CustSchema)
          .write.parquet(s"$dir/run$run/customers")
        spark.createDataFrame(spark.sparkContext.parallelize(
          orders(run).map(o => Row(o.key, o.cust, o.status, o.price, o.date)), 1),
          OrdSchema).write.parquet(s"$dir/run$run/orders")
      }
  }

  val CustSchema = StructType(Seq(StructField("c_custkey", LongType, false),
    StructField("c_name", StringType), StructField("c_nationkey", IntegerType),
    StructField("c_acctbal", Money), StructField("c_mktsegment", StringType),
    StructField("updated_at", TimestampType)))
  val OrdSchema = StructType(Seq(StructField("o_orderkey", LongType, false),
    StructField("o_custkey", LongType), StructField("o_orderstatus", StringType),
    StructField("o_totalprice", Money), StructField("o_orderdate", TimestampType)))

  object Batches {
    val Segments = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
      "MACHINERY")

    def generate(b: Base, seed: Long, runs: Int): Batches = {
      val rnd = new scala.util.Random(seed)
      val cust = mutable.LinkedHashMap(b.customers.map(c => c.key -> c): _*)
      val ords = mutable.LinkedHashMap(b.orders.map(o => o.key -> o): _*)
      var nextCust = cust.keys.max + 1
      var nextOrd = ords.keys.max + 1
      val cb = mutable.ArrayBuffer(cust.values.toSeq)
      val ob = mutable.ArrayBuffer(ords.values.toSeq)
      (1 until runs).foreach { run =>
        val ts = Timestamp.valueOf(s"2024-01-0${1 + run} 00:00:00")
        val live = cust.keys.toIndexedSeq
        val picked = rnd.shuffle(live)
        val nUpd = live.size / 20; val nDel = live.size / 100
        picked.take(nUpd).foreach { k =>
          val c = cust(k)
          val delta = JBig.valueOf(1 + rnd.nextInt(50000), 2)
            .multiply(JBig.valueOf(if (rnd.nextBoolean()) 1 else -1))
          cust(k) = c.copy(acctbal = c.acctbal.add(delta),
            segment = if (rnd.nextInt(3) == 0) Segments(rnd.nextInt(5)) else c.segment,
            updatedAt = ts)
        }
        picked.slice(nUpd, nUpd + nDel).foreach(cust.remove)
        (0 until live.size / 100).foreach { _ =>
          cust(nextCust) = Cust(nextCust, s"Customer#new$nextCust",
            rnd.nextInt(25), money(rnd.nextInt(1000000) / 100.0),
            Segments(rnd.nextInt(5)), ts)
          nextCust += 1
        }
        cb += cust.values.toSeq
        val okeys = ords.keys.toIndexedSeq
        val changed = rnd.shuffle(okeys).take(okeys.size / 50).map { k =>
          val o = ords(k)
          val n = o.copy(status = Map("O" -> "P", "P" -> "F", "F" -> "O")
            .getOrElse(o.status, "O"),
            price = o.price.add(JBig.valueOf(1 + rnd.nextInt(10000), 2)))
          ords(k) = n; n
        }
        val custKeys = cust.keys.toIndexedSeq
        val added = (0 until okeys.size / 100).map { _ =>
          val o = Ord(nextOrd, custKeys(rnd.nextInt(custKeys.size)), "O",
            money(1000 + rnd.nextInt(30000000) / 100.0),
            Timestamp.valueOf(f"1998-0${1 + rnd.nextInt(8)}-1${rnd.nextInt(10)} 00:00:00"))
          ords(nextOrd) = o; nextOrd += 1; o
        }
        ob += (changed ++ added).sortBy(_.key)
      }
      Batches(cb.toSeq, ob.toSeq)
    }
  }

  /** The final tables the DAG must produce, recomputed from the batches:
    * last write wins per order key, SCD2 histories per customer key. */
  final case class Expected(batches: Batches, base: Base) {
    val orders: Map[Long, Ord] =
      batches.orders.flatten.foldLeft(Map[Long, Ord]())((m, o) => m + (o.key -> o))
    val customers: Seq[Cust] = batches.customers.last
    val cutoff = Timestamp.valueOf(RecentCutoff)

    def orderRows(os: Iterable[Ord]): Array[Row] =
      os.map(o => Row(o.key, o.cust, o.status, o.price, o.date)).toArray
  }

  private val OrderCols = Seq("o_orderkey", "o_custkey", "o_orderstatus",
    "o_totalprice", "o_orderdate")

  /** Problems per table; empty when every final table is as expected. */
  def check(spark: SparkSession, wh: Warehouse, mainDir: String,
      e: Expected): Seq[(String, String)] = {
    val out = mutable.ArrayBuffer[(String, String)]()
    def same(table: String, df: DataFrame, want: Array[Row]): Unit = {
      val got = digestOf(df)
      val exp = Digest.of(df.schema, want)
      if (got != exp) out += table -> s"digest $got != expected $exp"
    }
    val ordersDf = (t: String) => wh.read("main", t).select(OrderCols.map(col): _*)
    same("fct_orders", ordersDf("fct_orders"), e.orderRows(e.orders.values))
    same("fct_orders_recent", ordersDf("fct_orders_recent"),
      e.orderRows(e.orders.values.filter(!_.date.before(e.cutoff))))
    same("ice_orders", graft.materialize.IcebergTable.read(spark,
        s"$mainDir/ice_orders").select(OrderCols.map(col): _*),
      e.orderRows(e.orders.values))
    same("fct_orders_log", wh.read("main", "fct_orders_log")
        .select((OrderCols :+ "run_id").map(col): _*),
      e.batches.orders.zipWithIndex.flatMap { case (os, run) =>
        os.map(o => Row(o.key, o.cust, o.status, o.price, o.date, run)) }.toArray)
    same("dim_customers", wh.read("main", "dim_customers")
        .select("c_custkey", "c_acctbal", "c_mktsegment", "n_name"),
      e.customers.map(c => Row(c.key, c.acctbal, c.segment,
        e.base.nations(c.nation))).toArray)
    val live = e.customers.map(c => c.key -> c).toMap
    val revenue = e.orders.values.filter(o => live.contains(o.cust))
      .groupBy(o => live(o.cust).segment).toSeq.map { case (seg, os) =>
        Row(seg, os.map(_.price).reduce(_ add _), os.size.toLong) }
    same("mart_segment_revenue", wh.read("main", "mart_segment_revenue")
      .select("c_mktsegment", "revenue", "orders"), revenue.toArray)

    // SCD2: one version per distinct state a key was seen in, exactly one
    // current row per live key (none for a hard-deleted key under
    // invalidate_hard_deletes), and non-overlapping validity intervals
    def scd2(table: String, marker: Cust => String, hardDeletes: Boolean): Unit = {
      val versions = mutable.Map[Long, mutable.ArrayBuffer[String]]()
      e.batches.customers.foreach(_.foreach { c =>
        val vs = versions.getOrElseUpdate(c.key, mutable.ArrayBuffer())
        if (vs.lastOption.forall(_ != marker(c))) vs += marker(c)
      })
      val rows = wh.read("main", table)
        .select("c_custkey", "dbt_valid_from", "dbt_valid_to").collect()
      val byKey = rows.groupBy(_.getLong(0))
      val wantRows = versions.values.map(_.size).sum
      if (rows.length != wantRows)
        out += table -> s"${rows.length} rows, expected $wantRows versions"
      versions.keys.foreach { k =>
        val rs = byKey.getOrElse(k, Array.empty[Row])
          .sortBy(_.getTimestamp(1).getTime)
        val current = rs.count(_.isNullAt(2))
        val wantCurrent = if (!hardDeletes || live.contains(k)) 1 else 0
        if (current != wantCurrent)
          out += table -> s"key $k: $current current rows, expected $wantCurrent"
        rs.sliding(2).foreach {
          case Array(a, b) if a.isNullAt(2) || a.getTimestamp(2).after(b.getTimestamp(1)) =>
            out += table -> s"key $k: overlapping validity intervals"
          case _ =>
        }
      }
    }
    scd2("snap_customers_ts", _.updatedAt.toString, hardDeletes = true)
    scd2("snap_customers_check", c => s"${c.acctbal.toPlainString}|${c.segment}",
      hardDeletes = false)
    out.distinct.toSeq
  }
}
