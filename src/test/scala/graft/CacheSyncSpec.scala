package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.cache.{CacheConfig, SourceCache}
import graft.model.{ModelConfig, ModelNode}
import graft.sync.{SyncConfig, SyncManager}
import graft.telemetry.{CostModel, SavingsTracker}
import graft.warehouse.Warehouse

class CacheSyncSpec extends AnyFunSuite {
  lazy val spark = TestSpark.session

  private val sf = "/root/testdata/sf0.001"

  test("source cache: miss fetches, fresh hit does not, TTL expires") {
    var now = 1000L
    val cache = new SourceCache(spark,
      Files.createTempDirectory("graft_cache").toString,
      CacheConfig(ttlHours = 1.0), clock = () => now)
    var fetches = 0
    def get() = cache.get("raw", "region", () => {
      fetches += 1; Tables.load(spark, sf, "region")
    })
    assert(get().count() == 5 && fetches == 1)
    assert(get().count() == 5 && fetches == 1) // fresh hit
    now += 2 * 3600 * 1000 // past TTL
    assert(get().count() == 5 && fetches == 2) // stale -> refetch
  }

  test("source cache: prunes oldest beyond max size") {
    var now = 0L
    val dir = Files.createTempDirectory("graft_cache2").toString
    val big = new SourceCache(spark, dir, CacheConfig(maxSizeGb = 1000),
      clock = () => now)
    now = 1; big.put("raw", "nation", Tables.load(spark, sf, "nation"))
    now = 2; big.put("raw", "region", Tables.load(spark, sf, "region"))
    now = 3; big.put("raw", "customer", Tables.load(spark, sf, "customer"))
    assert(big.size == 3)
    // reopen with a cap one byte under the total: oldest must go
    val cap = (big.totalSizeBytes - 1).toDouble / (1L << 30)
    val small = new SourceCache(spark, dir, CacheConfig(maxSizeGb = cap),
      clock = () => now)
    small.prune()
    assert(small.size < 3)
    assert(!small.contains("raw", "nation")) // oldest evicted first
    assert(small.contains("raw", "customer")) // newest kept
  }

  test("sync: verified copy succeeds and records ledger") {
    val src = new Warehouse(spark, Files.createTempDirectory("ws").toString)
    val dst = new Warehouse(spark, Files.createTempDirectory("wd").toString)
    src.createTableAs(Tables.load(spark, sf, "nation"), "main", "nation")
    val sm = new SyncManager(sleep = _ => ())
    val r = sm.syncTable(src, dst, "main", "nation")
    assert(r.status == "synced" && r.sourceRows == 25 && r.targetRows == 25)
    assert(dst.rowCount("main", "nation") == 25)
    assert(sm.ledger.length == 1)
  }

  test("sync: missing source retries then fails; topo stops on failure") {
    val src = new Warehouse(spark, Files.createTempDirectory("ws2").toString)
    val dst = new Warehouse(spark, Files.createTempDirectory("wd2").toString)
    var slept = 0
    val sm = new SyncManager(SyncConfig(backoffMillis = 7),
      sleep = ms => slept += ms.toInt)
    val r = sm.syncTable(src, dst, "main", "ghost")
    assert(r.status == "failed" && r.attempts == 3)
    assert(slept == 7 + 14) // linear backoff 1x, 2x
    // stop-on-failure in DAG order
    src.createTableAs(Tables.load(spark, sf, "region"), "main", "b")
    val a = ModelNode("ghost2", ModelConfig(), Nil)(_ => null)
    val b = ModelNode("b", ModelConfig(), Seq("model.graft.ghost2"))(_ => null)
    val rs = sm.syncAll(src, dst, "main", Seq(b, a))
    assert(rs.map(_.status) == Seq("failed")) // b never attempted
  }

  test("sync: a target that silently drops rows fails the count check") {
    import org.apache.spark.sql.{DataFrame, SaveMode}
    import org.apache.spark.sql.functions.col
    val src = new Warehouse(spark, Files.createTempDirectory("ws3").toString)
    src.createTableAs(Tables.load(spark, sf, "nation"), "main", "nation")
    // a copy that loses one row without raising: counts read from the
    // target's footers must still expose it
    val lossy = new Warehouse(spark,
        Files.createTempDirectory("wd3").toString) {
      override def createTableAs(df: DataFrame, schema: String,
          name: String, partitionBy: Seq[String], mode: SaveMode): Unit =
        super.createTableAs(df.filter(col("n_nationkey") =!= 0), schema,
          name, partitionBy, mode)
    }
    val sm = new SyncManager(sleep = _ => ())
    val r = sm.syncTable(src, lossy, "main", "nation")
    assert(r.status == "failed" && r.attempts == 3)
    assert(r.sourceRows == 25 && r.targetRows == 24)
    assert(r.error.exists(_.contains("row count mismatch")))
  }

  test("cache ingest downgrades complex columns to JSON text " +
    "(source_cache.py:224-308 VARIANT wrap)") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val cache = new SourceCache(spark,
      Files.createTempDirectory("graft_cache3").toString)
    val src = Seq((1L, Seq(1, 2), Map("a" -> 1)))
      .toDF("id", "arr", "m")
      .withColumn("st", struct(lit("x").as("k"), col("id").as("v")))
    cache.put("raw", "complexed", src)
    val back = cache.get("raw", "complexed", () => src)
    val types = back.schema.fields.map(f => f.name -> f.dataType.typeName).toMap
    assert(types("id") == "long")
    assert(types("arr") == "string" && types("m") == "string" &&
      types("st") == "string")
    val row = back.orderBy("id").head()
    assert(row.getAs[String]("arr") == "[1,2]")
    assert(row.getAs[String]("st").contains("\"k\":\"x\""))
    // path access works against the JSON text like warehouse VARIANTs
    assert(back.select(get_json_object(col("st"), "$.v")).head()
      .getString(0) == "1")
  }

  test("cost model matches reference constants") {
    // 60s minimum billing on XS standard = 1/60 credit * $2 = $0.0333
    assert(math.abs(CostModel.cloudCostUsd(1.0) - 2.0 / 60) < 1e-9)
    assert(CostModel.cloudCostUsd(7200, "m", "enterprise") == 4 * 2 * 3.0)
    val t = new SavingsTracker()
    t.logExecution("m1", "local", 5.0)
    t.logExecution("m2", "cloud", 5.0)
    assert(t.totalSavedUsd > 0.03 && t.totalSavedUsd < 0.04)
    assert(t.topModels().head._1 == "m1")
  }
}
