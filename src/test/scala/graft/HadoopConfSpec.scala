package graft

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, ObjectInputStream, ObjectOutputStream}
import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.spark.sql.GraftBridge
import org.apache.spark.util.SerializableConfiguration
import org.scalatest.funsuite.AnyFunSuite

import graft.cache.SourceCache
import graft.materialize.IcebergWriter
import graft.warehouse.{HadoopConfPlugin, Warehouse}

/** The session's Hadoop conf ships without per-property source records
  * ([[HadoopConfPlugin]]) and keeps every key→value pair. */
class HadoopConfSpec extends AnyFunSuite {
  lazy val spark = TestSpark.session

  private def pairs(c: Configuration): Map[String, String] =
    c.iterator().asScala.map(e => e.getKey -> e.getValue).toMap

  // the sources that name a resource file (`core-default.xml`, …)
  private def resourceSourced(c: Configuration): Seq[String] =
    pairs(c).keys.toSeq.filter(k => Option(c.getPropertySources(k))
      .exists(_.exists(_.endsWith(".xml")))).sorted

  test("after a write, a read, an Iceberg commit and a cache put, " +
    "no default-resource property of the session conf has a source") {
    val dir = Files.createTempDirectory("graft_hconf").toString
    import spark.implicits._
    val df = Seq((1L, "a"), (2L, "b")).toDF("id", "name")
    val wh = new Warehouse(spark, s"$dir/wh")
    wh.createTableAs(df, "main", "t")
    assert(wh.read("main", "t").count() == 2)
    IcebergWriter.create(spark, s"$dir/ice", df)
    IcebergWriter.append(spark, s"$dir/ice", df)
    new SourceCache(spark, s"$dir/cache").put("raw", "t", df)

    val conf = GraftBridge.hadoopConf(spark)
    assert(conf.get("fs.defaultFS") != null)
    assert(conf.get("mapreduce.job.maps") != null)
    assert(conf.getPropertySources("fs.defaultFS") == null)
    assert(conf.getPropertySources("mapreduce.job.maps") == null)
    assert(resourceSourced(conf).isEmpty)
  }

  test("dropSources keeps every key→value pair, and copies carry no " +
    "sources") {
    spark // the session registers every default resource first
    val c = new Configuration()
    val before = pairs(c)
    assert(c.getPropertySources("fs.defaultFS") != null)
    HadoopConfPlugin.dropSources(c)
    assert(pairs(c) == before)
    assert(c.getPropertySources("fs.defaultFS") == null)
    val copy = new Configuration(c)
    assert(pairs(copy) == before)
    assert(before.keys.forall(copy.getPropertySources(_) == null))
  }

  test("a SerializableConfiguration of the session conf round-trips " +
    "every key→value pair") {
    val conf = GraftBridge.hadoopConf(spark)
    val bytes = new ByteArrayOutputStream()
    val out = new ObjectOutputStream(bytes)
    out.writeObject(new SerializableConfiguration(conf))
    out.close()
    val back = new ObjectInputStream(
      new ByteArrayInputStream(bytes.toByteArray)).readObject()
      .asInstanceOf[SerializableConfiguration].value
    assert(pairs(back) == pairs(conf))
  }
}
