package graft.warehouse

import java.util.{Collections, Map => JMap}

import scala.util.Try

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.hdfs.HdfsConfiguration
import org.apache.hadoop.mapreduce.util.ConfigUtil
import org.apache.spark.SparkContext
import org.apache.spark.api.plugin.{DriverPlugin, ExecutorPlugin, PluginContext, SparkPlugin}

/** Drops the per-property source records from a SparkContext's Hadoop
  * conf when the context starts, so the conf ships without them.
  *
  * Hadoop records, for every property, the resources it came from
  * (`core-default.xml`, `mapred-default.xml`, …), and
  * `Configuration.write` gzips each of those arrays through a new
  * `GZIPOutputStream`. Spark serializes the session's Hadoop conf for
  * every parquet scan (a broadcast), twice for every write or
  * schema-inference job, and once more in every task of those jobs.
  * With about 1,100 properties one serialization costs several
  * milliseconds and 112 KB with the sources, and under a millisecond and
  * 69 KB without; the key→value pairs are the same.
  *
  * [[graft.EngineDefaults.tune]] registers this plugin in
  * `spark.plugins.defaultList`, which Spark merges in front of a
  * caller's `spark.plugins`; [[graft.EngineDefaults.seed]] applies
  * [[dropSources]] to a context built elsewhere. */
class HadoopConfPlugin extends SparkPlugin {
  override def driverPlugin(): DriverPlugin = new DriverPlugin {
    override def init(sc: SparkContext,
        ctx: PluginContext): JMap[String, String] = {
      HadoopConfPlugin.dropSources(sc.hadoopConfiguration)
      Collections.emptyMap()
    }
  }

  override def executorPlugin(): ExecutorPlugin = null
}

object HadoopConfPlugin {
  // Hadoop's private `Configuration.updatingResource`; every Hadoop
  // reader of it (`write`, `getPropertySources`, the copy constructor,
  // `loadProps`) treats null as "no sources". None on a Hadoop without
  // the field, which then keeps its sources.
  private val sourcesField = Try {
    val f = classOf[Configuration].getDeclaredField("updatingResource")
    f.setAccessible(true)
    f
  }.toOption

  /** Drop `conf`'s per-property source map, keeping every key→value
    * pair; copies made from it afterwards carry no sources either.
    *
    * Registering a default resource reloads every live conf and records
    * all sources again, and Hadoop registers the mapred, yarn and hdfs
    * defaults lazily, on the first class that needs them (the first
    * parquet write loads `HdfsConfiguration`). So those registrations are
    * made first, then the conf is loaded, then its map is dropped under
    * the conf's own lock, which every Hadoop method that touches the map
    * holds. A property set later records its own source. */
  def dropSources(conf: Configuration): Unit = {
    ConfigUtil.loadResources() // mapred and yarn, as JobConf does
    HdfsConfiguration.init()
    conf.size()
    sourcesField.foreach(f => conf.synchronized(f.set(conf, null)))
  }
}
