package graft.cache

import java.nio.file.{Files, Paths, StandardCopyOption}

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Parquet source cache with TTL and size pruning — port of the
  * reference's `SourceCache` (reference `source_cache.py:32-57, 115-153,
  * 389-426, 513-549`): one parquet dir per cached table, a JSON manifest
  * with fetch timestamps, entries expire after `ttlHours`, and the cache
  * prunes oldest-first beyond `maxSizeGb`.
  *
  * Reads register the cached parquet as a temp view named
  * `schema_table` — the Spark analog of the reference's
  * `CREATE VIEW s.t AS SELECT * FROM read_parquet(path)`. Cached parquet
  * keeps full pushdown/pruning.
  */
final case class CacheConfig(
    ttlHours: Double = 24.0,
    maxSizeGb: Double = 10.0)

final class SourceCache(spark: SparkSession, root: String,
    config: CacheConfig = CacheConfig(),
    clock: () => Long = () => System.currentTimeMillis()) {

  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
  private val manifestPath = Paths.get(root, "manifest.json")
  // table key -> (cachedAtMillis, sizeBytes)
  private var entries = Map[String, (Long, Long)]()
  Files.createDirectories(Paths.get(root))
  loadManifest()

  private def key(schema: String, table: String) = s"${schema}_$table"
  private def dirOf(k: String) = s"$root/$k"

  /** Filesystem location of a cached table's parquet. */
  def pathOf(schema: String, table: String): String = dirOf(key(schema, table))

  private def loadManifest(): Unit =
    if (Files.exists(manifestPath)) {
      val rootNode = mapper.readTree(Files.readString(manifestPath))
      val it = rootNode.fieldNames()
      while (it.hasNext) {
        val k = it.next()
        val n = rootNode.path(k)
        entries += k -> (n.path("cached_at").asLong(),
          n.path("size_bytes").asLong())
      }
    }

  private def persistManifest(): Unit = {
    val obj = entries.map { case (k, (at, sz)) =>
      k -> Map("cached_at" -> at, "size_bytes" -> sz)
    }
    val tmp = Paths.get(root, "manifest.json.tmp")
    Files.writeString(tmp, mapper.writeValueAsString(obj))
    Files.move(tmp, manifestPath, StandardCopyOption.REPLACE_EXISTING)
  }

  def isFresh(schema: String, table: String): Boolean =
    entries.get(key(schema, table)).exists { case (at, _) =>
      clock() - at < (config.ttlHours * 3600 * 1000).toLong
    }

  def contains(schema: String, table: String): Boolean =
    entries.contains(key(schema, table))

  /** Cache-miss ingest: materialize the source DataFrame into the cache
    * (the Arrow-batches→Parquet path of source_cache.py:310-387; on
    * Spark a distributed snappy-parquet write). */
  def put(schema: String, table: String, df: DataFrame): Unit = {
    val k = key(schema, table)
    SourceCache.downgradeVariants(df).write.mode("overwrite")
      .option("compression", "snappy")
      .parquet(dirOf(k))
    import scala.jdk.CollectionConverters._
    val size = Files.walk(Paths.get(dirOf(k))).iterator().asScala
      .filter(Files.isRegularFile(_)).map(Files.size).sum
    entries += k -> (clock(), size)
    persistManifest()
    prune()
  }

  /** Read-through: fresh hit registers a view over cached parquet; miss
    * or stale entry re-ingests via `fetch`. */
  def get(schema: String, table: String,
      fetch: () => DataFrame): DataFrame = {
    if (!isFresh(schema, table)) put(schema, table, fetch())
    val df = graft.warehouse.ParquetFooter.readTable(spark,
      dirOf(key(schema, table)))
    df.createOrReplaceTempView(key(schema, table))
    df
  }

  /** Oldest-first prune beyond maxSizeGb (source_cache.py:513-549). */
  def prune(): Unit = {
    val maxBytes = (config.maxSizeGb * (1L << 30)).toLong
    var total = entries.values.map(_._2).sum
    if (total > maxBytes) {
      entries.toSeq.sortBy { case (_, (at, _)) => at }.foreach {
        case (k, (_, sz)) =>
          if (total > maxBytes) {
            evict(k)
            total -= sz
          }
      }
      persistManifest()
    }
  }

  def evictAll(): Unit = { entries.keys.toSeq.foreach(evict); persistManifest() }

  private def evict(k: String): Unit = {
    val p = Paths.get(dirOf(k))
    if (Files.exists(p)) {
      import scala.jdk.CollectionConverters._
      Files.walk(p).iterator().asScala.toSeq.reverse
        .foreach(Files.deleteIfExists(_))
    }
    entries -= k
  }

  def totalSizeBytes: Long = entries.values.map(_._2).sum
  def size: Int = entries.size
}

object SourceCache {
  /** Names of the complex-typed (Array/Map/Struct) columns — the
    * VARIANT/OBJECT/ARRAY family the reference detects from
    * INFORMATION_SCHEMA before cache ingest
    * (source_cache.py:224-269 `_get_variant_columns`,
    * `unsupported_types = ("VARIANT","OBJECT","ARRAY")`; truth table
    * tests/test_variant_handling.py:42-75). */
  def variantColumns(schema: org.apache.spark.sql.types.StructType): Seq[String] = {
    import org.apache.spark.sql.types.{ArrayType, MapType, StructType}
    schema.fields.collect {
      case f if (f.dataType match {
        case _: ArrayType | _: MapType | _: StructType => true
        case _ => false
      }) => f.name
    }.toSeq
  }

  /** Complex-typed columns downgraded to JSON text, the reference's
    * TO_VARCHAR wrap on cache ingest (source_cache.py:271-308
    * `_build_select_with_variant_cast`; truth table
    * tests/test_variant_handling.py:77-117): cached sources carry plain
    * scalar columns so every downstream engine can read them, and path
    * access goes through get_json_object exactly as it does against the
    * warehouse's VARIANT columns. Non-variant columns pass through
    * untouched. */
  def downgradeVariants(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{col, to_json}
    val variants = variantColumns(df.schema).toSet
    val cols = df.schema.fields.map { f =>
      if (variants.contains(f.name)) to_json(col(s"`${f.name}`")).as(f.name)
      else col(s"`${f.name}`")
    }
    df.select(cols.toSeq: _*)
  }
}
