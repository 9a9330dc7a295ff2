package graft.warehouse

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._
import scala.util.{Try, Using}

import org.apache.hadoop.conf.Configuration
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.metadata.ParquetMetadata
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, GraftBridge, SparkSession}
import org.apache.spark.sql.types.{DataType, StructType}

/** The engine's one parquet footer reader. Every metadata-only read of a
  * parquet file goes through here with the session's Hadoop
  * configuration: Iceberg field ids and write stats, warehouse schemas
  * and row counts, source-cache schemas. A footer is a few KB at the end
  * of the file; no data page is read, and nothing is cached: the read
  * options over the caller's conf are built per call and shared only by
  * that call's reads. */
object ParquetFooter {

  /** Above this many files, footers are read by ONE Spark job collecting
    * the per-file results (at 10⁵-10⁶ files driver reads take minutes);
    * below it, by parallel driver threads, with no job launch. */
  val JobThreshold = 4096

  /** The footer key Spark writers store the row schema under; Spark's own
    * parquet schema inference reads this key first. */
  private val SparkSchemaKey = "org.apache.spark.sql.parquet.row.metadata"

  /** `f` over the footer of one file at a time, every read sharing one
    * set of read options over `conf`. Without them parquet makes a fresh
    * Hadoop `Configuration` per file, which re-parses `core-default.xml`;
    * build one reader per call, so no conf outlives it. */
  private def reader[T](conf: Configuration)(f: ParquetMetadata => T): String => T = {
    val options = HadoopReadOptions.builder(conf).build()
    path => {
      val r = ParquetFileReader.open(HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(path), conf), options)
      try f(r.getFooter) finally r.close()
    }
  }

  /** `f` over every footer in `paths`; above [[JobThreshold]] files `f`
    * runs executor-side, so it must be serializable. */
  def readAll[T](spark: SparkSession, paths: Seq[String])(
      f: ParquetMetadata => T): Seq[(String, T)] =
    if (paths.isEmpty) Nil
    else if (paths.size > JobThreshold) {
      val entries = GraftBridge.hadoopConf(spark).asScala
        .map(e => e.getKey -> e.getValue).toMap
      val slices = math.max(32, math.min(paths.size / 64,
        spark.sparkContext.defaultParallelism * 4))
      spark.sparkContext.parallelize(paths, slices).mapPartitions { it =>
        val conf = new Configuration(false)
        entries.foreach { case (k, v) => conf.set(k, v) }
        val read = reader(conf)(f)
        it.map(p => p -> read(p))
      }.collect().toSeq
    } else {
      val read = reader(GraftBridge.hadoopConf(spark))(f)
      paths.asJava.parallelStream().map[(String, T)](p => p -> read(p))
        .toList.asScala.toSeq
    }

  /** The row schema a Spark writer stored in the footer; None for files
    * written by other engines. */
  private def sparkSchema(meta: ParquetMetadata): Option[StructType] =
    Option(meta.getFileMetaData.getKeyValueMetaData.get(SparkSchemaKey))
      .flatMap(s => Try(DataType.fromJson(s)).toOption)
      .collect { case s: StructType => s }

  def rows(meta: ParquetMetadata): Long =
    meta.getBlocks.asScala.map(_.getRowCount).sum

  /** Total rows of the given parquet files, from their footers. */
  def rowCount(spark: SparkSession, files: Seq[String]): Long =
    readAll(spark, files)(rows).map(_._2).sum

  /** The data schema `spark.read.parquet(path)` infers, read from the
    * footer of the same file that inference opens (the first data file by
    * path), without the inference job. For a `column=value` partitioned
    * directory it is the schema of the files, without the partition
    * columns, which Spark still infers from the directory names when this
    * schema is passed to `spark.read.schema`. None, so the caller lets
    * Spark infer, when: schema merging is on; the path holds no data file;
    * summary files exist (inference prefers them); a subdirectory is not
    * a partition directory (e.g. an Iceberg table's `data`/`metadata`);
    * or the first file has no Spark schema key. */
  def tableSchema(spark: SparkSession, path: String): Option[StructType] =
    if (spark.conf.get("spark.sql.parquet.mergeSchema", "false").toBoolean) None
    else firstDataFile(Paths.get(path))
      .flatMap(f => reader(GraftBridge.hadoopConf(spark))(sparkSchema)(f))

  /** `spark.read.parquet(paths: _*)`, given the [[tableSchema]] when
    * there is one so that no inference job runs: of the one path, or of
    * the first of several data files (the file inference would open). */
  def readTable(spark: SparkSession, paths: String*): DataFrame = {
    val schema =
      if (paths.size == 1) tableSchema(spark, paths.head)
      else if (paths.forall(p => Files.isRegularFile(Paths.get(p))))
        tableSchema(spark, paths.min)
      else None
    schema.fold(spark.read.parquet(paths: _*))(spark.read.schema(_).parquet(paths: _*))
  }

  private def firstDataFile(root: Path): Option[String] =
    if (Files.isRegularFile(root)) Some(root.toString)
    else if (!Files.isDirectory(root)) None
    else {
      // Spark's file index hides `_x` (unless it holds '=') and `.x`
      // names and in-flight `._COPYING_` files, but keeps summary files
      def hidden(n: String) = (n.startsWith("_") && !n.contains("=")) ||
        n.startsWith(".") || n.endsWith("._COPYING_")
      def summary(n: String) = n == "_metadata" || n == "_common_metadata"
      def name(p: Path) = p.getFileName.toString
      def leaves(d: Path): Option[Seq[String]] = {
        val (dirs, files) = Using.resource(Files.list(d))(_.iterator().asScala.toList)
          .filter(p => summary(name(p)) || !hidden(name(p)))
          .partition(Files.isDirectory(_))
        if (files.exists(p => summary(name(p))) ||
          dirs.exists(!name(_).contains("="))) None
        else dirs.foldLeft(Option(files.map(_.toString))) { (acc, p) =>
          for (a <- acc; l <- leaves(p)) yield a ++ l }
      }
      leaves(root).flatMap(fs => if (fs.isEmpty) None else Some(fs.min))
    }
}
