package graft

import java.net.URI
import java.nio.file.{Files, LinkOption, Path}
import java.nio.file.attribute.PosixFilePermissions

import scala.jdk.CollectionConverters._

import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, LocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.GraftBridge
import org.scalatest.funsuite.AnyFunSuite

import graft.materialize.IcebergWriter
import graft.warehouse.{LocalFs, Warehouse}

/** The engine's `file:` filesystem sets the same modes as Hadoop's stock
  * local filesystem without starting a process. */
class LocalFsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.session
  import spark.implicits._

  private def tempDir(): Path = Files.createTempDirectory("graft-localfs")

  private def deleteTree(root: Path): Unit =
    Files.walk(root).iterator().asScala.toSeq.reverse.foreach(Files.delete)

  private def unixMode(p: Path): Int =
    Files.getAttribute(p, "unix:mode", LinkOption.NOFOLLOW_LINKS).asInstanceOf[Int]

  /** Every path under `root` with its mode, ids in file names masked
    * (write UUIDs, snapshot and commit ids), sorted. */
  private def modes(root: Path): Seq[(String, String)] =
    Files.walk(root).iterator().asScala.filter(_ != root).map { p =>
      root.relativize(p).toString
        .replaceAll("[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}", "#")
        .replaceAll("-[0-9a-f]{8}(?=[-./]|$)", "-#") ->
        PosixFilePermissions.toString(
          Files.getPosixFilePermissions(p, LinkOption.NOFOLLOW_LINKS))
    }.toSeq.sorted

  /** The commands of the JVM's `jdk.ProcessStart` events while `body`
    * runs. */
  private def processStarts(body: => Unit): Seq[String] = {
    val rec = new Recording()
    val out = Files.createTempFile("graft-localfs", ".jfr")
    try {
      rec.enable("jdk.ProcessStart")
      rec.start()
      try body finally rec.stop()
      rec.dump(out)
      RecordingFile.readAllEvents(out).asScala.toSeq
        .filter(_.getEventType.getName == "jdk.ProcessStart")
        .map(_.getString("command"))
    } finally {
      rec.close()
      Files.delete(out)
    }
  }

  private def df = (1 to 40).map(i => (i, s"v$i")).toDF("id", "v").repartition(2)

  /** A warehouse CTAS, an append to it, and an Iceberg table create. */
  private def writes(root: Path): Unit = {
    val wh = new Warehouse(spark, root.toString)
    wh.createTableAs(df, "s", "t")
    wh.append(df, "s", "t")
    IcebergWriter.create(spark, root.resolve("ice").toString, df)
  }

  test("the shared session resolves file: to LocalFs") {
    for (conf <- Seq(spark.sparkContext.hadoopConfiguration,
        GraftBridge.hadoopConf(spark)))
      assert(FileSystem.get(URI.create("file:///"), conf).isInstanceOf[LocalFs])
  }

  test("warehouse and Iceberg writes leave the modes a stock local " +
    "filesystem leaves") {
    val engine = tempDir()
    val stock = tempDir()
    try {
      writes(engine)
      // the same writes with Hadoop's LocalFileSystem over the stock
      // RawLocalFileSystem, which forks chmod per file and directory
      val forks = TestSpark.withConf(
          "fs.file.impl" -> classOf[LocalFileSystem].getName,
          "fs.file.impl.disable.cache" -> "true") {
        processStarts(writes(stock))
      }.count(_.startsWith("chmod"))
      assert(forks > 10, s"the stock writes forked chmod $forks times")
      val got = modes(engine)
      assert(got.exists(_._1.endsWith(".crc")) &&
        got.exists(_._1.endsWith("_SUCCESS")) &&
        got.exists(_._1.startsWith("ice/metadata")), got)
      assert(got == modes(stock))
    } finally {
      deleteTree(engine)
      deleteTree(stock)
    }
  }

  test("a table write starts no process") {
    val root = tempDir()
    try {
      val starts = processStarts(
        new Warehouse(spark, root.toString).createTableAs(df, "s", "t"))
      // Spark's executor-metrics poller probes the page size once per JVM,
      // on its own thread, and that may fall inside the window
      assert(starts.filterNot(_ == "getconf PAGESIZE").isEmpty, starts)
    } finally deleteTree(root)
  }

  test("a fresh LocalFs honors fs.permissions.umask-mode") {
    val conf = new Configuration(false)
    conf.set("fs.permissions.umask-mode", "077")
    val root = tempDir()
    try {
      for ((fs, dir) <- Seq(new LocalFs -> "engine", new LocalFileSystem -> "stock")) {
        fs.initialize(URI.create("file:///"), conf)
        val base = new org.apache.hadoop.fs.Path(root.resolve(dir).toUri)
        fs.mkdirs(new org.apache.hadoop.fs.Path(base, "a/b"))
        fs.create(new org.apache.hadoop.fs.Path(base, "a/b/f")).close()
        fs.close()
      }
      val engine = modes(root.resolve("engine"))
      assert(engine == Seq("a" -> "rwx------", "a/b" -> "rwx------",
        "a/b/.f.crc" -> "rw-------", "a/b/f" -> "rw-------"))
      assert(engine == modes(root.resolve("stock")))
    } finally deleteTree(root)
  }

  test("every rwx mode maps to the same file mode; the sticky bit takes " +
    "the shell fallback") {
    val fs = new LocalFs
    fs.initialize(URI.create("file:///"), new Configuration(false))
    val dir = tempDir()
    val path = new org.apache.hadoop.fs.Path(dir.toUri)
    try {
      for (mode <- 0 to 0x1ff) {
        fs.setPermission(path, new FsPermission(mode.toShort))
        assert((unixMode(dir) & 0xfff) == mode, f"mode $mode%o")
      }
      fs.setPermission(path, new FsPermission(Integer.parseInt("1777", 8).toShort))
      assert((unixMode(dir) & 0xfff) == Integer.parseInt("1777", 8))
    } finally {
      fs.close()
      Files.delete(dir)
    }
  }
}
