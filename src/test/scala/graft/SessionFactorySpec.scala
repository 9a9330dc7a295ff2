package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** The single session factory: every session in the code base is built
  * by [[EngineDefaults.local]], and specs scope their own confs on the
  * shared test session with [[TestSpark.withConf]]. */
class SessionFactorySpec extends AnyFunSuite {
  lazy val spark = TestSpark.session

  test("the shared test session carries the factory's confs") {
    val conf = spark.conf
    assert(spark.sparkContext.master == "local[4]")
    assert(conf.get("spark.sql.shuffle.partitions") == "4")
    assert(conf.get(
      "spark.sql.adaptive.coalescePartitions.initialPartitionNum") ==
      EngineDefaults.initialPartitionNum(4, 4).toString)
    assert(conf.get("spark.sql.session.timeZone") == "UTC")
    assert(spark.sparkContext.getConf.get("spark.ui.enabled") == "false")
    assert(conf.get(EngineDefaults.MinPartKey) ==
      EngineDefaults.minPartitionSize)
    assert(spark.sparkContext.hadoopConfiguration.get("fs.file.impl") ==
      classOf[graft.warehouse.LocalFs].getName)
    assert(spark.sparkContext.getConf.get("spark.plugins.defaultList") ==
      classOf[graft.warehouse.HadoopConfPlugin].getName)
  }

  test("withConf restores a set key and unsets an absent one, " +
    "also when the body throws") {
    val set = "spark.graft.test.withconf.set"
    val absent = "spark.graft.test.withconf.absent"
    spark.conf.set(set, "before")
    try {
      for (fail <- Seq(false, true)) {
        var inside = Seq.empty[Option[String]]
        val body = scala.util.Try(TestSpark.withConf(
            set -> "inside", absent -> "inside") {
          inside = Seq(set, absent).map(spark.conf.getOption)
          if (fail) throw new IllegalStateException("body failed")
        })
        assert(inside == Seq(Some("inside"), Some("inside")))
        assert(body.isFailure == fail)
        assert(spark.conf.get(set) == "before")
        assert(spark.conf.getOption(absent).isEmpty)
      }
    } finally spark.conf.unset(set)
  }

  test("no session builder outside EngineDefaults") {
    // the needle is assembled so this file does not match itself
    val needle = Seq("SparkSession", "builder(").mkString(".")
    val files = Seq("src/main/scala", "src/test/scala").flatMap { d =>
      val s = Files.walk(Paths.get(d))
      try s.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally s.close()
    }
    val hits = files.filter(f => Files.readString(f).contains(needle))
      .map(_.toString)
    assert(hits == Seq("src/main/scala/graft/EngineDefaults.scala"),
      s"session builders outside EngineDefaults.local: $hits")
  }

  test("reflection into library internals lives in one file") {
    // the needles are assembled so this file does not match itself
    val needles = Seq(Seq("set", "Accessible"), Seq("getDeclared", "Field"))
      .map(_.mkString)
    val files = {
      val s = Files.walk(Paths.get("src/main/scala"))
      try s.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally s.close()
    }
    val hits = files.filter { f =>
      val text = Files.readString(f)
      needles.exists(text.contains)
    }.map(_.toString)
    assert(hits == Seq("src/main/scala/graft/warehouse/HadoopConfPlugin.scala"),
      s"reflection outside HadoopConfPlugin: $hits")
  }

  test("src/main reads no graft.* session conf") {
    // the prefix is assembled so this file does not match itself
    val prefix = Seq("graft", "").mkString(".")
    val sources = {
      val s = Files.walk(Paths.get("src/main/scala"))
      try s.iterator().asScala.filter(_.toString.endsWith(".scala"))
        .map(f => f.getFileName.toString -> Files.readString(f)).toList
      finally s.close()
    }
    // a key is a literal or a string constant named by the call
    val constant = """val\s+(\w+)\s*(?::\s*String\s*)?=\s*"([^"]*)"""".r
    val constants = sources.flatMap { case (_, text) =>
      constant.findAllMatchIn(text).map(m => m.group(1) -> m.group(2))
    }.toMap
    val access = ("""\.conf\s*\.\s*(?:get|getOption|set|unset|contains)""" +
      """\(\s*(?:"([^"]*)"|([\w.]+))""").r
    val hits = sources.flatMap { case (file, text) =>
      access.findAllMatchIn(text).map { m =>
        Option(m.group(1)).getOrElse(
          constants.getOrElse(m.group(2).split('.').last, ""))
      }.filter(_.startsWith(prefix)).map(key => s"$file: $key")
    }.distinct
    assert(hits.isEmpty, s"graft.* session confs read in src/main: $hits")
  }

  test("src/main reads exactly the listed environment variables") {
    val deployment = Set("GRAFT_WAREHOUSE", "SPARK_MASTER",
      "GRAFT_ICEBERG_TOKEN", "GRAFT_ICEBERG_CREDENTIAL",
      "GRAFT_ICEBERG_WAREHOUSE", "GRAFT_NESSIE_TOKEN", "GRAFT_NESSIE_REF",
      "AWS_ACCESS_KEY_ID", "AWS_SECRET_ACCESS_KEY", "AWS_SESSION_TOKEN",
      "GRAFT_VERBOSITY")
    val benchAndVerify = Set("SPARK_GRAFT_SF_DIR", "SPARK_GRAFT_CPUS",
      "SPARK_GRAFT_QUERIES", "SPARK_GRAFT_WARM_DIR", "SPARK_GRAFT_NO_COALESCE")
    // every read must name its variable as a literal, so none escapes
    // the list
    val anyRead = """sys\.env|System\.getenv""".r
    val read = ("""(?:sys\.env|System\.getenv)(?:\.(?:get|getOrElse|""" +
      """contains))?\(\s*"([A-Z0-9_]+)"""").r
    val sources = {
      val s = Files.walk(Paths.get("src/main/scala"))
      try s.iterator().asScala.filter(_.toString.endsWith(".scala"))
        .map(Files.readString).toList
      finally s.close()
    }
    val names = sources.flatMap(read.findAllMatchIn(_).map(_.group(1))).toSet
    val uses = sources.map(anyRead.findAllMatchIn(_).size).sum
    val literal = sources.map(read.findAllMatchIn(_).size).sum
    assert(uses == literal, s"$uses env reads, only $literal name a literal")
    assert(names == deployment ++ benchAndVerify,
      s"unlisted: ${names -- deployment -- benchAndVerify}; " +
        s"unread: ${deployment ++ benchAndVerify -- names}")
  }
}
