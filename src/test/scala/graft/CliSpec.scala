package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.model.{ModelConfig, ModelNode}

/** CLI behavioral coverage — mirrors the reference's explain cases
  * (reference tests/test_auto_router.py:35-266 drive the router's
  * `explain`, which `icebreaker explain` renders, cli.py:490-520). */
class CliSpec extends AnyFunSuite {
  lazy val spark = TestSpark.session

  private val sf = "/root/testdata/sf0.001"

  /** A hand-written one-snapshot v2 metadata document (no Spark) and
    * the table-detail block every catalog browser renders for it. */
  private def detailFixture(): (String, String => String) = {
    val f = Files.createTempFile("graft_cli_md", ".metadata.json")
    Files.writeString(f, """{"format-version":2,"table-uuid":"t",
      |"location":"/warehouse/db/t1","last-sequence-number":1,
      |"last-updated-ms":1,"last-column-id":2,"current-schema-id":0,
      |"schemas":[{"schema-id":0,"type":"struct","fields":[
      |{"id":1,"name":"id","required":true,"type":"long"},
      |{"id":2,"name":"name","required":false,"type":"string"}]}],
      |"default-spec-id":0,"partition-specs":[{"spec-id":0,"fields":[
      |{"name":"name","transform":"identity","source-id":2,
      |"field-id":1000}]}],"current-snapshot-id":1,"snapshots":[
      |{"snapshot-id":1,"timestamp-ms":1,
      |"manifest-list":"/warehouse/db/t1/metadata/snap-1.avro",
      |"summary":{"operation":"append"}}]}""".stripMargin)
    (f.toString, first => s"""$first
      |  location:  /warehouse/db/t1
      |  format:    v2
      |  schema:    struct<id:bigint,name:string>
      |  partition: name(identity)
      |  snapshots: 1 (current 1)""".stripMargin)
  }

  private def freshSession(): (GraftSession, String) = {
    val root = Files.createTempDirectory("graft_cli").toString
    (new GraftSession(spark, root), root)
  }

  test("explain renders the gate-by-gate analysis and verdict") {
    val (gs, _) = freshSession()
    val local = Cli.cmdExplain(gs,
      "SELECT id, ROW_NUMBER() OVER (PARTITION BY c ORDER BY t) rn FROM x")
    assert(local.contains("Routing Explanation"))
    assert(local.contains("1. INTENT"))
    assert(local.contains("5. COMPLEXITY"))
    assert(local.contains("LOCAL"))
    val cloud = Cli.cmdExplain(gs,
      "SELECT * FROM read_parquet('s3://bucket/x.parquet')")
    assert(cloud.contains("CLOUD"))
    assert(cloud.contains("External data source"))
  }

  test("explain reads a .sql file when given a path") {
    val (gs, _) = freshSession()
    val f = Files.createTempDirectory("cli_sql").resolve("q.sql")
    Files.writeString(f, "SELECT cortex.complete('hi') FROM t")
    val out = Cli.cmdExplain(gs, f.toString)
    assert(out.contains("CLOUD") && out.contains("Cloud-only SQL function"))
  }

  test("sync + verify round-trip against the twin warehouse") {
    val (gs, _) = freshSession()
    gs.warehouse.createTableAs(Tables.load(spark, sf, "region"),
      "main", "regions")
    val synced = Cli.cmdSync(gs, Seq("main.regions"))
    assert(synced.contains("synced") && synced.contains("Synced: 1"))
    val verified = Cli.cmdVerify(gs, Seq("main.regions"))
    assert(verified.contains("ok") && verified.contains("Matched: 1"))
  }

  test("summary and savings render from the persisted session ledger") {
    val (gs, root) = freshSession()
    val node = ModelNode("regions", ModelConfig("table"), Nil)(
      s => Tables.load(s, sf, "region"))
    gs.run(Seq(node))
    val summary = Cli.cmdSummary(root)
    assert(summary.contains("GRAFT RUN SUMMARY"))
    assert(summary.contains("Models: 1 total"))
    assert(summary.contains("Local (FREE):  1 (100%)"))
    assert(summary.contains("Estimated Savings: $"))
    assert(summary.matches("(?s).*Total Duration: +\\d+\\.\\ds \\(summed over models\\)" +
      "\nRun Wall Time: +\\d+\\.\\ds\n.*"))
    assert(summary.contains("Run 'graft.Cli savings'"))
    val savings = Cli.cmdSavings(root, Nil)
    assert(savings.contains("Savings"))
    assert(savings.contains("regions"))
  }

  test("cache status/clear, health, status, stats, version, help") {
    val (gs, root) = freshSession()
    assert(Cli.cmdCache(gs, Seq("status")).contains("0 entries"))
    gs.cache.put("raw", "region", Tables.load(spark, sf, "region"))
    assert(Cli.cmdCache(gs, Nil).contains("1 entries"))
    assert(Cli.cmdCache(gs, Seq("clear")) == "Cache cleared.")
    assert(gs.cache.size == 0)
    assert(Cli.cmdHealth(gs, Nil).contains("cache"))
    assert(Cli.cmdStatus(gs).contains("Graft Status"))
    assert(Cli.cmdStats(gs).contains("System Resources"))
    assert(Cli.run(Seq("version"), None, root).contains("graft 0.2.0"))
    assert(Cli.run(Seq("bogus"), None, root).contains("Usage"))
  }

  test("catalog command browses a REST catalog without a Spark session") {
    import com.sun.net.httpserver.{HttpExchange, HttpServer}
    import java.nio.charset.StandardCharsets
    // a real table's CURRENT metadata served as LoadTableResult
    val dir = Files.createTempDirectory("graft_clicat").toString
    import spark.implicits._
    graft.materialize.IcebergWriter.create(spark, dir,
      Seq((1L, "a")).toDF("id", "name"), partitionBy = Seq("name"))
    val hint = java.nio.file.Files.readString(
      java.nio.file.Path.of(dir, "metadata/version-hint.text")).trim
    val mdPath = s"$dir/metadata/v$hint.metadata.json"
    def respond(ex: HttpExchange, body: String): Unit = {
      val b = body.getBytes(StandardCharsets.UTF_8)
      ex.sendResponseHeaders(200, b.length)
      ex.getResponseBody.write(b); ex.close()
    }
    val server = HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/v1/config", (ex: HttpExchange) =>
      respond(ex, """{"overrides":{"prefix":""}}"""))
    server.createContext("/v1/namespaces", (ex: HttpExchange) =>
      ex.getRequestURI.getPath match {
        case "/v1/namespaces" =>
          respond(ex, """{"namespaces":[["db"]]}""")
        case "/v1/namespaces/db/tables" =>
          respond(ex, """{"identifiers":[{"namespace":["db"],"name":"t1"}]}""")
        case "/v1/namespaces/db/tables/t1" =>
          respond(ex, s"""{"metadata-location":"$mdPath"}""")
        case _ => respond(ex, "{}")
      })
    server.start()
    try {
      val uri = s"http://127.0.0.1:${server.getAddress.getPort}"
      // session = None everywhere: catalog browsing is HTTP + JSON only
      val top = Cli.run(Seq("catalog", uri), None, "/tmp/none")
      assert(top.contains("Connected to Iceberg catalog"))
      assert(top.contains("Available namespaces: db"))
      val ls = Cli.run(Seq("catalog", uri, "db"), None, "/tmp/none")
      assert(ls.contains("1 table(s)") && ls.contains("t1"))
      val tbl = Cli.run(Seq("catalog", uri, "db", "t1"), None, "/tmp/none")
      assert(tbl.contains("format:    v2"))
      assert(tbl.contains("name(identity)"))
      assert(tbl.contains("snapshots: 1"))
      assert(Cli.cmdHelp.contains("catalog <uri>"))
    } finally server.stop(0)
  }

  test("nessie command browses a Nessie catalog without a Spark session") {
    import java.net.InetSocketAddress
    import java.nio.charset.StandardCharsets
    import com.sun.net.httpserver.{HttpExchange, HttpServer}
    def respond(ex: HttpExchange, body: String): Unit = {
      val b = body.getBytes(StandardCharsets.UTF_8)
      ex.sendResponseHeaders(200, b.length)
      ex.getResponseBody.write(b)
      ex.close()
    }
    val (mdPath, detail) = detailFixture()
    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/api/v2/config", (ex: HttpExchange) =>
      respond(ex, """{"defaultBranch":"main"}"""))
    server.createContext("/api/v2/trees", (ex: HttpExchange) =>
      ex.getRequestURI.getPath match {
        case "/api/v2/trees" => respond(ex,
          """{"references":[{"name":"main","type":"BRANCH"}]}""")
        case p if p.contains("/contents/") => respond(ex,
          s"""{"content":{"type":"ICEBERG_TABLE",
            |"metadataLocation":"$mdPath"}}""".stripMargin)
        case _ => respond(ex,
          """{"entries":[{"name":{"elements":["db"]},"type":"NAMESPACE"},
            |{"name":{"elements":["db","t1"]},
            | "type":"ICEBERG_TABLE"}]}""".stripMargin)
      })
    server.start()
    try {
      val uri = s"http://127.0.0.1:${server.getAddress.getPort}/api/v2"
      val out = Cli.run(Seq("nessie", uri), None, "/tmp/none")
      assert(out.contains("branch main"))
      assert(out.contains("main(BRANCH)"))
      assert(out.contains("Available namespaces: db"))
      val ts = Cli.run(Seq("nessie", uri, "db"), None, "/tmp/none")
      assert(ts.contains("1 table(s)") && ts.contains("t1"))
      assert(Cli.run(Seq("nessie", uri, "db", "t1"), None, "/tmp/none") ==
        detail("db.t1 @ main"))
      assert(Cli.cmdHelp.contains("nessie <uri>"))
    } finally server.stop(0)
  }

  test("glue command browses a Glue catalog without a Spark session") {
    import java.net.InetSocketAddress
    import java.nio.charset.StandardCharsets
    import com.sun.net.httpserver.{HttpExchange, HttpServer}
    def respond(ex: HttpExchange, body: String): Unit = {
      val b = body.getBytes(StandardCharsets.UTF_8)
      ex.sendResponseHeaders(200, b.length)
      ex.getResponseBody.write(b)
      ex.close()
    }
    // auth-agnostic loopback (signature conformance is GlueCatalogSpec's
    // job); routes on X-Amz-Target like the real JSON 1.1 service
    val (mdPath, detail) = detailFixture()
    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/", (ex: HttpExchange) => {
      ex.getRequestBody.readAllBytes()
      Option(ex.getRequestHeaders.getFirst("X-Amz-Target")) match {
        case Some("AWSGlue.GetDatabases") =>
          respond(ex, """{"DatabaseList":[{"Name":"lake"}]}""")
        case Some("AWSGlue.GetTables") =>
          respond(ex, """{"TableList":[{"Name":"orders"}]}""")
        case Some("AWSGlue.GetTable") => respond(ex,
          s"""{"Table":{"Name":"orders","Parameters":{"table_type":
            |"ICEBERG","metadata_location":"$mdPath"}}}""".stripMargin)
        case _ => respond(ex, "{}")
      }
    })
    server.start()
    try {
      val arg = s"us-east-1=http://127.0.0.1:${server.getAddress.getPort}"
      val out = Cli.run(Seq("glue", arg), None, "/tmp/none")
      assert(out.contains("Available databases: lake"))
      val ts = Cli.run(Seq("glue", arg, "lake"), None, "/tmp/none")
      assert(ts.contains("1 table(s)") && ts.contains("orders"))
      assert(Cli.run(Seq("glue", arg, "lake", "orders"), None, "/tmp/none")
        == detail("lake.orders"))
      assert(Cli.cmdHelp.contains("glue <region>"))
    } finally server.stop(0)
  }

  test("catalog namespace levels: dots split, backslash-dot escapes") {
    assert(Cli.nsLevels("db") == Seq("db"))
    assert(Cli.nsLevels("prod.analytics") == Seq("prod", "analytics"))
    // a level whose NAME contains a dot is addressable via \.
    assert(Cli.nsLevels("prod.team\\.data") == Seq("prod", "team.data"))
    assert(Cli.nsLevels("a\\.b\\.c") == Seq("a.b.c"))
    // trailing empty levels are preserved (malformed input is the
    // server's to reject, not silently reshaped)
    assert(Cli.nsLevels("a.") == Seq("a", ""))
  }
}
