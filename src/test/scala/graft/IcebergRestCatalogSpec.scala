package graft

import java.io.File
import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import java.nio.file.Files

import scala.jdk.CollectionConverters._

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.scalatest.funsuite.AnyFunSuite

import graft.materialize.{IcebergRestCatalog, IcebergTable, IcebergWriter}

/** The Iceberg REST Catalog protocol round-trip against an in-process
  * loopback server speaking the public rest-catalog-open-api surface:
  * config with server-assigned prefix, OAuth2 client-credentials
  * exchange (the reference's CREDENTIAL mode), bearer enforcement on
  * every route, namespace/table listing, and LoadTableResult in BOTH
  * shapes (metadata-location and embedded metadata) feeding the same
  * manifest-chain read as a directory load — equality deletes
  * included. The round-10 environment waiver covered DNS egress, not
  * the protocol: served from 127.0.0.1 the protocol is fully
  * testable. */
class IcebergRestCatalogSpec extends AnyFunSuite {
  lazy val spark = TestSpark.session

  private def respond(ex: HttpExchange, code: Int, body: String): Unit = {
    val bytes = body.getBytes(StandardCharsets.UTF_8)
    ex.getResponseHeaders.add("Content-Type", "application/json")
    ex.sendResponseHeaders(code, bytes.length)
    ex.getResponseBody.write(bytes)
    ex.close()
  }

  test("REST catalog: config prefix, oauth exchange, listings, both LoadTableResult shapes") {
    import spark.implicits._
    // a real table (with an equality-delete upsert, so the catalog
    // read exercises the full v2 delete path) written by this repo's
    // writer; the catalog only changes HOW its metadata is found
    val dir = Files.createTempDirectory("graft_restcat").toFile.getPath
    IcebergWriter.create(spark, dir,
      Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "name"))
    IcebergWriter.upsertKeys(spark, dir,
      Seq((2L, "b2"), (4L, "d")).toDF("id", "name"), Seq("id"))
    val hint = Files.readString(
      new File(dir, "metadata/version-hint.text").toPath).trim
    val mdFile = new File(dir, s"metadata/v$hint.metadata.json")
    val mdJson = Files.readString(mdFile.toPath)

    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    val seenWarehouse = new java.util.concurrent.atomic.AtomicReference[String]("")
    val tokenGrants = new java.util.concurrent.atomic.AtomicInteger(0)
    server.createContext("/v1/config", (ex: HttpExchange) => {
      seenWarehouse.set(Option(ex.getRequestURI.getQuery).getOrElse(""))
      respond(ex, 200,
        """{"defaults":{"clients":"4"},"overrides":{"prefix":"cat"}}""")
    })
    server.createContext("/v1/oauth/tokens", (ex: HttpExchange) => {
      val body = new String(ex.getRequestBody.readAllBytes(),
        StandardCharsets.UTF_8)
      if (ex.getRequestMethod == "POST" &&
        body.contains("grant_type=client_credentials") &&
        body.contains("client_id=cid") &&
        body.contains("client_secret=s%3Acret")) {
        tokenGrants.incrementAndGet()
        respond(ex, 200,
          """{"access_token":"tok123","token_type":"bearer"}""")
      } else respond(ex, 400, """{"error":"invalid_grant"}""")
    })
    // every catalog route enforces the bearer the exchange minted
    def authed(ex: HttpExchange)(ok: => Unit): Unit =
      if (Option(ex.getRequestHeaders.getFirst("Authorization"))
        .contains("Bearer tok123")) ok
      else respond(ex, 401, """{"error":"unauthorized"}""")
    server.createContext("/v1/cat/namespaces", (ex: HttpExchange) =>
      authed(ex) { respond(ex, 200, """{"namespaces":[["db"],["db2"]]}""") })
    server.createContext("/v1/cat/namespaces/db/tables", (ex: HttpExchange) =>
      authed(ex) {
        ex.getRequestURI.getPath match {
          case "/v1/cat/namespaces/db/tables" => respond(ex, 200,
            """{"identifiers":[{"namespace":["db"],"name":"t_loc"},
              |{"namespace":["db"],"name":"t_embedded"}]}""".stripMargin)
          case "/v1/cat/namespaces/db/tables/t_loc" => respond(ex, 200,
            s"""{"metadata-location":
               |"${mdFile.getAbsolutePath}","config":{}}""".stripMargin)
          case "/v1/cat/namespaces/db/tables/t_embedded" => respond(ex, 200,
            s"""{"metadata-location":"${mdFile.getAbsolutePath}",
               |"metadata":$mdJson,"config":{}}""".stripMargin)
          case _ => respond(ex, 404, """{"error":"no such table"}""")
        }
      })
    server.start()
    try {
      val uri = s"http://127.0.0.1:${server.getAddress.getPort}"
      // CREDENTIAL mode — the reference's client_id:client_secret pair
      // (the secret itself containing a colon: split-on-first rule)
      val cat = new IcebergRestCatalog(uri,
        credential = Some("cid:s:cret"), warehouse = Some("wh1"))
      assert(cat.config.get("prefix").contains("cat"))
      assert(cat.config.get("clients").contains("4"))
      assert(seenWarehouse.get.contains("warehouse=wh1"))
      assert(cat.listNamespaces() == Seq(Seq("db"), Seq("db2")))
      assert(cat.listTables(Seq("db")) == Seq("t_loc", "t_embedded"))
      // location-shape and embedded-shape resolve to identical reads,
      // and both equal the directory read (deletes applied)
      val expected = IcebergTable.read(spark, dir).collect()
        .map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
      assert(expected == Seq((1L, "a"), (2L, "b2"), (3L, "c"), (4L, "d")))
      def rows(t: String) = cat.readTable(spark, Seq("db"), t).collect()
        .map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
      assert(rows("t_loc") == expected)
      assert(rows("t_embedded") == expected)
      // pruned catalog reads run the same metadata skip tiers
      val pruned = cat.readTablePruned(spark, Seq("db"), "t_loc",
        Seq(IcebergTable.ScanPred("id", ">=", "3"))).collect()
        .map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
      assert(pruned == Seq((3L, "c"), (4L, "d")))
      // one token exchange serves every call (bearer cached)
      assert(tokenGrants.get == 1)
      // catalog errors are loud, never an empty lakehouse
      val e = intercept[IllegalArgumentException] {
        cat.loadTable(Seq("db"), "missing")
      }
      assert(e.getMessage.contains("404"))
      // TOKEN mode sends the bearer unchanged (no exchange)
      val cat2 = new IcebergRestCatalog(uri, token = Some("tok123"))
      assert(cat2.listTables(Seq("db")).nonEmpty)
      assert(tokenGrants.get == 1)
      // a wrong bearer is a loud 401
      val bad = new IcebergRestCatalog(uri, token = Some("nope"))
      val e2 = intercept[IllegalArgumentException] {
        bad.listNamespaces()
      }
      assert(e2.getMessage.contains("401"))
    } finally server.stop(0)
  }

  test("REST catalog commit: add-snapshot lands through the protocol; " +
      "stale assert-ref-snapshot-id is a 409") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_restcommit").toFile.getPath
    IcebergWriter.create(spark, dir,
      Seq((1L, "a"), (2L, "b")).toDF("id", "name"))
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    def currentMdFile(): File = {
      val hint = Files.readString(
        new File(dir, "metadata/version-hint.text").toPath).trim
      new File(dir, s"metadata/v$hint.metadata.json")
    }
    // the catalog's OWN view of main — moved only by a protocol commit
    val catSnap = new java.util.concurrent.atomic.AtomicLong(
      IcebergTable.loadMetadata(dir).currentSnapshotId.get)
    val commits = new java.util.concurrent.atomic.AtomicInteger(0)
    val lastUpdates = new java.util.concurrent.atomic
      .AtomicReference[String]("")
    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/v1/config", (ex: HttpExchange) =>
      respond(ex, 200, """{"defaults":{},"overrides":{}}"""))
    server.createContext("/v1/namespaces/db/tables/t",
      (ex: HttpExchange) => ex.getRequestMethod match {
        case "GET" => respond(ex, 200,
          s"""{"metadata-location":"${currentMdFile().getAbsolutePath}"}""")
        case "POST" =>
          val body = mapper.readTree(ex.getRequestBody.readAllBytes())
          val req = body.path("requirements").get(0)
          if (req.path("type").asText() != "assert-ref-snapshot-id" ||
              req.path("ref").asText() != "main")
            respond(ex, 400, """{"message":"unexpected requirement"}""")
          else if (req.path("snapshot-id").asLong(-1L) != catSnap.get)
            respond(ex, 409,
              """{"message":"requirement failed: branch main has moved"}""")
          else {
            val updates = body.path("updates")
            lastUpdates.set(updates.toString)
            val newId = updates.elements().asScala
              .find(_.path("action").asText() == "set-snapshot-ref")
              .map(_.path("snapshot-id").asLong(-1L)).getOrElse(-1L)
            catSnap.set(newId)
            commits.incrementAndGet()
            respond(ex, 200,
              s"""{"metadata-location":"${currentMdFile().getAbsolutePath}"}""")
          }
      })
    server.start()
    try {
      val uri = s"http://127.0.0.1:${server.getAddress.getPort}"
      val cat = new IcebergRestCatalog(uri)
      cat.commitAppend(spark, Seq("db"), "t",
        Seq((3L, "c")).toDF("id", "name"))
      assert(commits.get == 1)
      // the catalog's main now tracks storage's current snapshot, and
      // the published updates carried the snapshot node verbatim
      assert(catSnap.get ==
        IcebergTable.loadMetadata(dir).currentSnapshotId.get)
      assert(lastUpdates.get.contains("add-snapshot") &&
        lastUpdates.get.contains("manifest-list"))
      assert(cat.readTable(spark, Seq("db"), "t").collect()
        .map(r => (r.getLong(0), r.getString(1))).sorted.toSeq ==
        Seq((1L, "a"), (2L, "b"), (3L, "c")))
      // a concurrent catalog commit moved main: the NEXT commit's
      // assertion (computed against the loaded snapshot) must 409
      catSnap.set(999999L)
      val e = intercept[IllegalArgumentException] {
        cat.commitAppend(spark, Seq("db"), "t",
          Seq((4L, "d")).toDF("id", "name"))
      }
      assert(e.getMessage.contains("409"))
      assert(commits.get == 1)
    } finally server.stop(0)
  }

  test("REST catalog register: an existing metadata document is adopted " +
      "by location; a name conflict is a 409") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_restreg").toFile.getPath
    IcebergWriter.create(spark, dir,
      Seq((1L, "a"), (2L, "b")).toDF("id", "name"))
    val hint = Files.readString(
      new File(dir, "metadata/version-hint.text").toPath).trim
    val mdFile = new File(dir, s"metadata/v$hint.metadata.json")
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val registered = new java.util.concurrent.atomic
      .AtomicReference[String]("")
    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/v1/config", (ex: HttpExchange) =>
      respond(ex, 200, """{"defaults":{},"overrides":{}}"""))
    server.createContext("/v1/namespaces/db/register",
      (ex: HttpExchange) => {
        val body = mapper.readTree(ex.getRequestBody.readAllBytes())
        val name = body.path("name").asText("")
        val loc = body.path("metadata-location").asText("")
        if (name == "taken")
          respond(ex, 409, """{"message":"table exists"}""")
        else {
          registered.set(s"$name@$loc")
          respond(ex, 200, s"""{"metadata-location":"$loc"}""")
        }
      })
    server.createContext("/v1/namespaces/db/tables/adopted",
      (ex: HttpExchange) => respond(ex, 200,
        s"""{"metadata-location":"${registered.get.split("@")(1)}"}"""))
    server.start()
    try {
      val uri = s"http://127.0.0.1:${server.getAddress.getPort}"
      val cat = new IcebergRestCatalog(uri)
      cat.registerTable(Seq("db"), "adopted", mdFile.getAbsolutePath)
      assert(registered.get == s"adopted@${mdFile.getAbsolutePath}")
      // the registered location resolves to a full read
      assert(cat.readTable(spark, Seq("db"), "adopted").collect()
        .map(r => (r.getLong(0), r.getString(1))).sorted.toSeq ==
        Seq((1L, "a"), (2L, "b")))
      val e = intercept[IllegalArgumentException] {
        cat.registerTable(Seq("db"), "taken", mdFile.getAbsolutePath)
      }
      assert(e.getMessage.contains("409"))
    } finally server.stop(0)
  }
}
