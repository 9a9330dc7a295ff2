package graft

import java.io.File
import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import java.nio.file.Files

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.scalatest.funsuite.AnyFunSuite

import graft.materialize.{IcebergTable, IcebergWriter, NessieCatalog}

/** The Nessie REST API v2 protocol round-trip against an in-process
  * loopback server: /config default branch, /trees reference listing,
  * /trees/{ref}/entries keyed entry listing, and
  * /trees/{ref}/contents/{key} ICEBERG_TABLE resolution feeding the
  * same manifest-chain read as a directory load (row-level deletes
  * included). This closes the reference's `catalog_type: nessie` the
  * way round 15 closed `rest` — the protocol is loopback-provable;
  * only network egress (and Glue's SigV4) stays environment-waived. */
class NessieCatalogSpec extends AnyFunSuite {
  lazy val spark = TestSpark.session

  private def respond(ex: HttpExchange, code: Int, body: String): Unit = {
    val bytes = body.getBytes(StandardCharsets.UTF_8)
    ex.getResponseHeaders.add("Content-Type", "application/json")
    ex.sendResponseHeaders(code, bytes.length)
    ex.getResponseBody.write(bytes)
    ex.close()
  }

  test("nessie v2: config, trees, entries, contents resolve to a full table read") {
    import spark.implicits._
    // a real table with an equality-delete upsert so catalog
    // resolution exercises the complete v2 delete path
    val dir = Files.createTempDirectory("graft_nessie").toFile.getPath
    IcebergWriter.create(spark, dir,
      Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "name"))
    IcebergWriter.upsertKeys(spark, dir,
      Seq((2L, "b2"), (4L, "d")).toDF("id", "name"), Seq("id"))
    val hint = Files.readString(
      new File(dir, "metadata/version-hint.text").toPath).trim
    val mdFile = new File(dir, s"metadata/v$hint.metadata.json")

    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    def authed(ex: HttpExchange)(ok: => Unit): Unit =
      if (Option(ex.getRequestHeaders.getFirst("Authorization"))
        .contains("Bearer ntok")) ok
      else respond(ex, 401, """{"message":"unauthorized"}""")
    server.createContext("/api/v2/config", (ex: HttpExchange) =>
      authed(ex) { respond(ex, 200,
        """{"defaultBranch":"main","specVersion":"2.2.0"}""") })
    server.createContext("/api/v2/trees", (ex: HttpExchange) =>
      authed(ex) {
        ex.getRequestURI.getPath match {
          case "/api/v2/trees" => respond(ex, 200,
            """{"references":[
              |{"name":"main","type":"BRANCH","hash":"abc"},
              |{"name":"audit","type":"TAG","hash":"def"}]}""".stripMargin)
          case "/api/v2/trees/main/entries" => respond(ex, 200,
            """{"entries":[
              |{"name":{"elements":["db"]},"type":"NAMESPACE"},
              |{"name":{"elements":["db","events"]},"type":"ICEBERG_TABLE"},
              |{"name":{"elements":["db","sub"]},"type":"NAMESPACE"},
              |{"name":{"elements":["db","sub","deep"]},
              | "type":"ICEBERG_TABLE"}]}""".stripMargin)
          case "/api/v2/trees/main/contents/db.events" => respond(ex, 200,
            s"""{"content":{"type":"ICEBERG_TABLE",
               |"metadataLocation":"${mdFile.getAbsolutePath}",
               |"id":"t-1"}}""".stripMargin)
          case "/api/v2/trees/main/contents/db.sub.deep" => respond(ex, 200,
            """{"content":{"type":"NAMESPACE"}}""")
          case _ => respond(ex, 404, """{"message":"not found"}""")
        }
      })
    server.start()
    try {
      val uri = s"http://127.0.0.1:${server.getAddress.getPort}/api/v2"
      val cat = new NessieCatalog(uri, token = Some("ntok"))
      assert(cat.defaultBranch == "main")
      assert(cat.branch == "main")
      assert(cat.listReferences() ==
        Seq(("main", "BRANCH"), ("audit", "TAG")))
      assert(cat.listNamespaces() == Seq(Seq("db"), Seq("db", "sub")))
      assert(cat.listTables(Seq("db")) == Seq("events"))
      assert(cat.listTables(Seq("db", "sub")) == Seq("deep"))
      // content resolution feeds the identical manifest-chain read
      val expected = IcebergTable.read(spark, dir).collect()
        .map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
      assert(expected == Seq((1L, "a"), (2L, "b2"), (3L, "c"), (4L, "d")))
      val got = cat.readTable(spark, Seq("db"), "events").collect()
        .map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
      assert(got == expected)
      // pruned catalog reads run the same metadata skip tiers
      val pruned = cat.readTablePruned(spark, Seq("db"), "events",
        Seq(IcebergTable.ScanPred("id", ">=", "3"))).collect()
        .map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
      assert(pruned == Seq((3L, "c"), (4L, "d")))
      // a non-table content raises by type, a missing key by status
      val e1 = intercept[IllegalArgumentException] {
        cat.loadTable(Seq("db", "sub"), "deep")
      }
      assert(e1.getMessage.contains("not an ICEBERG_TABLE"))
      val e2 = intercept[IllegalArgumentException] {
        cat.loadTable(Seq("db"), "missing")
      }
      assert(e2.getMessage.contains("404"))
      // auth is enforced on every route
      val bad = new NessieCatalog(uri, token = Some("wrong"))
      val e3 = intercept[IllegalArgumentException](bad.defaultBranch)
      assert(e3.getMessage.contains("401"))
      // a dotted element switches the key join to the 0x1D separator
      val probe = new java.util.concurrent.atomic.AtomicReference[String]("")
      server.createContext("/api/v2/trees/main/contents/",
        (ex: HttpExchange) => authed(ex) {
          probe.set(ex.getRequestURI.getRawPath)
          respond(ex, 404, """{"message":"probe"}""")
        })
      intercept[IllegalArgumentException] {
        cat.loadTable(Seq("db.dotted"), "t")
      }
      assert(probe.get.endsWith("/contents/db.dotted%1Dt"))
      // spaces percent-encode as %20 (a '+' in a URL PATH is a
      // literal plus — form encoding would resolve the wrong key)
      intercept[IllegalArgumentException] {
        cat.loadTable(Seq("my ns"), "t")
      }
      assert(probe.get.endsWith("/contents/my%20ns.t"))
    } finally server.stop(0)
  }
}
