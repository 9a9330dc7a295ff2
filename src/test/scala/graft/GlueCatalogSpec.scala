package graft

import java.io.File
import java.net.{InetSocketAddress, URI}
import java.nio.charset.StandardCharsets
import java.nio.file.Files

import scala.jdk.CollectionConverters._

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.scalatest.funsuite.AnyFunSuite

import graft.materialize.{GlueCatalog, IcebergWriter, SigV4}

/** The AWS Glue Data Catalog protocol (JSON 1.1 + SigV4) round-trip
  * against an in-process loopback server — closing the reference's
  * third `catalog_type` (`connections.py:109`: rest / glue / nessie)
  * the way rounds 15/16 closed `rest` and `nessie`. Two layers of
  * proof:
  *
  *  1. [[SigV4]] is checked against the documentation's PUBLISHED
  *     known-answer example (the `iam.amazonaws.com` GET signed with
  *     the `AKIDEXAMPLE` key pair) — spec conformance, not
  *     self-consistency;
  *  2. the loopback server RE-DERIVES the signature from what actually
  *     arrived on the wire (method, path, received header values,
  *     received body) and rejects mismatches with 403 — so the client
  *     provably sends exactly the bytes it signed.
  *
  * Only real AWS endpoints remain environment-waived (zero egress). */
class GlueCatalogSpec extends AnyFunSuite {
  lazy val spark = TestSpark.session

  // ---------------------------------------------------------- SigV4
  // The complete signing example published in the AWS General
  // Reference (Signature Version 4 documentation): GET
  // https://iam.amazonaws.com/?Action=ListUsers&Version=2010-05-08
  // at 20150830T123600Z with the documented example key pair.
  test("sigv4 matches the AWS-published known-answer example") {
    val auth = SigV4.authorization(
      method = "GET",
      uri = URI.create(
        "https://iam.amazonaws.com/?Action=ListUsers&Version=2010-05-08"),
      headers = Seq(
        "content-type" -> "application/x-www-form-urlencoded; charset=utf-8",
        "host" -> "iam.amazonaws.com",
        "x-amz-date" -> "20150830T123600Z"),
      payload = Array.emptyByteArray,
      accessKey = "AKIDEXAMPLE",
      secretKey = "wJalrXUtnFEMI/K7MDENG+bPxRfiCYEXAMPLEKEY",
      region = "us-east-1", service = "iam",
      amzDate = "20150830T123600Z")
    assert(auth === "AWS4-HMAC-SHA256 " +
      "Credential=AKIDEXAMPLE/20150830/us-east-1/iam/aws4_request, " +
      "SignedHeaders=content-type;host;x-amz-date, " +
      "Signature=5d672d79c15b13162d9279b0855cfba6789a8edb4c82c400e06" +
      "b5924a6f2b5d7")
  }

  test("sigv4 canonicalization: query sort, header case, space collapse") {
    // same request expressed with unsorted query, mixed-case header
    // names and padded values must produce the identical signature
    val messy = SigV4.authorization(
      method = "GET",
      uri = URI.create(
        "https://iam.amazonaws.com/?Version=2010-05-08&Action=ListUsers"),
      headers = Seq(
        "X-Amz-Date" -> "20150830T123600Z",
        "Host" -> "iam.amazonaws.com",
        "Content-Type" -> "application/x-www-form-urlencoded;  charset=utf-8"),
      payload = Array.emptyByteArray,
      accessKey = "AKIDEXAMPLE",
      secretKey = "wJalrXUtnFEMI/K7MDENG+bPxRfiCYEXAMPLEKEY",
      region = "us-east-1", service = "iam",
      amzDate = "20150830T123600Z")
    assert(messy.endsWith("Signature=5d672d79c15b13162d9279b0855cfba6" +
      "789a8edb4c82c400e06b5924a6f2b5d7"))
  }

  // ----------------------------------------------------- glue loopback

  private val SECRET = "gluesecretkey"
  private val ACCESS = "GLUEACCESSKEY"
  private val REGION = "us-east-1"

  private def respond(ex: HttpExchange, code: Int, body: String): Unit = {
    val bytes = body.getBytes(StandardCharsets.UTF_8)
    ex.getResponseHeaders.add("Content-Type", "application/x-amz-json-1.1")
    ex.sendResponseHeaders(code, bytes.length)
    ex.getResponseBody.write(bytes)
    ex.close()
  }

  /** Re-derive the SigV4 signature from the RECEIVED request and
    * compare to the presented Authorization; None = verified. */
  private def verifySig(ex: HttpExchange, body: Array[Byte])
      : Option[String] = {
    val auth = Option(ex.getRequestHeaders.getFirst("Authorization"))
      .getOrElse(return Some("no Authorization header"))
    val signedHdrs = auth.split("SignedHeaders=")(1).split(",")(0)
    val amzDate = Option(ex.getRequestHeaders.getFirst("x-amz-date"))
      .getOrElse(return Some("no x-amz-date"))
    val hdrs = signedHdrs.split(";").toSeq.map { name =>
      val v = if (name == "host")
        Option(ex.getRequestHeaders.getFirst("Host")).getOrElse("")
      else Option(ex.getRequestHeaders.getFirst(name)).getOrElse("")
      name -> v
    }
    val expected = SigV4.authorization(ex.getRequestMethod,
      ex.getRequestURI, hdrs, body, ACCESS, SECRET, REGION, "glue",
      amzDate)
    if (expected == auth) None
    else Some(s"signature mismatch\n  got $auth\n  want $expected")
  }

  /** One loopback Glue serving `tables` (db -> name -> (params,
    * version)); UpdateTable bumps versions and honors the optimistic
    * VersionId check. Collects decoded request targets for assertions. */
  private def withGlue[A](
      tables: collection.mutable.Map[String, (Map[String, String], String)],
      raceAfterGet: java.util.concurrent.atomic.AtomicBoolean =
        new java.util.concurrent.atomic.AtomicBoolean(false))
      (f: (GlueCatalog, collection.mutable.Buffer[String],
        String) => A): A = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val seen = collection.mutable.Buffer.empty[String]
    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/", (ex: HttpExchange) => {
      val body = ex.getRequestBody.readAllBytes()
      verifySig(ex, body) match {
        case Some(err) => respond(ex, 403,
          s"""{"__type":"IncompleteSignatureException","Message":${
            mapper.writeValueAsString(err)}}""")
        case None =>
          val target = Option(ex.getRequestHeaders
            .getFirst("X-Amz-Target")).getOrElse("")
          seen += target
          val req = mapper.readTree(body)
          target match {
            case "AWSGlue.GetDatabases" =>
              // two pages to prove NextToken pagination drains
              if (req.path("NextToken").asText("").isEmpty)
                respond(ex, 200, """{"DatabaseList":[{"Name":"lake"}],
                  |"NextToken":"p2"}""".stripMargin)
              else respond(ex, 200,
                """{"DatabaseList":[{"Name":"staging"}]}""")
            case "AWSGlue.GetTables" =>
              respond(ex, 200, """{"TableList":[{"Name":"events"},
                |{"Name":"hive_legacy"}]}""".stripMargin)
            case "AWSGlue.GetTable" =>
              val name = req.path("Name").asText("")
              tables.get(name) match {
                case Some((params, version)) =>
                  val p = mapper.createObjectNode()
                  params.foreach { case (k, v) => p.put(k, v) }
                  val t = mapper.createObjectNode()
                  t.put("Name", name)
                  t.put("VersionId", version)
                  t.set("Parameters",
                    p.asInstanceOf[com.fasterxml.jackson.databind.JsonNode])
                  val root = mapper.createObjectNode()
                  root.set("Table",
                    t.asInstanceOf[com.fasterxml.jackson.databind.JsonNode])
                  respond(ex, 200, mapper.writeValueAsString(root))
                  // simulate a concurrent committer landing between this
                  // client's GetTable and its UpdateTable
                  if (raceAfterGet.getAndSet(false))
                    tables(name) = (params, (version.toInt + 1).toString)
                case None => respond(ex, 400,
                  """{"__type":"EntityNotFoundException",
                    |"Message":"not found"}""".stripMargin)
              }
            case "AWSGlue.CreateTable" =>
              val name = req.path("TableInput").path("Name").asText("")
              if (tables.contains(name))
                respond(ex, 400,
                  """{"__type":"AlreadyExistsException",
                    |"Message":"table exists"}""".stripMargin)
              else {
                val newParams = req.path("TableInput").path("Parameters")
                  .fields().asScala
                  .map(e => e.getKey -> e.getValue.asText()).toMap
                tables(name) = (newParams, "1")
                respond(ex, 200, "{}")
              }
            case "AWSGlue.UpdateTable" =>
              val name = req.path("TableInput").path("Name").asText("")
              val (_, cur) = tables(name)
              if (req.path("VersionId").asText("") != cur)
                respond(ex, 400,
                  """{"__type":"ConcurrentModificationException",
                    |"Message":"version moved"}""".stripMargin)
              else {
                val newParams = req.path("TableInput").path("Parameters")
                  .fields().asScala
                  .map(e => e.getKey -> e.getValue.asText()).toMap
                tables(name) = (newParams, (cur.toInt + 1).toString)
                respond(ex, 200, "{}")
              }
            case other => respond(ex, 400,
              s"""{"__type":"InvalidInputException","Message":"$other"}""")
          }
      }
    })
    server.start()
    val ep = s"http://127.0.0.1:${server.getAddress.getPort}"
    try f(new GlueCatalog(REGION, ACCESS, SECRET,
      endpoint = Some(ep)), seen, ep)
    finally server.stop(0)
  }

  test("glue: paginated listing, iceberg resolution, full table read") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_glue").toFile.getPath
    IcebergWriter.create(spark, dir,
      Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "name"))
    IcebergWriter.upsertKeys(spark, dir,
      Seq((2L, "b2"), (4L, "d")).toDF("id", "name"), Seq("id"))
    val hint = Files.readString(
      new File(dir, "metadata/version-hint.text").toPath).trim
    val mdFile = new File(dir, s"metadata/v$hint.metadata.json")

    val tables = collection.mutable.Map(
      "events" -> (Map("table_type" -> "ICEBERG",
        "metadata_location" -> mdFile.getAbsolutePath), "7"),
      "hive_legacy" -> (Map("classification" -> "parquet"), "1"))
    withGlue(tables) { (cat, seen, _) =>
      assert(cat.listDatabases() === Seq("lake", "staging"))
      assert(cat.listTables("lake") === Seq("events", "hive_legacy"))
      val rows = cat.readTable(spark, "lake", "events")
        .orderBy("id").as[(Long, String)].collect().toSeq
      assert(rows === Seq((1L, "a"), (2L, "b2"), (3L, "c"), (4L, "d")))
      // a Hive (non-Iceberg) catalog hit must refuse, not read empty
      val err = intercept[IllegalArgumentException] {
        cat.loadTable("lake", "hive_legacy")
      }
      assert(err.getMessage.contains("not ICEBERG"))
      assert(seen.count(_ == "AWSGlue.GetDatabases") === 2,
        "NextToken page not fetched")
    }
  }

  test("glue: commitAppend re-points metadata_location under VersionId " +
      "guard; stale version refused") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_glue_commit").toFile.getPath
    IcebergWriter.create(spark, dir, Seq((1L, "a")).toDF("id", "name"))
    val hint0 = Files.readString(
      new File(dir, "metadata/version-hint.text").toPath).trim
    val md0 = new File(dir, s"metadata/v$hint0.metadata.json")

    val tables = collection.mutable.Map(
      "t" -> (Map("table_type" -> "ICEBERG", "owner" -> "trino",
        "metadata_location" -> md0.getAbsolutePath), "3"))
    val race = new java.util.concurrent.atomic.AtomicBoolean(false)
    withGlue(tables, race) { (cat, _, _) =>
      cat.commitAppend(spark, "lake", "t", Seq((2L, "b")).toDF("id", "name"))
      val (params, version) = tables("t")
      assert(version === "4")
      assert(params("previous_metadata_location") === md0.getAbsolutePath)
      assert(params("metadata_location") !== md0.getAbsolutePath)
      assert(params("owner") === "trino",
        "commit must carry foreign catalog parameters forward")
      // the catalog-recorded document resolves to all rows
      val rows = cat.readTable(spark, "lake", "t")
        .orderBy("id").as[(Long, String)].collect().toSeq
      assert(rows === Seq((1L, "a"), (2L, "b")))

      // stale commit: a concurrent committer moves the version between
      // this client's GetTable and UpdateTable — the CAS must refuse
      race.set(true)
      val err = intercept[RuntimeException] {
        cat.commitAppend(spark, "lake", "t",
          Seq((9L, "z")).toDF("id", "name"))
      }
      assert(err.getMessage.contains("ConcurrentModificationException"))
    }
  }

  test("glue: registerTable adopts an existing metadata document; " +
      "name conflict refused") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_glue_reg").toFile.getPath
    IcebergWriter.create(spark, dir,
      Seq((1L, "a"), (2L, "b")).toDF("id", "name"))
    val hint = Files.readString(
      new File(dir, "metadata/version-hint.text").toPath).trim
    val mdFile = new File(dir, s"metadata/v$hint.metadata.json")

    val tables = collection.mutable.Map(
      "taken" -> (Map("table_type" -> "ICEBERG"), "1"))
    withGlue(tables) { (cat, _, _) =>
      cat.registerTable("lake", "adopted", mdFile.getAbsolutePath)
      val rows = cat.readTable(spark, "lake", "adopted")
        .orderBy("id").as[(Long, String)].collect().toSeq
      assert(rows === Seq((1L, "a"), (2L, "b")))
      val err = intercept[RuntimeException] {
        cat.registerTable("lake", "taken", mdFile.getAbsolutePath)
      }
      assert(err.getMessage.contains("AlreadyExistsException"))
    }
  }

  test("glue: a wrong-secret signature fails the server-side check") {
    withGlue(collection.mutable.Map.empty[String,
        (Map[String, String], String)]) { (good, _, ep) =>
      assert(good.listDatabases() === Seq("lake", "staging"))
      val bad = new GlueCatalog(REGION, ACCESS, "wrongsecret",
        endpoint = Some(ep))
      val err = intercept[RuntimeException] { bad.listDatabases() }
      assert(err.getMessage.contains("IncompleteSignatureException"))
    }
  }
}
