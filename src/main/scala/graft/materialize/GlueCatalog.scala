package graft.materialize

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.time.Duration

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

/** Client for the PUBLIC AWS Glue Data Catalog API
  * (<https://docs.aws.amazon.com/glue/latest/webapi/>) — the third of
  * the reference's three `catalog_type` values (`connections.py:109`,
  * `bridge.py:299-302`: rest / glue / nessie). Glue stores an Iceberg
  * table as a catalog Table whose `Parameters` carry
  * `table_type=ICEBERG` and `metadata_location` — the same
  * metadata.json document a directory load reads, so like the other
  * two catalogs resolution changes WHERE metadata comes from, never
  * what a scan does ([[IcebergTable.readResolved]]).
  *
  * Transport is the service's JSON 1.1 protocol: every operation is a
  * `POST /` with `Content-Type: application/x-amz-json-1.1`, an
  * `X-Amz-Target: AWSGlue.<Operation>` header, and a SigV4
  * `Authorization` ([[SigV4]], service name `glue`):
  *
  *  - `GetDatabases` → namespace list (NextToken-paginated);
  *  - `GetTables {DatabaseName}` → table list (paginated);
  *  - `GetTable {DatabaseName, Name}` → the Table with its
  *    `Parameters.metadata_location` and optimistic-lock `VersionId`;
  *  - `UpdateTable {TableInput, VersionId, SkipArchive}` → the commit
  *    primitive: the caller re-points `metadata_location` guarded by
  *    the VersionId read before the write — a concurrent committer
  *    moves the version and the service answers
  *    `ConcurrentModificationException` instead of losing an update
  *    (the same compare-and-swap the REST catalog expresses as
  *    `assert-ref-snapshot-id`).
  *
  * `endpoint` is overridable so the protocol is loopback-provable in
  * the zero-egress sandbox ([[GlueCatalogSpec]] serves the API from an
  * in-process `com.sun.net.httpserver` that independently re-derives
  * the SigV4 signature); against real AWS it defaults to the public
  * `glue.{region}.amazonaws.com`. Errors raise with the service's
  * `__type` and message — a silently-empty catalog reads as an empty
  * lakehouse. */
final class GlueCatalog(region: String, accessKey: String,
    secretKey: String, sessionToken: Option[String] = None,
    endpoint: Option[String] = None,
    clock: () => java.time.Instant = () => java.time.Instant.now()) {

  private val mapper = new ObjectMapper()
  private val http = HttpClient.newBuilder()
    .connectTimeout(Duration.ofSeconds(10)).build()
  private val base =
    endpoint.getOrElse(s"https://glue.$region.amazonaws.com")
      .stripSuffix("/")

  private def call(target: String, body: String): JsonNode = {
    val uri = URI.create(s"$base/")
    val payload = body.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val amzDate = java.time.format.DateTimeFormatter
      .ofPattern("yyyyMMdd'T'HHmmss'Z'").withZone(java.time.ZoneOffset.UTC)
      .format(clock())
    // host must match what the JDK client sends: no default-port suffix
    val host = uri.getHost +
      (if (uri.getPort > 0) s":${uri.getPort}" else "")
    val signed = Seq(
      "content-type" -> "application/x-amz-json-1.1",
      "host" -> host,
      "x-amz-date" -> amzDate,
      "x-amz-target" -> s"AWSGlue.$target") ++
      sessionToken.map("x-amz-security-token" -> _)
    val auth = SigV4.authorization("POST", uri, signed, payload,
      accessKey, secretKey, region, "glue", amzDate)
    val b = HttpRequest.newBuilder(uri)
      .POST(HttpRequest.BodyPublishers.ofByteArray(payload))
    // the JDK client owns the Host header itself
    signed.filterNot(_._1 == "host")
      .foreach { case (k, v) => b.header(k, v) }
    b.header("Authorization", auth)
    val resp = http.send(b.build(), HttpResponse.BodyHandlers.ofString())
    if (resp.statusCode() / 100 != 2) {
      val node = scala.util.Try(mapper.readTree(resp.body())).toOption
      val tpe = node.map(_.path("__type").asText("")).filter(_.nonEmpty)
        .getOrElse(s"HTTP ${resp.statusCode()}")
      val msg = node.map(n => n.path("Message").asText(
        n.path("message").asText(""))).getOrElse("")
      sys.error(s"glue: $target -> $tpe: ${(msg + " " + resp.body().take(
        300)).trim.take(400)}")
    }
    mapper.readTree(resp.body())
  }

  /** Drain one NextToken-paginated list operation. */
  private def paged(target: String, baseReq: => com.fasterxml.jackson
      .databind.node.ObjectNode, listField: String): Seq[JsonNode] = {
    val out = Seq.newBuilder[JsonNode]
    var token: Option[String] = None
    var more = true
    while (more) {
      val req = baseReq
      token.foreach(req.put("NextToken", _))
      val resp = call(target, mapper.writeValueAsString(req))
      out ++= resp.path(listField).elements().asScala
      token = Option(resp.get("NextToken")).map(_.asText(""))
        .filter(_.nonEmpty)
      more = token.isDefined
    }
    out.result()
  }

  /** `GetDatabases` → database (namespace) names. */
  def listDatabases(): Seq[String] =
    paged("GetDatabases", mapper.createObjectNode(), "DatabaseList")
      .map(_.path("Name").asText())

  /** `GetTables` → table names in `db`. */
  def listTables(db: String): Seq[String] =
    paged("GetTables",
      mapper.createObjectNode().put("DatabaseName", db), "TableList")
      .map(_.path("Name").asText())

  /** `GetTable` → the raw catalog Table node (Parameters + VersionId). */
  private def getTable(db: String, table: String): JsonNode = {
    val req = mapper.createObjectNode()
    req.put("DatabaseName", db)
    req.put("Name", table)
    call("GetTable", mapper.writeValueAsString(req)).path("Table")
  }

  /** Resolve `db.table` to its Iceberg metadata: `GetTable`, require
    * `table_type=ICEBERG` (Glue also catalogs plain Hive tables — a
    * non-Iceberg hit must not read as an empty Iceberg table), then
    * read `metadata_location` from storage exactly like a directory
    * load. Returns the metadata plus the location data/manifest paths
    * resolve against. */
  def loadTable(db: String, table: String): (IcebergMetadata, String) = {
    val t = getTable(db, table)
    val params = t.path("Parameters")
    val tpe = params.path("table_type").asText("")
    require(tpe.equalsIgnoreCase("ICEBERG"),
      s"glue: $db.$table has table_type '$tpe', not ICEBERG")
    val loc = params.path("metadata_location").asText("")
    require(loc.nonEmpty,
      s"glue: ICEBERG table $db.$table carries no metadata_location")
    IcebergTable.loadAt(loc)
  }

  /** Catalog-resolved read: GetTable → metadata document → manifest
    * chain → DataFrame, identical semantics to a directory read. */
  def readTable(spark: org.apache.spark.sql.SparkSession,
      db: String, table: String): org.apache.spark.sql.DataFrame = {
    val (md, dir) = loadTable(db, table)
    IcebergTable.readResolved(spark, md, dir)
  }

  /** Catalog-resolved PRUNED read: the same three metadata skip tiers
    * (manifest summaries, file bounds/tuples, delete-file stats) as a
    * directory [[IcebergTable.readPruned]] — results exact, predicates
    * re-applied row-level. */
  def readTablePruned(spark: org.apache.spark.sql.SparkSession,
      db: String, table: String,
      preds: Seq[IcebergTable.ScanPred]): org.apache.spark.sql.DataFrame = {
    val (md, dir) = loadTable(db, table)
    IcebergTable.readPrunedOrResolved(spark, md, dir, Seq(preds))
  }

  /** Append `df` to a Glue-cataloged table THROUGH the catalog's
    * optimistic-lock protocol: `GetTable` pins the current `VersionId`
    * and `metadata_location`, the snapshot is written into the table's
    * storage location with the layout-preserving local writer, then
    * `UpdateTable` re-points `metadata_location` (recording the pinned
    * location as `previous_metadata_location`, the Glue-Iceberg
    * convention) guarded by the pinned VersionId with
    * `SkipArchive=true` — a concurrent committer moved the version and
    * the service answers `ConcurrentModificationException`, surfaced
    * as the raise in [[call]] rather than a lost update. */
  def commitAppend(spark: org.apache.spark.sql.SparkSession,
      db: String, table: String,
      df: org.apache.spark.sql.DataFrame): Unit = {
    val t = getTable(db, table)
    val versionId = t.path("VersionId").asText("")
    val prevLoc = t.path("Parameters").path("metadata_location").asText("")
    require(prevLoc.nonEmpty,
      s"glue: ICEBERG table $db.$table carries no metadata_location")
    val (_, dir) = IcebergTable.loadAt(prevLoc)
    val newLoc = IcebergWriter.append(spark, dir, df).getAbsolutePath
    val req = mapper.createObjectNode()
    req.put("DatabaseName", db)
    val input = req.putObject("TableInput")
    input.put("Name", table)
    val params = input.putObject("Parameters")
    // carry the table's existing parameters forward; a commit must not
    // strip foreign-writer annotations from the catalog entry
    t.path("Parameters").fields().asScala.foreach(e =>
      params.put(e.getKey, e.getValue.asText()))
    params.put("metadata_location", newLoc)
    params.put("previous_metadata_location", prevLoc)
    req.put("SkipArchive", true)
    if (versionId.nonEmpty) req.put("VersionId", versionId)
    call("UpdateTable", mapper.writeValueAsString(req))
    ()
  }

  /** `CreateTable` — register an EXISTING metadata document as a new
    * Glue catalog entry (the reference's `register_table` hook,
    * `bridge.py:308-331` — a no-op stub there; real registration
    * here): `TableType=EXTERNAL_TABLE` with the Glue-Iceberg parameter
    * convention (`table_type=ICEBERG` + `metadata_location`). A
    * name-conflict is the service's `AlreadyExistsException`,
    * surfaced loudly. */
  def registerTable(db: String, table: String,
      metadataLocation: String): Unit = {
    val req = mapper.createObjectNode()
    req.put("DatabaseName", db)
    val input = req.putObject("TableInput")
    input.put("Name", table)
    input.put("TableType", "EXTERNAL_TABLE")
    val params = input.putObject("Parameters")
    params.put("table_type", "ICEBERG")
    params.put("metadata_location", metadataLocation)
    call("CreateTable", mapper.writeValueAsString(req))
    ()
  }
}
