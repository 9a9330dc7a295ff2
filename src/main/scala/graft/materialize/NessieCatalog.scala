package graft.materialize

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.time.Duration

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

/** Client for the PUBLIC Nessie REST API v2 (<https://projectnessie.org/nessie-latest/api/>)
  * — the second of the reference's three catalog_type values
  * (`connections.py:109`, `:990-1055`: rest / glue / nessie). Nessie
  * is a git-like catalog: tables live at KEYS on named REFERENCES
  * (branches/tags), and an ICEBERG_TABLE's content carries a
  * `metadataLocation` pointing at the same metadata.json document a
  * directory load reads — so resolution changes WHERE metadata comes
  * from, never what a scan does ([[IcebergTable.readResolved]]).
  *
  *  - `GET {api}/config` → `defaultBranch` (the ref used when the
  *    caller pins none);
  *  - `GET {api}/trees` → references (branches and tags, git-style);
  *  - `GET {api}/trees/{ref}/entries` → keyed entries with types
  *    (`NAMESPACE`, `ICEBERG_TABLE`, …);
  *  - `GET {api}/trees/{ref}/contents/{key}` → the content object;
  *    for ICEBERG_TABLE the `metadataLocation` to read.
  *
  * Content keys address as v2 path segments: elements joined by `.`;
  * when an element itself contains a dot, the API's alternative
  * ASCII group-separator (0x1D, percent-encoded `%1D`) join
  * disambiguates. Transport is JDK `java.net.http` with optional
  * bearer auth — no added dependency, loopback-testable in the
  * zero-egress sandbox (NessieCatalogSpec serves the API from an
  * in-process `com.sun.net.httpserver`). Responses must be 2xx;
  * anything else raises with the body. Glue remains environment-
  * blocked (SigV4 request signing + real AWS endpoints; no egress). */
final class NessieCatalog(baseUri: String,
    token: Option[String] = None,
    ref: Option[String] = None) {

  private val mapper = new ObjectMapper()
  private val http = HttpClient.newBuilder()
    .connectTimeout(Duration.ofSeconds(10)).build()
  private val base = baseUri.stripSuffix("/")

  private def get(path: String): JsonNode = {
    val b = HttpRequest.newBuilder(URI.create(s"$base$path")).GET()
    token.foreach(t => b.header("Authorization", s"Bearer $t"))
    val resp = http.send(b.build(), HttpResponse.BodyHandlers.ofString())
    require(resp.statusCode() / 100 == 2,
      s"nessie: GET $path -> ${resp.statusCode()}: " +
        resp.body().take(500))
    mapper.readTree(resp.body())
  }

  /** `GET /config` → the server's default branch. */
  lazy val defaultBranch: String = {
    val b = get("/config").path("defaultBranch").asText("")
    require(b.nonEmpty, "nessie: /config carries no defaultBranch")
    b
  }

  /** The reference every call resolves against: the caller's pin or
    * the server default (like an un-checked-out git clone on main). */
  def branch: String = ref.getOrElse(defaultBranch)

  /** `GET /trees` → (name, type) of every reference — branches and
    * tags, the catalog's git surface. */
  def listReferences(): Seq[(String, String)] =
    get("/trees").path("references").elements().asScala
      .map(r => (r.path("name").asText(), r.path("type").asText()))
      .toSeq

  /** One path segment for a content key: elements join with `.`; an
    * element containing a dot forces the v2 group-separator join
    * (0x1D) so levels stay unambiguous. */
  private def keyPath(elements: Seq[String]): String = {
    // URLEncoder is form encoding — a space becomes '+', which in a
    // URL PATH is a literal plus; rewrite to the RFC 3986 percent form
    def enc(s: String) = java.net.URLEncoder.encode(
      s, java.nio.charset.StandardCharsets.UTF_8).replace("+", "%20")
    if (elements.exists(_.contains(".")))
      elements.map(enc).mkString("%1D")
    else elements.map(enc).mkString(".")
  }

  /** All (key elements, type) entries on the branch. Entry listing is
    * ref-wide; namespace filtering happens client-side (the server
    * also accepts CEL `filter=` for push-down — unnecessary at
    * catalog-browse scale). */
  def listEntries(): Seq[(Seq[String], String)] =
    get(s"/trees/${keyPath(Seq(branch))}/entries").path("entries")
      .elements().asScala.map { e =>
        (e.path("name").path("elements").elements().asScala
          .map(_.asText()).toSeq,
          e.path("type").asText())
      }.toSeq

  /** NAMESPACE-typed entry keys on the branch. */
  def listNamespaces(): Seq[Seq[String]] =
    listEntries().collect { case (k, "NAMESPACE") => k }

  /** ICEBERG_TABLE entries directly under `ns`. */
  def listTables(ns: Seq[String]): Seq[String] =
    listEntries().collect {
      case (k, "ICEBERG_TABLE")
        if k.size == ns.size + 1 && k.startsWith(ns) => k.last
    }

  /** `GET /trees/{ref}/contents/{key}` → the ICEBERG_TABLE content's
    * `metadataLocation`, read from storage exactly like a directory
    * load. Returns the metadata plus the location data/manifest paths
    * resolve against. */
  def loadTable(ns: Seq[String], table: String): (IcebergMetadata, String) = {
    val n = get(s"/trees/${keyPath(Seq(branch))}/contents/${
      keyPath(ns :+ table)}")
    val c = n.path("content")
    val tpe = c.path("type").asText("")
    require(tpe == "ICEBERG_TABLE", s"nessie: ${(ns :+ table).mkString(".")}" +
      s" is $tpe, not an ICEBERG_TABLE")
    val loc = c.path("metadataLocation").asText("")
    require(loc.nonEmpty, s"nessie: ICEBERG_TABLE " +
      s"${(ns :+ table).mkString(".")} carries no metadataLocation")
    IcebergTable.loadAt(loc)
  }

  /** Catalog-resolved read: content → metadata document → manifest
    * chain → DataFrame, identical semantics to a directory read. */
  def readTable(spark: org.apache.spark.sql.SparkSession,
      ns: Seq[String], table: String): org.apache.spark.sql.DataFrame = {
    val (md, dir) = loadTable(ns, table)
    IcebergTable.readResolved(spark, md, dir)
  }

  /** Catalog-resolved PRUNED read: the same three metadata skip tiers
    * (manifest summaries, file bounds/tuples, delete-file stats) as a
    * directory [[IcebergTable.readPruned]] — results exact, predicates
    * re-applied row-level. */
  def readTablePruned(spark: org.apache.spark.sql.SparkSession,
      ns: Seq[String], table: String,
      preds: Seq[IcebergTable.ScanPred]): org.apache.spark.sql.DataFrame = {
    val (md, dir) = loadTable(ns, table)
    IcebergTable.readPrunedOrResolved(spark, md, dir, Seq(preds))
  }
}
