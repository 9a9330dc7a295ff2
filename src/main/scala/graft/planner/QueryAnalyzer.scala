package graft.planner

import scala.util.Try

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.{UnresolvedFunction, UnresolvedRelation}
import org.apache.spark.sql.catalyst.expressions.{Expression, WindowExpression}
import org.apache.spark.sql.catalyst.plans.logical._

/** Structural facts about a query, extracted by walking Spark's parsed
  * `LogicalPlan` — replacing the reference's regex detectors
  * (reference `auto_router.py:109-190`, `memory_guard.py:104-152`) with
  * real plan inspection wherever the SQL parses; the reference's regex
  * patterns remain as a fallback for Snowflake-only syntax Spark's parser
  * rejects (stages, COPY INTO).
  */
final case class QueryFacts(
    functions: Set[String],
    relations: Seq[Seq[String]], // multipart names as written
    joinCount: Int,
    windowCount: Int,
    subqueryCount: Int,
    hasCubeOrRollup: Boolean,
    parsed: Boolean,
    externalPatterns: Seq[String]) {

  def threePartRelations: Seq[String] =
    relations.filter(_.length >= 3).map(_.mkString("."))

  /** Complexity classes — exact rules of reference
    * memory_guard.py:112-151: heavy on CUBE/ROLLUP/GROUPING SETS or >3
    * windows; complex on >4 joins or >3 subqueries; medium on any join
    * or window; else simple. */
  def complexityClass: String =
    if (hasCubeOrRollup || windowCount > 3) "heavy"
    else if (joinCount > 4 || subqueryCount > 3) "complex"
    else if (joinCount > 0 || windowCount > 0) "medium"
    else "simple"
}

object QueryAnalyzer {

  /** External-source regexes — ported verbatim from
    * `auto_router.py:109-134` (minus the 3-part-name regex, which the
    * plan walk answers precisely instead of by pattern). */
  private val externalPatterns: Seq[(String, String)] = Seq(
    "stage-path" -> "@[\\w\\.]+/",
    "from-stage" -> "(?i)from\\s+@",
    "s3" -> "s3://[\\w\\-\\.]+/",
    "gcs" -> "gs://[\\w\\-\\.]+/",
    "azure" -> "azure://[\\w\\-\\.]+/",
    "abfss" -> "abfss?://[\\w\\-\\.]+/",
    "http" -> "https?://[\\w\\-\\.]+/",
    "share" -> "(?i)\\bshare\\.",
    "account-usage" -> "(?i)snowflake\\.account_usage",
    "org-usage" -> "(?i)snowflake\\.organization_usage",
    "external-table" -> "(?i)external_table",
    "copy-into" -> "(?i)copy\\s+into")

  /** Cloud-only function markers (`auto_router.py:76-106`). */
  val cloudOnlyFunctions: Set[String] = Set(
    "snowflake.ml", "snowflake.cortex", "cortex.complete",
    "cortex.sentiment", "cortex.summarize", "cortex.translate",
    "cortex.extract_answer", "get_path", "xmlget", "parse_xml",
    "system$stream_has_data", "create stream", "create task",
    "st_asgeojson", "st_geogfromtext", "st_makepolygon", "geography",
    "external_function", "invoke ")

  def analyze(spark: SparkSession, sql: String): QueryFacts = {
    val ext = externalPatterns.collect {
      case (name, p) if p.r.findFirstIn(sql).isDefined => name
    }
    Try(spark.sessionState.sqlParser.parsePlan(sql)).toOption match {
      case None =>
        QueryFacts(extractFunctionsByRegex(sql), Nil, 0, 0, 0,
          hasCubeOrRollup = cubeRegex(sql), parsed = false,
          externalPatterns = ext)
      case Some(plan) =>
        var fns = Set.newBuilder[String]
        var rels = Seq.newBuilder[Seq[String]]
        var joins = 0
        var windows = 0
        var subqueries = 0
        var cube = cubeRegex(sql)
        def walkExpr(e: Expression): Unit = {
          e match {
            case f: UnresolvedFunction =>
              fns += f.nameParts.mkString(".").toLowerCase
            case _: WindowExpression => windows += 1
            case p: org.apache.spark.sql.catalyst.expressions.PlanExpression[_] =>
              subqueries += 1
              p.plan match {
                case lp: LogicalPlan => walk(lp)
                case _ =>
              }
            case _ =>
          }
          e.children.foreach(walkExpr)
        }
        def walk(p: LogicalPlan): Unit = {
          p match {
            case r: UnresolvedRelation => rels += r.multipartIdentifier
            case _: Join => joins += 1
            case a: Aggregate =>
              if (a.groupingExpressions.exists(_.toString.toLowerCase
                .matches(".*(cube|rollup|groupingsets).*"))) cube = true
            case w: UnresolvedWith => // CTE bodies are not in `children`
              subqueries += 1
              w.cteRelations.foreach { case (_, rel, _) => walk(rel) }
            case _ =>
          }
          p.expressions.foreach(walkExpr)
          p.children.foreach(walk)
        }
        walk(plan)
        QueryFacts(fns.result(), rels.result(), joins, windows,
          subqueries, cube, parsed = true, externalPatterns = ext)
    }
  }

  private def cubeRegex(sql: String): Boolean =
    "(?i)\\b(cube|rollup|grouping\\s+sets)\\s*\\(".r
      .findFirstIn(sql).isDefined

  /** Fallback when Spark can't parse (Snowflake-only syntax): word-like
    * call sites. */
  private def extractFunctionsByRegex(sql: String): Set[String] =
    "([A-Za-z_][\\w$\\.]*)\\s*\\(".r.findAllMatchIn(sql)
      .map(_.group(1).toLowerCase).toSet
}
