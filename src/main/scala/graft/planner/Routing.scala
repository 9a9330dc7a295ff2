package graft.planner

/** Venue + canonical routing reasons — ported decision vocabulary of the
  * reference's router (reference `auto_router.py:20-49`). In a
  * single-engine Spark deployment, `Cloud` means "flag for remote/
  * unsupported execution" while `Local` means "execute here"; the gate
  * order and reason strings are kept identical so `explain` output stays
  * comparable (SURVEY.md §7 "Two-engine semantics in a one-engine world").
  */
sealed trait Venue { def name: String }
object Venue {
  case object Local extends Venue { val name = "LOCAL" }
  case object Cloud extends Venue { val name = "CLOUD" }
}

object RoutingReason {
  // Cloud routing reasons
  val UserOverride = "User configured icebreaker_route"
  val InternalSource = "Uses internal/proprietary sources"
  val ExternalSource = "External data source detected"
  val CloudDependency = "Upstream dependency requires cloud"
  val CloudFunction = "Cloud-only SQL function"
  val ToxicTypes = "Contains incompatible data types"
  val Untranspilable = "SQL contains untranspilable syntax"
  val CrashHistory = "Previously crashed local execution"
  val HighComplexity = "Historical runtime exceeds threshold"
  val LargeVolume = "Data volume exceeds local threshold"
  // Local routing reasons
  val UserOverrideLocal = "User configured icebreaker_route='local'"
  val DefaultLocal = "Passed all gates - running locally (free!)"
}

final case class RoutingDecision(
    venue: Venue,
    reason: String,
    gate: Option[String] = None,
    detail: Option[String] = None) {
  def render: String = {
    val g = gate.map(g => s"[$g] ").getOrElse("")
    val d = detail.map(d => s" ($d)").getOrElse("")
    s"${venue.name} - $g$reason$d"
  }
}

/** Router thresholds — reference defaults (`connections.py:75-77`,
  * `traffic.py:30-43`; BASELINE.md). */
final case class PlannerConfig(
    maxLocalSizeGb: Double = 5.0,
    maxLocalSeconds: Double = 600.0,
    maxSpillBytes: Long = 1L << 30,
    crashBlacklistCount: Int = 3)

/** Per-model telemetry snapshot (reference `metadata.py` cloud stats). */
final case class ModelStats(
    avgSeconds: Double,
    avgSpillBytes: Long,
    avgRowsProduced: Long = 0L,
    runCount: Int = 0)

/** Source metadata (reference FIXTURES.md §A.4 source rows). */
final case class SourceMeta(
    name: String,
    format: Option[String] = None, // internal|external|stage|s3|gcs
    iceberg: Boolean = false,
    external: Boolean = false)
