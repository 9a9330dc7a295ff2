package graft.telemetry

import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.module.scala.DefaultScalaModule

/** Run-session recorder — port of the reference's run summary
  * (reference `run_summary.py:22-49, 152-163, 227-235`): one session per
  * engine run with per-model results, persisted as an append-only
  * `sessions` ledger (the reference keeps a session history too and the
  * CLI `summary` command reads the last one). The persisted history also
  * feeds [[graft.planner.MetadataHarvester]] — per-model average runtime
  * for the COMPLEXITY routing gate. Clock is injected (no wall-clock
  * reads inside operators — SURVEY.md §7).
  *
  * Models that run side by side record as they finish, so every method
  * holds the recorder's lock. A session's wall time (`finished_at −
  * started_at`) is kept beside its summed model seconds: when models
  * overlap, the sum exceeds the wall.
  */
final case class ModelRun(
    name: String,
    venue: String,
    durationSeconds: Double,
    rows: Long,
    status: String, // success | error
    reason: String = "", // fallback/routing annotation
    spillBytes: Long = 0L) // memory+disk bytes spilled by this model

final class RunSummary(path: String,
    clock: () => Long = () => System.currentTimeMillis()) {

  import RunSummary.{loadSessions, mapper}

  private val startedAt = clock()
  // replace-key for re-persists: two sessions started in the same
  // millisecond must not overwrite each other
  private val sessionId = java.util.UUID.randomUUID().toString
  private val runs = scala.collection.mutable.ArrayBuffer[ModelRun]()
  private var finishedAt = startedAt

  def record(run: ModelRun): Unit = synchronized(runs += run)

  /** Runs recorded so far this session (feeds the end-of-run block). */
  def recorded: Seq[ModelRun] = synchronized(runs.toSeq)

  /** Seconds from the session's start to its last [[persist]]. */
  def wallSeconds: Double = synchronized((finishedAt - startedAt) / 1e3)

  private def sessionObj = Map(
    "session_id" -> sessionId,
    "started_at" -> startedAt,
    "finished_at" -> finishedAt,
    "models" -> runs.map(r => Map(
      "name" -> r.name, "venue" -> r.venue,
      "duration_seconds" -> r.durationSeconds,
      "rows" -> r.rows, "status" -> r.status, "reason" -> r.reason,
      "spill_bytes" -> r.spillBytes)))

  /** Append-or-replace this session in the persisted ledger. */
  def persist(): Unit = synchronized {
    finishedAt = clock()
    val prior = loadSessions(path)
      .filterNot(_.path("session_id").asText("") == sessionId)
    val obj = Map("sessions" -> (prior.map(mapper.convertValue(_,
      classOf[java.util.Map[String, Object]])) :+
      mapper.convertValue(sessionObj, classOf[java.util.Map[String, Object]])))
    val p = Paths.get(path)
    Files.createDirectories(p.getParent)
    val tmp = Paths.get(s"$path.$sessionId.tmp")
    Files.writeString(tmp, mapper.writeValueAsString(obj))
    Files.move(tmp, p, StandardCopyOption.REPLACE_EXISTING)
  }

  /** The closing summary line (run_summary.py render). */
  def render: String = synchronized {
    val ok = runs.count(_.status == "success")
    val failed = runs.length - ok
    val local = runs.count(_.venue == "local")
    val total = runs.map(_.durationSeconds).sum
    f"${runs.length} models ($ok ok, $failed failed), $local local, " +
      f"$total%.1f s total over models in $wallSeconds%.1f s wall, " +
      s"${runs.map(_.rows).sum} rows produced"
  }

  /** Last persisted session's model count (history reader analog). */
  def loadModelCount(): Int =
    loadSessions(path).lastOption
      .map(_.path("models").size()).getOrElse(0)
}

object RunSummary {
  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)

  private def loadSessions(path: String): Seq[JsonNode] = {
    if (!Files.exists(Paths.get(path))) return Nil
    val root = mapper.readTree(Files.readString(Paths.get(path)))
    if (root.has("sessions")) root.path("sessions").elements().asScala.toSeq
    else Seq(root) // legacy single-session file
  }

  /** One persisted `models` entry (the shape `sessionObj` writes). */
  private def decodeRun(m: JsonNode): ModelRun = ModelRun(
    m.path("name").asText(),
    m.path("venue").asText(),
    m.path("duration_seconds").asDouble(),
    m.path("rows").asLong(),
    m.path("status").asText(),
    m.path("reason").asText(""),
    m.path("spill_bytes").asLong(0L))

  private def runsOf(session: JsonNode): Seq[ModelRun] =
    session.path("models").elements().asScala.map(decodeRun).toSeq

  /** All persisted model runs across sessions — the local query-history
    * analog of the reference's warehouse QUERY_HISTORY harvest
    * (metadata.py:109-232). */
  def loadAllRuns(path: String): Seq[ModelRun] =
    loadSessions(path).flatMap(runsOf)

  /** The last persisted session (cli.py `cmd_summary` reads this). */
  def loadLastSession(path: String): Option[(Long, Seq[ModelRun])] =
    loadSessions(path).lastOption
      .map(s => (s.path("started_at").asLong(), runsOf(s)))

  /** The last persisted session's wall seconds, `finished_at −
    * started_at` (0 for a legacy session with no `finished_at`). */
  def loadLastWallSeconds(path: String): Option[Double] =
    loadSessions(path).lastOption.map { s =>
      val start = s.path("started_at").asLong()
      (s.path("finished_at").asLong(start) - start) / 1e3
    }
}
