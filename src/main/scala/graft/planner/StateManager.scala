package graft.planner

import java.nio.file.{Files, Paths, StandardCopyOption}

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

/** Write-ahead crash ledger — port of the reference's `StateManager`
  * (reference `state.py:85-177`): mark `running` before local execution,
  * `success` after; a dangling `running` entry found by a *new* manager
  * instance means the previous process died mid-query ⇒ recorded as a
  * crash; `crashBlacklistCount` crashes blacklist the model.
  *
  * Persisted as JSON next to the warehouse (Jackson ships with Spark).
  * Every read and write holds the manager's lock: models running side
  * by side mark their own entries, and each mark rewrites the one
  * `state.json.tmp` before its rename.
  */
final class StateManager(path: String,
    config: PlannerConfig = PlannerConfig()) {

  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)

  private var running = Map[String, Long]() // modelId -> startedAt millis
  private var crashes = Map[String, Int]()
  private var successes = Map[String, Int]()
  private var localRuns: Long = 0
  private var cloudRuns: Long = 0

  load()

  private def load(): Unit = {
    val p = Paths.get(path)
    if (Files.exists(p)) {
      val root = mapper.readTree(Files.readString(p))
      def toMapInt(field: String): Map[String, Int] = {
        val n = root.path(field)
        val it = n.fieldNames()
        var m = Map[String, Int]()
        while (it.hasNext) { val k = it.next(); m += k -> n.path(k).asInt() }
        m
      }
      // any `running` entry from a previous process is a crash
      // (state.py:126-151)
      val danglingNode = root.path("running")
      val danglingIt = danglingNode.fieldNames()
      crashes = toMapInt("crashes")
      while (danglingIt.hasNext) {
        val id = danglingIt.next()
        crashes += id -> (crashes.getOrElse(id, 0) + 1)
      }
      successes = toMapInt("successes")
      localRuns = root.path("local_runs").asLong()
      cloudRuns = root.path("cloud_runs").asLong()
      if (danglingNode.fieldNames().hasNext) persist() // record the crash
    }
  }

  private def persist(): Unit = synchronized {
    val obj = Map(
      "running" -> running,
      "crashes" -> crashes,
      "successes" -> successes,
      "local_runs" -> localRuns,
      "cloud_runs" -> cloudRuns)
    val tmp = Paths.get(path + ".tmp")
    Files.createDirectories(tmp.getParent)
    Files.writeString(tmp, mapper.writeValueAsString(obj))
    Files.move(tmp, Paths.get(path), StandardCopyOption.REPLACE_EXISTING,
      StandardCopyOption.ATOMIC_MOVE)
  }

  def markRunning(modelId: String): Unit = synchronized {
    running += modelId -> System.currentTimeMillis()
    persist()
  }

  def markSuccess(modelId: String,
      venue: Venue = Venue.Local): Unit = synchronized {
    running -= modelId
    successes += modelId -> (successes.getOrElse(modelId, 0) + 1)
    if (venue == Venue.Local) localRuns += 1 else cloudRuns += 1
    persist()
  }

  def markCrash(modelId: String): Unit = synchronized {
    running -= modelId
    crashes += modelId -> (crashes.getOrElse(modelId, 0) + 1)
    persist()
  }

  def crashCount(modelId: String): Int =
    synchronized(crashes.getOrElse(modelId, 0))

  def isBlacklisted(modelId: String): Boolean =
    crashCount(modelId) >= config.crashBlacklistCount

  /** Savings share: fraction of runs kept local (state.py savings test). */
  def localSharePct: Double = synchronized {
    if (localRuns + cloudRuns == 0) 0.0
    else 100.0 * localRuns / (localRuns + cloudRuns)
  }
}
