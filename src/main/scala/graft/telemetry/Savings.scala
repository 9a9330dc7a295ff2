package graft.telemetry

/** Cost model + savings accounting — port of the reference's savings
  * tracker (reference `savings.py:22-38, 99-171, 232-303`; constants
  * tabulated in BASELINE.md). Pure arithmetic + an in-memory ledger the
  * caller can persist as parquet.
  */
object CostModel {
  /** $/credit by edition (savings.py:22-27). */
  val costPerCredit: Map[String, Double] =
    Map("standard" -> 2.00, "enterprise" -> 3.00, "business_critical" -> 4.00)

  /** credits/hour by warehouse size (savings.py:29-38). */
  val creditsPerHour: Map[String, Double] = Map(
    "xs" -> 1, "s" -> 2, "m" -> 4, "l" -> 8,
    "xl" -> 16, "2xl" -> 32, "3xl" -> 64, "4xl" -> 128)

  /** Minimum billed seconds per query (savings.py:39; README 60s rule). */
  val minBillingSeconds: Double = 60.0

  /** Cloud scan cost estimate, $/TB (connections.py:118). */
  val costPerTbScanned: Double = 5.0

  /** What this query would have cost on the warehouse
    * (savings.py:99-140). */
  def cloudCostUsd(durationSeconds: Double, warehouse: String = "xs",
      edition: String = "standard"): Double = {
    val billed = math.max(durationSeconds, minBillingSeconds)
    val credits = creditsPerHour(warehouse) * billed / 3600.0
    credits * costPerCredit(edition)
  }
}

final case class Execution(
    model: String,
    engine: String, // local | cloud
    durationSeconds: Double,
    savedUsd: Double)

/** The ledger holds its lock on every read and write: models running
  * side by side log their executions as they finish. */
final class SavingsTracker(warehouse: String = "xs",
    edition: String = "standard") {
  private val buf = scala.collection.mutable.ArrayBuffer[Execution]()

  def logExecution(model: String, engine: String,
      durationSeconds: Double): Execution = synchronized {
    val saved =
      if (engine == "local")
        CostModel.cloudCostUsd(durationSeconds, warehouse, edition)
      else 0.0
    val e = Execution(model, engine, durationSeconds, saved)
    buf += e
    e
  }

  def executions: Seq[Execution] = synchronized(buf.toSeq)
  def totalSavedUsd: Double = synchronized(buf.map(_.savedUsd).sum)

  /** Top-N models by savings (savings.py:276-291). */
  def topModels(n: Int = 5): Seq[(String, Double)] = synchronized {
    buf.groupBy(_.model).view.mapValues(_.map(_.savedUsd).sum)
      .toSeq.sortBy { case (m, s) => (-s, m) }.take(n)
  }

  /** Run summary line (run_summary.py analog). */
  def summary: String = synchronized {
    val local = buf.count(_.engine == "local")
    val cloud = buf.count(_.engine == "cloud")
    f"$local local / $cloud cloud runs, $$${totalSavedUsd}%.2f estimated savings"
  }
}
