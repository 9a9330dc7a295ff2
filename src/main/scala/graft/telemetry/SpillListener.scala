package graft.telemetry

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted,
  SparkListenerStageSubmitted, SparkListenerTaskEnd}

/** Per-job-group spill accumulator — the local-engine source for the
  * spill clause of the COMPLEXITY routing gate (the reference harvests
  * `avg_spill_bytes` from the warehouse QUERY_HISTORY, traffic.py:34,
  * 158-391; Spark exposes the same signal as per-task
  * `memoryBytesSpilled`/`diskBytesSpilled`).
  *
  * A stage belongs to the job group its job was submitted under (the
  * `spark.jobGroup.id` local property `onStageSubmitted` carries), and
  * every task's spill is summed under its stage's group. Each model of
  * [[graft.GraftSession.run]] writes under its own group, so spill is
  * attributed to the model that caused it while other models run
  * beside it. Stages outside any job group are not counted.
  */
final class SpillListener extends SparkListener {
  private val groupOfStage = new ConcurrentHashMap[Integer, String]()
  private val spilledByGroup = new ConcurrentHashMap[String, java.lang.Long]()

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    Option(e.properties).flatMap(p =>
      Option(p.getProperty(SpillListener.JobGroupKey)))
      .foreach(groupOfStage.put(e.stageInfo.stageId, _))

  override def onTaskEnd(taskEnd: SparkListenerTaskEnd): Unit = {
    val m = taskEnd.taskMetrics
    val group = groupOfStage.get(taskEnd.stageId)
    if (m != null && group != null) spilledByGroup.merge(group,
      m.memoryBytesSpilled + m.diskBytesSpilled, (a, b) => a + b)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    groupOfStage.remove(e.stageInfo.stageId)

  /** The bytes spilled so far by tasks of `group`'s stages; the group's
    * total is forgotten. Drain the listener bus first: task-end events
    * arrive asynchronously. */
  def takeSpillBytes(group: String): Long =
    Option(spilledByGroup.remove(group)).fold(0L)(_.longValue)
}

object SpillListener {
  /** The local property a job group is set under (`SparkContext`'s own
    * constant is `private[spark]`). */
  val JobGroupKey = "spark.jobGroup.id"

  private val perContext =
    new java.util.WeakHashMap[org.apache.spark.SparkContext, SpillListener]()

  /** One shared listener per SparkContext — sessions come and go (the
    * CLI builds one per command), so per-session registration would
    * accrete listeners on the long-lived context forever. Attribution
    * is by job group, so sessions sharing the context stay apart as
    * long as their group ids differ. */
  def forContext(sc: org.apache.spark.SparkContext): SpillListener =
    perContext.synchronized {
      val existing = perContext.get(sc)
      if (existing != null) existing
      else {
        val l = new SpillListener
        sc.addSparkListener(l)
        perContext.put(sc, l)
        l
      }
    }
}
