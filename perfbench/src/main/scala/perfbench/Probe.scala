package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd,
  SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

/** Epoch milliseconds with nanosecond resolution. Spark stamps its
  * listener events with `System.currentTimeMillis`; the harness stamps
  * its own spans on the same epoch scale so both nest in one trace. */
object Clock {
  private val originNs = System.nanoTime()
  private val originMs = System.currentTimeMillis().toDouble
  def nowMs: Double = originMs + (System.nanoTime() - originNs) / 1e6
}

/** One traced interval. `parent` is 0 for a root; spans of one operation
  * share `op`. */
final case class Span(id: Long, parent: Long, op: Int, name: String,
    startMs: Double, endMs: Double)

/** In-memory span buffer, written out once when the run ends. */
final class Trace {
  private val buf = mutable.ArrayBuffer[Span]()
  private var next = 0L
  def newId(): Long = synchronized { next += 1; next }
  def add(s: Span): Unit = synchronized { buf += s }
  def spans: Seq[Span] = synchronized(buf.toSeq)
}

object Trace {
  /** Layer of a span: its name up to the first '.' or ':'
    * ("materialize.table" and "op:q_tpch_q3" belong to "materialize" and
    * "op"). */
  def layerOf(name: String): String = name.takeWhile(c => c != '.' && c != ':')

  /** Self time per layer: each span's duration minus the part of its
    * interval covered by its direct children, summed by layer. */
  def selfTimeMs(spans: Seq[Span]): Map[String, Double] = {
    val kids = spans.groupBy(_.parent)
    spans.groupBy(s => layerOf(s.name)).map { case (name, ss) =>
      name -> ss.map { s =>
        val covered = union(kids.getOrElse(s.id, Nil)
          .map(c => (math.max(c.startMs, s.startMs), math.min(c.endMs, s.endMs)))
          .filter(iv => iv._2 > iv._1))
        (s.endMs - s.startMs) - covered
      }.sum
    }
  }

  /** Total length of the union of intervals. */
  def union(ivs: Seq[(Double, Double)]): Double = {
    var total = 0.0
    var cur: (Double, Double) = null
    ivs.sortBy(_._1).foreach { iv =>
      if (cur == null) cur = iv
      else if (iv._1 <= cur._2) cur = (cur._1, math.max(cur._2, iv._2))
      else { total += cur._2 - cur._1; cur = iv }
    }
    if (cur != null) total += cur._2 - cur._1
    total
  }
}

/** Counters read from Spark's public hooks: a `SparkListener` for jobs,
  * stages and tasks, a `QueryExecutionListener` for the planning-tracker
  * phases, plus the codegen and JVM counters. Attached only in traced
  * runs. When `trace` is set it also records sql / job / stage / task
  * spans under the operation span the harness marks as current. */
final class Probe(trace: Trace) extends SparkListener
    with QueryExecutionListener {
  private val c = mutable.Map[String, Double]().withDefaultValue(0.0)
  private def add(k: String, v: Double): Unit = c(k) += v

  @volatile var opId: Int = 0
  @volatile var opSpan: Long = 0L

  private val taskIvs = mutable.ArrayBuffer[(Double, Double)]()
  private val jobSubmit = mutable.Map[Int, Long]()
  private val jobFirstTask = mutable.Map[Int, Long]()
  private val stageJob = mutable.Map[Int, Int]()
  private val sqlSpan = mutable.Map[Long, (Long, Double)]()
  private val jobSpan = mutable.Map[Int, (Long, Long, Double)]()
  private val stageSpan = mutable.Map[(Int, Int), (Long, Long, Double)]()
  private val taskSpan = mutable.Map[Long, (Long, Long, Double)]()

  /** Counter values and the task intervals seen since the last reset. */
  def snapshot(): (Map[String, Double], Seq[(Double, Double)]) = synchronized {
    val m = c.toMap ++ Probe.globals
    (m, taskIvs.toSeq)
  }
  def resetIntervals(): Unit = synchronized(taskIvs.clear())

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    add("exec.jobs", 1)
    jobSubmit(e.jobId) = e.time
    e.stageIds.foreach(s => stageJob.getOrElseUpdate(s, e.jobId))
    val parent = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .flatMap(id => sqlSpan.get(id.toLong)).map(_._1).getOrElse(opSpan)
    jobSpan(e.jobId) = (trace.newId(), parent, e.time.toDouble)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    val start = jobSubmit.remove(e.jobId).getOrElse(e.time)
    add("exec.sched_wait_ms",
      (jobFirstTask.remove(e.jobId).getOrElse(e.time) - start).toDouble)
    jobSpan.remove(e.jobId).foreach { case (id, p, t0) =>
      trace.add(Span(id, p, opId, "job", t0, e.time.toDouble)) }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    synchronized {
      val i = e.stageInfo
      val parent = stageJob.get(i.stageId).flatMap(jobSpan.get).map(_._1)
        .getOrElse(opSpan)
      stageSpan((i.stageId, i.attemptNumber())) = (trace.newId(), parent,
        i.submissionTime.getOrElse(System.currentTimeMillis()).toDouble)
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      val i = e.stageInfo
      add("exec.stages", 1)
      stageSpan.remove((i.stageId, i.attemptNumber())).foreach {
        case (id, p, t0) => trace.add(Span(id, p, opId, "stage", t0,
          i.completionTime.getOrElse(System.currentTimeMillis()).toDouble))
      }
    }

  override def onTaskStart(e: SparkListenerTaskStart): Unit = synchronized {
    stageJob.get(e.stageId).foreach { j =>
      if (!jobFirstTask.contains(j)) jobFirstTask(j) = e.taskInfo.launchTime
    }
    val parent = stageSpan.get((e.stageId, e.stageAttemptId)).map(_._1)
      .getOrElse(opSpan)
    taskSpan(e.taskInfo.taskId) = (trace.newId(), parent,
      e.taskInfo.launchTime.toDouble)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val info = e.taskInfo
    add("exec.tasks", 1)
    taskIvs += ((info.launchTime.toDouble, info.finishTime.toDouble))
    taskSpan.remove(info.taskId).foreach { case (id, p, t0) =>
      trace.add(Span(id, p, opId, "task", t0, info.finishTime.toDouble)) }
    val m = e.taskMetrics
    if (m != null) {
      add("exec.task_run_ms", m.executorRunTime.toDouble)
      add("exec.task_cpu_ms", m.executorCpuTime / 1e6)
      add("exec.gc_ms", m.jvmGCTime.toDouble)
      add("exec.input_mb", m.inputMetrics.bytesRead / 1e6)
      add("exec.shuffle_read_mb", (m.shuffleReadMetrics.remoteBytesRead +
        m.shuffleReadMetrics.localBytesRead) / 1e6)
      add("exec.shuffle_write_mb", m.shuffleWriteMetrics.bytesWritten / 1e6)
      add("exec.spill_mb", m.diskBytesSpilled / 1e6)
      add("warehouse.bytes_written_mb", m.outputMetrics.bytesWritten / 1e6)
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => synchronized {
      sqlSpan(s.executionId) = (trace.newId(), s.time.toDouble)
    }
    case s: SparkListenerSQLExecutionEnd => synchronized {
      sqlSpan.remove(s.executionId).foreach { case (id, t0) =>
        trace.add(Span(id, opSpan, opId, "sql", t0, s.time.toDouble)) }
    }
    case _ =>
  }

  private def phases(qe: QueryExecution): Unit = synchronized {
    val ph = qe.tracker.phases
    Seq("parsing" -> "plan.parse_ms", "analysis" -> "plan.analyze_ms",
      "optimization" -> "plan.optimize_ms", "planning" -> "plan.physical_ms")
      .foreach { case (phase, key) =>
        ph.get(phase).foreach { p =>
          add(key, p.durationMs.toDouble)
          trace.add(Span(trace.newId(), opSpan, opId, key.stripSuffix("_ms"),
            p.startTimeMs.toDouble, p.endTimeMs.toDouble))
        }
      }
  }

  override def onSuccess(funcName: String, qe: QueryExecution,
      durationNs: Long): Unit = phases(qe)
  override def onFailure(funcName: String, qe: QueryExecution,
      exception: Exception): Unit = phases(qe)
}

object Probe {
  /** JVM-wide counters: Janino compiles (`CodegenMetrics`), compile time
    * (`CodeGenerator.compileTime`), JIT and GC time (MXBeans). */
  def globals: Map[String, Double] = Map(
    "codegen.compiles" -> org.apache.spark.metrics.source.CodegenMetrics
      .METRIC_COMPILATION_TIME.getCount.toDouble,
    "codegen.compile_ms" -> org.apache.spark.sql.catalyst.expressions
      .codegen.CodeGenerator.compileTime / 1e6,
    "jvm.jit_ms" ->
      ManagementFactory.getCompilationMXBean.getTotalCompilationTime.toDouble,
    "jvm.gc_ms" -> ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum.toDouble)

  def processCpuS: Double = ManagementFactory.getOperatingSystemMXBean match {
    case os: com.sun.management.OperatingSystemMXBean =>
      os.getProcessCpuTime / 1e9
    case _ => Double.NaN
  }

  /** Heap in use right after a full collection: the live set. Spark's
    * context cleaner releases broadcast and shuffle state only once a
    * collection has found their handles unreachable, so a second
    * collection follows a short pause. */
  def liveHeapMb(): Double = {
    System.gc()
    Thread.sleep(200)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1e6
  }

  def attach(spark: SparkSession, p: Probe): Unit = {
    spark.sparkContext.addSparkListener(p)
    spark.listenerManager.register(p)
  }

  def detach(spark: SparkSession, p: Probe): Unit = {
    spark.sparkContext.removeSparkListener(p)
    spark.listenerManager.unregister(p)
  }
}
