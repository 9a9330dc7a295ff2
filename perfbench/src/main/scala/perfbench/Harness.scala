package perfbench

import scala.collection.mutable

import org.apache.spark.perfbench.Bus
import org.apache.spark.sql.SparkSession

/** One timed operation: a query or a model materialization. */
final case class OpRec(pass: Int, op: Int, name: String, family: String,
    wallS: Double, ok: Boolean, error: String, layer: Map[String, Double])

/** One pass over a workload's operation set. */
final case class PassRec(pass: Int, traced: Boolean, wallS: Double,
    cpuS: Double, heapLiveMb: Double, ops: Int, layer: Map[String, Double])

/** The closed-loop client: runs one operation at a time, timing each from
  * outside. Between operations it drains the listener bus (untimed) so a
  * traced operation's counter deltas are its own. */
final class Harness(val spark: SparkSession, val workDir: String,
    val trace: Trace, refs: Map[String, String]) {

  private var probe: Option[Probe] = None
  private var opCounter = 0
  val ops = mutable.ArrayBuffer[OpRec]()
  /** Extra per-pass layer figures reported by a workload (planner,
    * materialize, cache, sync, ...), summed into the pass record. */
  val passLayer = mutable.Map[String, Double]().withDefaultValue(0.0)
  var pass = 0

  def traced: Boolean = probe.isDefined

  def setTraced(on: Boolean): Unit = (probe, on) match {
    case (None, true) =>
      val p = new Probe(trace); Probe.attach(spark, p); probe = Some(p)
    case (Some(p), false) =>
      Bus.drain(spark.sparkContext); Probe.detach(spark, p); probe = None
    case _ =>
  }

  /** Adds `v` to a per-pass layer figure. */
  def layer(k: String, v: Double): Unit = passLayer(k) += v

  /** Times `body` and adds its duration to the pass layer figure `key`.
    * When traced it is a span: a child of the running operation, or a root
    * span with operation id 0 when called between operations. */
  def timed[T](spanName: String, key: String)(body: => T): T = {
    val t0 = Clock.nowMs
    val id = trace.newId()
    try body finally {
      val t1 = Clock.nowMs
      layer(key, t1 - t0)
      if (traced) trace.add(Span(id, currentSpan,
        if (currentSpan == 0L) 0 else opCounter, spanName, t0, t1))
    }
  }

  private var currentSpan = 0L

  /** Runs one operation. `body` is timed; `check` runs after the clock
    * stops and returns an error text when the output is wrong. A throw
    * from either fails the operation; a failed operation is recorded and
    * kept out of every latency figure. */
  def op[T](name: String, family: String)(body: => T)(
      check: T => Option[String]): OpRec = {
    opCounter += 1
    val before = probe.map { p =>
      Bus.drain(spark.sparkContext); p.resetIntervals(); p.snapshot()._1
    }
    val spanId = trace.newId()
    currentSpan = spanId
    probe.foreach { p => p.opId = opCounter; p.opSpan = spanId }
    val t0 = Clock.nowMs
    val result = try Right(body) catch { case e: Throwable => Left(e) }
    val t1 = Clock.nowMs
    val layerDelta = probe.map { p =>
      Bus.drain(spark.sparkContext)
      val (after, ivs) = p.snapshot()
      val covered = Trace.union(ivs.map(iv =>
        (math.max(iv._1, t0), math.min(iv._2, t1))).filter(iv => iv._2 > iv._1))
      after.map { case (k, v) => k -> (v - before.get.getOrElse(k, 0.0)) } +
        ("exec.driver_only_ms" -> ((t1 - t0) - covered))
    }.getOrElse(Map.empty)
    if (traced) trace.add(Span(spanId, 0L, opCounter, s"op:$name", t0, t1))
    currentSpan = 0L
    val err = result match {
      case Left(e) => Some(s"threw: ${e.getClass.getSimpleName}: " +
        String.valueOf(e.getMessage).take(300))
      case Right(v) =>
        try check(v) catch { case e: Throwable =>
          Some(s"check threw: ${String.valueOf(e.getMessage).take(300)}") }
    }
    err.foreach(e => System.err.println(s"[perfbench] $name FAILED: $e"))
    // a finished operation's checkpoint blocks are never reused (the
    // iterative operators localCheckpoint loop state, which has no public
    // unpersist); drop them so they do not load later operations
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
    val rec = OpRec(pass, opCounter, name, family, (t1 - t0) / 1e3,
      err.isEmpty, err.getOrElse(""), layerDelta)
    ops += rec
    rec
  }

  /** The usual query operation: build the DataFrame, collect its rows
    * (timed), then compare the result digest with the reference. */
  def query(name: String, family: String)(
      build: => org.apache.spark.sql.DataFrame): OpRec =
    op(name, family) {
      val df = build
      (df.schema, df.collect())
    } { case (schema, rows) => checkDigest(name, Digest.of(schema, rows)) }

  /** Compares a digest with the stored reference for `key`. */
  def checkDigest(key: String, got: String): Option[String] =
    refs.get(key) match {
      case Some(want) if want == got => None
      case Some(want) => Some(s"digest $got != reference $want")
      case None => Some("no reference digest")
    }

  /** Records an operation the caller timed itself (`t0`/`t1` from
    * [[Clock.nowMs]]). */
  def record(name: String, family: String, t0: Double, t1: Double,
      err: Option[String]): OpRec = {
    opCounter += 1
    err.foreach(e => System.err.println(s"[perfbench] $name FAILED: $e"))
    val rec = OpRec(pass, opCounter, name, family, (t1 - t0) / 1e3,
      err.isEmpty, err.getOrElse(""), Map.empty)
    ops += rec
    rec
  }

  /** Marks an already recorded operation as failed (its output check,
    * made later, found a wrong result). */
  def fail(rec: OpRec, err: String): Unit = {
    System.err.println(s"[perfbench] ${rec.name} FAILED: $err")
    val i = ops.lastIndexWhere(_.op == rec.op)
    if (i >= 0) ops(i) = ops(i).copy(ok = false, error = err)
  }

  def newPass(p: Int): Unit = { pass = p; passLayer.clear() }
}
