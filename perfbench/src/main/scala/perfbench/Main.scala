package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

/** A workload: a fixed operation set, run as whole passes. */
trait Workload {
  /** Untimed preparation of a pass's inputs. */
  def prepare(h: Harness, dataDir: String, seed: Long): Unit = ()
  /** Runs one pass over the operation set at `dataDir`, in an order and
    * with inputs drawn from `seed`. */
  def pass(h: Harness, dataDir: String, seed: Long): Unit
  /** Untimed output checks made once the pass is over. */
  def verify(h: Harness, dataDir: String, seed: Long): Unit = ()
  /** Calls made only in traced passes, after the pass's wall and CPU time
    * are taken, to time a layer the operations do not expose on their
    * own. */
  def layerCalls(h: Harness): Unit = ()
  /** Inventory queries the pass runs, each checked against a stored
    * reference digest. */
  def queryNames: Seq[String]
  /** Timed passes per run: every run of a workload has the same number,
    * so its figures do not depend on how many passes fit in the time. */
  def passes: Int
}

/** A fixed list of inventory queries (`SparkEntry.queries`), run in a
  * seeded order, each collected and checked against its reference
  * digest. */
final class Inventory(val names: Seq[String], val passes: Int)
    extends Workload {
  def queryNames: Seq[String] = names

  def pass(h: Harness, dataDir: String, seed: Long): Unit = {
    val all = graft.SparkEntry.queries
    new scala.util.Random(seed).shuffle(names).foreach { n =>
      h.query(n, Inventory.family(n))(all(n)(h.spark, dataDir))
    }
  }

  override def layerCalls(h: Harness): Unit =
    if (names.exists(Inventory.family(_) == "q_sql"))
      Inventory.transpileAndParse(h)
}

object Inventory {
  /** Inventory family of a query name, as the per-family layer figures
    * are keyed. */
  def family(n: String): String =
    if (n.startsWith("q_fn_")) "q_fn"
    else if (n.startsWith("q_sql_")) "q_sql"
    else if (n.startsWith("q_tpch_")) "q_tpch"
    else if (n.startsWith("q_") || n.startsWith("q1_")) "q_core"
    else n.takeWhile(_ != '_')

  /** The SQL text front end over the SQL corpus texts: the
    * Snowflake-to-Spark transpiler, then Spark's SQL parser on its output.
    * The q_sql operations go through both, but their final action's
    * planning tracker has no parsing phase (the transpiled statement is
    * parsed into a DataFrame that later steps wrap), so parsing is timed
    * here. Spark's parser has no QUALIFY, which the engine splits off
    * before it parses, so the QUALIFY texts are left out of the parse. */
  def transpileAndParse(h: Harness): Unit = {
    val texts = graft.queries.SqlCorpus.cases.map(_.sf)
    val spark = h.spark
    val out = h.timed("transpile", "transpile.ms") {
      texts.map(graft.transpile.SnowflakeSql.transpile(_))
    }
    h.layer("transpile.calls", texts.size)
    val parsed = out.filterNot(_.toUpperCase.contains("QUALIFY"))
    h.timed("plan.parse", "plan.parse_ms") {
      parsed.foreach(spark.sessionState.sqlParser.parsePlan)
    }
    h.layer("plan.parse_calls", parsed.size)
  }
}

object Main {
  val workloads: Map[String, () => Workload] = Map(
    // The read path: SQL inventory queries, where per-query fixed cost
    // dominates at this scale, next to LLM-curation operator queries,
    // where operator kernels and executor tasks dominate. At most one per
    // family, each near its family's median latency: every distinct query
    // pays a cold compile in the untimed warm-up, which bounds the set.
    // An odd count keeps the median on one operation's samples rather
    // than between two operations of different latency.
    "query_mix" -> (() => new Inventory(Seq(
      "q_window_dedup", "q_fn_object_json", "q_sql_qualify", "q_tpch_q3",
      "e_sessionize", "d_decontaminate", "t_tokenize_ids", "s_ann_lsh",
      "p_curation_pipeline"), passes = 2)),
    "model_dag" -> (() => new ModelDag()))

  /** Every inventory query the workloads run: the set the reference
    * digests must cover. */
  def referenceNames: Seq[String] =
    workloads.values.toSeq.flatMap(_().queryNames).distinct.sorted

  final case class Args(workload: String, seed: Long, seconds: Double,
      trace: Boolean, dataDir: String, workDir: String,
      out: String, refs: String)

  def parse(args: Array[String]): Args = {
    val m = args.grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toDouble,
      m("trace") == "1", m("data"), m("work"), m("out"), m("refs"))
  }

  def session(a: Args): SparkSession = {
    val cpus = Runtime.getRuntime.availableProcessors()
    val s = graft.EngineDefaults.tune(SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum",
        graft.EngineDefaults.initialPartitionNum(cpus, cpus).toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${a.workDir}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a.workDir}/spark-warehouse"))
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else {
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
    val wl = workloads(a.workload)()
    val refs = mapper.readValue(Paths.get(a.refs).toFile,
      classOf[Map[String, String]])
    val trace = new Trace

    // Set-up, timed from process start: session build plus one untimed
    // warm-up pass of the workload's own operations (own seed), at the
    // timed scale so that the JIT has also seen the timed data volumes.
    // Warm-up outputs are checked like timed ones.
    val h = new Harness(session(a), a.workDir, trace, refs)
    h.newPass(-1)
    val warmSeed = a.seed * 7919 + 1000
    wl.prepare(h, a.dataDir, warmSeed)
    wl.pass(h, a.dataDir, warmSeed)
    wl.verify(h, a.dataDir, warmSeed)
    val warmOps = h.ops.toSeq
    h.ops.clear()
    h.spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
    val setupS = (Clock.nowMs -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    // The warm-up compiles every generated class the timed passes use, so
    // codegen (and most JIT) work shows in set-up: these JVM-wide counters
    // from process start to here are the set-up's per-layer figures.
    val setupLayer = Probe.globals.map { case (k, v) =>
      k.replaceFirst("\\.", ".setup_") -> v }

    // Timed phase: the workload's passes, and more whole passes while the
    // time is not reached. A traced run alternates untraced and traced
    // passes, at least untraced-traced-untraced, so the tracing overhead
    // is measured in-run against more than one untraced pass.
    val passes = mutable.ArrayBuffer[PassRec]()
    val tStart = Clock.nowMs
    var p = 0
    while (p < wl.passes || (Clock.nowMs - tStart) / 1e3 < a.seconds ||
        (a.trace && p < 3)) {
      val tracedPass = a.trace && p % 2 == 1
      h.newPass(p)
      val n0 = h.ops.size
      val seed = a.seed * 7919 + p
      wl.prepare(h, a.dataDir, seed)
      h.setTraced(tracedPass)
      val cpu0 = Probe.processCpuS
      val g0 = if (tracedPass) Probe.globals else Map.empty[String, Double]
      val w0 = Clock.nowMs
      wl.pass(h, a.dataDir, seed)
      val wall = (Clock.nowMs - w0) / 1e3
      val cpu = Probe.processCpuS - cpu0
      val g1 = if (tracedPass) Probe.globals else Map.empty[String, Double]
      if (tracedPass) wl.layerCalls(h)
      h.setTraced(false)
      wl.verify(h, a.dataDir, seed)
      val heap = Probe.liveHeapMb()
      passes += PassRec(p, tracedPass, wall, cpu, heap, h.ops.size - n0,
        h.passLayer.toMap ++ g1.map { case (k, v) => k -> (v - g0(k)) })
      p += 1
    }
    val timedWall = (Clock.nowMs - tStart) / 1e3
    val timedOps = h.ops.toSeq
    val spark = h.spark
    val conf = Seq("spark.master", "spark.sql.shuffle.partitions",
      "spark.sql.adaptive.enabled",
      "spark.sql.adaptive.coalescePartitions.enabled",
      graft.EngineDefaults.MinPartKey,
      "spark.sql.adaptive.coalescePartitions.initialPartitionNum",
      "spark.sql.codegen.cache.maxEntries", "spark.sql.ansi.enabled")
      .map(k => k -> spark.conf.getOption(k).getOrElse("")).toMap
    spark.stop()

    val untraced = passes.filterNot(_.traced).toSeq
    val tracedPasses = passes.filter(_.traced).toSeq
    val okOps = timedOps.filter(_.ok)
    val lat = okOps.map(_.wallS)
    val failed = timedOps.filterNot(_.ok)
    val endToEnd = Map(
      "setup_s" -> (setupS, "s"),
      "wall_s" -> (median(untraced.map(_.wallS)), "s"),
      "op_p50_s" -> (median(lat), "s"),
      "op_p90_s" -> (quantile(lat, 0.9), "s"),
      "cpu_s" -> (median(untraced.map(_.cpuS)), "s"),
      "heap_live_mb" -> (passes.map(_.heapLiveMb).min, "MB"))

    // per-layer figures: per traced pass, averaged over traced passes
    val perLayer: Map[String, Double] = if (!a.trace) Map.empty else {
      val tops = okOps.filter(o => tracedPasses.exists(_.pass == o.pass))
      val n = tracedPasses.size.toDouble
      val sums = mutable.Map[String, Double]().withDefaultValue(0.0)
      tops.foreach(_.layer.foreach { case (k, v) =>
        if (!Probe.globals.contains(k)) sums(k) += v })
      tracedPasses.foreach(_.layer.foreach { case (k, v) => sums(k) += v })
      tops.groupBy(_.family).foreach { case (f, os) =>
        sums(s"family.$f.wall_s") += os.map(_.wallS).sum }
      val spans = trace.spans
      Trace.selfTimeMs(spans).foreach { case (layer, ms) =>
        sums(s"self.${layer}_ms") += ms }
      sums("trace.spans") += spans.size
      val out = sums.map { case (k, v) => k -> v / n }.toMap ++ setupLayer
      val derived = Map(
        "trace.overhead_s" -> (median(tracedPasses.map(_.wallS)) -
          median(untraced.map(_.wallS))),
        "cache.hit_ratio" -> {
          val refsN = out.getOrElse("cache.refs", 0.0)
          if (refsN == 0) 0.0
          else 1.0 - out.getOrElse("cache.fetches", 0.0) / refsN
        })
      out ++ derived
    }

    // each traced operation's self time per layer (operation 0: the
    // layer calls made between operations)
    val opSelf = trace.spans.groupBy(_.op).toSeq.sortBy(_._1).map {
      case (op, ss) => Map("op" -> op,
        "name" -> ss.find(_.name.startsWith("op:")).map(_.name.drop(3))
          .getOrElse("(between operations)"),
        "self_ms" -> Trace.selfTimeMs(ss))
    }
    val cmdline = ManagementFactory.getRuntimeMXBean.getInputArguments.asScala
    val record = Map(
      "workload" -> a.workload, "seed" -> a.seed, "trace" -> a.trace,
      "seconds" -> a.seconds,
      "correct" -> failed.isEmpty, "attempted" -> timedOps.size,
      "failed" -> failed.size,
      "failed_frac" -> failed.size.toDouble / math.max(1, timedOps.size),
      "failures" -> failed.map(o => Map("op" -> o.name, "error" -> o.error)),
      "end_to_end" -> endToEnd.map { case (k, (v, u)) =>
        k -> Map("value" -> v, "unit" -> u) },
      "per_layer" -> perLayer,
      "op_self_ms" -> opSelf,
      "setup_layer" -> setupLayer,
      "samples" -> Map("op_latency" -> lat.size,
        "passes" -> untraced.size, "traced_passes" -> tracedPasses.size),
      "timed_wall_s" -> timedWall,
      "warm_up" -> Map("ran" -> warmOps.nonEmpty, "ops" -> warmOps.size,
        "failed" -> warmOps.count(!_.ok),
        "op_wall_s" -> warmOps.map(o => Map("name" -> o.name, "wall_s" -> o.wallS))),
      "env" -> Map("nproc" -> Runtime.getRuntime.availableProcessors(),
        "jvm_flags" -> cmdline.toSeq,
        "java_version" -> System.getProperty("java.version"),
        "spark_version" -> org.apache.spark.SPARK_VERSION,
        "spark_conf" -> conf),
      "passes" -> passes.map(p => Map("pass" -> p.pass, "traced" -> p.traced,
        "wall_s" -> p.wallS, "cpu_s" -> p.cpuS, "heap_live_mb" -> p.heapLiveMb,
        "ops" -> p.ops)).toSeq,
      "ops" -> timedOps.map(o => Map("pass" -> o.pass, "op" -> o.op,
        "name" -> o.name, "family" -> o.family, "wall_s" -> o.wallS,
        "ok" -> o.ok) ++ (if (o.layer.isEmpty) Map() else Map("layer" -> o.layer))))
    Files.createDirectories(Paths.get(a.out).getParent)
    mapper.writeValue(Paths.get(a.out).toFile, record)
    if (a.trace) writeSpans(Paths.get(a.out + ".spans.jsonl"), trace.spans)
  }

  def writeSpans(path: java.nio.file.Path, spans: Seq[Span]): Unit = {
    val w = Files.newBufferedWriter(path)
    try spans.sortBy(_.id).foreach { s =>
      w.write(f"""{"id":${s.id},"parent":${s.parent},"op":${s.op},"name":"${s.name}","start_ms":${s.startMs}%.3f,"end_ms":${s.endMs}%.3f}""")
      w.newLine()
    } finally w.close()
  }
}
