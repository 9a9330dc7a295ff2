package graft.telemetry

import scala.collection.mutable

/** Styled, verbosity-gated terminal output — port of the reference's
  * console (reference `console.py:39-54` verbosity levels,
  * `console.py:229-256` message classes, `console.py:289-302` progress
  * bar, `console.py:162-202` thread-safe download tracker,
  * `console.py:306-360` panel/table rendering) and the end-of-run
  * summary block (reference `run_summary.py:165-225`).
  *
  * The reference renders through the `rich` library; here rendering is
  * pure-string (box-drawing panels, padded tables) so every surface is
  * unit-testable and works on any terminal. Output goes through an
  * injectable sink under one lock, mirroring the reference's
  * `_safe_print` thread-safety contract (console.py:221-225).
  */
object Verbosity {
  val Quiet = 0 // errors only (the summary block routes through info,
  // so quiet suppresses it — faithful to the reference, whose
  // print_run_summary also renders via console.info, console.py:229-232)
  val Normal = 1 // success, warnings, errors, summary (default)
  val Verbose = 2 // everything including step/debug detail

  /** `ICEBREAKER_VERBOSITY` parse table (console.py:44-54), keyed here
    * by `GRAFT_VERBOSITY`. Unknown values fall back to Normal. */
  def parse(value: Option[String]): Int =
    value.map(_.toLowerCase.trim) match {
      case Some("quiet") | Some("0") => Quiet
      case Some("verbose") | Some("2") => Verbose
      case _ => Normal
    }

  def fromEnv: Int = parse(sys.env.get("GRAFT_VERBOSITY"))
}

/** Thread-safe progress counter for concurrent source ingests —
  * the reference's `DownloadTracker` (console.py:162-202). */
final class DownloadTracker {
  private val lock = new Object
  private var total = 0
  private var done = 0
  private val active = mutable.LinkedHashSet[String]()

  /** Register a source download starting. */
  def start(name: String): Unit = lock.synchronized {
    total += 1
    active += name
  }

  /** Mark a source download complete. Returns (done, total). */
  def finish(name: String): (Int, Int) = lock.synchronized {
    done += 1
    active -= name
    (done, total)
  }

  /** Current progress summary (console.py:192-195). */
  def summary: String = lock.synchronized(s"$done/$total sources")

  def inFlight: Seq[String] = lock.synchronized(active.toSeq)

  /** Reset for a new run. */
  def reset(): Unit = lock.synchronized {
    total = 0
    done = 0
    active.clear()
  }
}

final class Console(
    val verbosity: Int = Verbosity.fromEnv,
    sink: String => Unit = Console.stdoutSink) {

  private val lock = new Object
  private def emit(line: String): Unit = lock.synchronized(sink(line))

  /** Shared per-console ingest progress (console.py:283-285). */
  val downloads = new DownloadTracker

  /** Background/context message (dim in the reference). Normal+. */
  def info(msg: String): Unit =
    if (verbosity >= Verbosity.Normal) emit(s"  $msg")

  /** Completed action. Normal+. */
  def success(msg: String): Unit =
    if (verbosity >= Verbosity.Normal) emit(s"  + $msg")

  /** Non-fatal issue. Normal+ (quiet hides non-errors). */
  def warn(msg: String): Unit =
    if (verbosity >= Verbosity.Normal) emit(s"  ! $msg")

  /** Failure. Always shown (console.py:244-246). */
  def error(msg: String): Unit = emit(s"  x $msg")

  /** In-progress action. Verbose only. */
  def step(msg: String): Unit =
    if (verbosity >= Verbosity.Verbose) emit(s"  > $msg")

  /** Debug-level detail. Verbose only. */
  def debug(msg: String): Unit =
    if (verbosity >= Verbosity.Verbose) emit(s"  $msg")

  /** Bordered panel, always shown (console.py:306-310). */
  def panel(content: String, title: String = ""): Unit =
    emit(Console.panelText(content, title))

  /** Aligned table, always shown (console.py:312-328). */
  def table(title: String, columns: Seq[String],
      rows: Seq[Seq[String]]): Unit =
    emit(Console.tableText(title, columns, rows))

  def isVerbose: Boolean = verbosity >= Verbosity.Verbose
  def isQuiet: Boolean = verbosity <= Verbosity.Quiet
}

object Console {

  private val stdoutSink: String => Unit = line => println(line)

  /** Drop-everything console — the library default, so embedding the
    * engine never writes to stdout unless the caller opts in. */
  val silent: Console = new Console(verbosity = -1, sink = _ => ())

  /** Text progress bar, `[####....]  40%` — exact fill semantics of
    * the reference (console.py:289-302): 0% on empty totals, ratio
    * clamped to 100%, `width` cells of fill granularity. */
  def progressBar(current: Int, total: Int, width: Int = 20): String = {
    if (total <= 0) return s"[${"." * width}]   0%"
    val pct = math.min(current.toDouble / total, 1.0)
    val filled = (width * pct).toInt
    f"[${"#" * filled}${"." * (width - filled)}] ${pct * 100}%3.0f%%"
  }

  /** Bordered panel (rich `Panel` stand-in). */
  def panelText(content: String, title: String = ""): String = {
    val lines = content.split("\n", -1).toSeq
    val inner = math.max(lines.map(_.length).max,
      if (title.isEmpty) 0 else title.length + 2)
    val top =
      if (title.isEmpty) "+" + "-" * (inner + 2) + "+"
      else s"+- $title " + "-" * (inner - title.length - 1) + "+"
    (top +: lines.map(l => s"| ${l.padTo(inner, ' ')} |") :+
      ("+" + "-" * (inner + 2) + "+")).mkString("\n")
  }

  /** Header + padded-column rows (rich `Table` stand-in). */
  def tableText(title: String, columns: Seq[String],
      rows: Seq[Seq[String]]): String = {
    val widths = columns.indices.map { i =>
      (columns(i).length +: rows.map(r => r.lift(i).fold(0)(_.length))).max
    }
    def fmt(cells: Seq[String]) = cells.zipWithIndex
      .map { case (c, i) => c.padTo(widths(i), ' ') }
      .mkString("  ").stripTrailing()
    (Seq(title, fmt(columns), fmt(widths.map("-" * _))) ++ rows.map(fmt))
      .mkString("\n")
  }

  /** The end-of-run block every run prints — faithful to the
    * reference's `format_summary` (run_summary.py:165-225): overview
    * counts with local %, savings + duration, routing breakdown sorted
    * by frequency, first five errors, and the savings-CLI footer.
    * Savings follow the reference's rule (run_summary.py:36-40): only
    * successful local runs count, valued at the estimated cloud cost.
    * The duration line sums the models' own seconds; the wall line is
    * the run's `finished_at − started_at`, which is shorter when models
    * overlap.
    */
  def formatRunSummary(models: Seq[ModelRun], wallSeconds: Double): String = {
    val bar = "=" * 60
    val local = models.count(_.venue == "local")
    val cloud = models.count(_.venue == "cloud")
    val ok = models.count(_.status == "success")
    val failed = models.length - ok
    val localPct = 100.0 * local / math.max(models.length, 1)
    val saved = models
      .filter(m => m.venue == "local" && m.status == "success")
      .map(m => CostModel.cloudCostUsd(m.durationSeconds)).sum
    val duration = models.map(_.durationSeconds).sum

    val overview = Seq(
      s"Models: ${models.length} total",
      f"  Local (FREE):  $local ($localPct%.0f%%)",
      f"  Cloud:         $cloud",
      f"  Succeeded:     $ok") ++
      (if (failed > 0) Seq(f"  Failed:        $failed") else Nil)

    val breakdown = {
      val counts = models.groupBy(m =>
        if (m.reason.nonEmpty) m.reason else "direct")
        .view.mapValues(_.size).toSeq
        .sortBy { case (reason, n) => (-n, reason) }
      if (counts.isEmpty) Nil
      else "Routing Breakdown:" +:
        counts.map { case (reason, n) => s"  $reason: $n" } :+ ""
    }

    val errors = models.filter(_.status != "success")
    val errorBlock =
      if (errors.isEmpty) Nil
      else {
        val shown = errors.take(5).map(m => s"  - ${m.name}: " +
          (if (m.reason.nonEmpty) m.reason else "Unknown error"))
        val more =
          if (errors.length > 5) Seq(s"  ... and ${errors.length - 5} more")
          else Nil
        ("Errors:" +: shown) ++ more :+ ""
      }

    (Seq("", bar, "GRAFT RUN SUMMARY", bar, "") ++
      overview ++ Seq("",
        f"Estimated Savings: $$$saved%.2f",
        f"Total Duration:    $duration%.1fs (summed over models)",
        f"Run Wall Time:     $wallSeconds%.1fs", "") ++
      breakdown ++ errorBlock ++
      Seq(bar, "Run 'graft.Cli savings' for detailed cost analysis", ""))
      .mkString("\n")
  }
}
