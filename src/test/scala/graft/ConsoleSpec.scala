package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.telemetry.{Console, DownloadTracker, ModelRun, Verbosity}

/** Console behavior — mirrors the reference's verbosity table
  * (reference console.py:44-54), message gating (console.py:229-256),
  * progress-bar fill semantics (console.py:289-302), the thread-safe
  * download tracker (console.py:162-202), and the run-summary block
  * (run_summary.py:165-225). */
class ConsoleSpec extends AnyFunSuite {

  private def captured(verbosity: Int): (Console, () => Seq[String]) = {
    val buf = scala.collection.mutable.ArrayBuffer[String]()
    (new Console(verbosity, line => buf.synchronized(buf += line)),
      () => buf.toSeq)
  }

  test("verbosity parses the reference's env table, default normal") {
    assert(Verbosity.parse(Some("quiet")) == Verbosity.Quiet)
    assert(Verbosity.parse(Some("0")) == Verbosity.Quiet)
    assert(Verbosity.parse(Some("normal")) == Verbosity.Normal)
    assert(Verbosity.parse(Some("1")) == Verbosity.Normal)
    assert(Verbosity.parse(Some("VERBOSE ")) == Verbosity.Verbose)
    assert(Verbosity.parse(Some("2")) == Verbosity.Verbose)
    assert(Verbosity.parse(Some("bogus")) == Verbosity.Normal)
    assert(Verbosity.parse(None) == Verbosity.Normal)
  }

  test("message classes gate by verbosity; errors always show") {
    def fire(c: Console): Unit = {
      c.info("i"); c.success("s"); c.warn("w"); c.error("e")
      c.step("st"); c.debug("d")
    }
    val (quiet, quietOut) = captured(Verbosity.Quiet)
    fire(quiet)
    assert(quietOut() == Seq("  x e"))
    val (normal, normalOut) = captured(Verbosity.Normal)
    fire(normal)
    assert(normalOut() == Seq("  i", "  + s", "  ! w", "  x e"))
    val (verbose, verboseOut) = captured(Verbosity.Verbose)
    fire(verbose)
    assert(verboseOut() ==
      Seq("  i", "  + s", "  ! w", "  x e", "  > st", "  d"))
    assert(verbose.isVerbose && !verbose.isQuiet)
    assert(quiet.isQuiet && !quiet.isVerbose)
  }

  test("progress bar fill matches the reference semantics") {
    assert(Console.progressBar(0, 0) == s"[${"." * 20}]   0%")
    assert(Console.progressBar(2, 5, width = 10) == "[####......]  40%")
    assert(Console.progressBar(5, 5, width = 4) == "[####] 100%")
    // over-delivery clamps at 100% (console.py:298 min())
    assert(Console.progressBar(7, 5, width = 4) == "[####] 100%")
  }

  test("download tracker counts concurrent starts and finishes") {
    val tracker = new DownloadTracker
    val threads = (1 to 16).map { i =>
      new Thread(() => {
        tracker.start(s"src_$i")
        tracker.finish(s"src_$i")
      })
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    assert(tracker.summary == "16/16 sources")
    assert(tracker.inFlight.isEmpty)
    tracker.start("late")
    assert(tracker.summary == "16/17 sources")
    assert(tracker.inFlight == Seq("late"))
    tracker.reset()
    assert(tracker.summary == "0/0 sources")
  }

  test("panel and table render aligned plain text") {
    val p = Console.panelText("line one\nlonger line two", "Title")
    val lines = p.split("\n")
    assert(lines.head.startsWith("+- Title "))
    assert(lines.forall(_.length == lines.head.length))
    assert(p.contains("| line one"))
    val t = Console.tableText("Caption", Seq("name", "n"),
      Seq(Seq("alpha", "1"), Seq("b", "22")))
    assert(t.split("\n").toSeq == Seq(
      "Caption", "name   n", "-----  --", "alpha  1", "b      22"))
  }

  test("run summary block: counts, breakdown order, error truncation") {
    val ok = (1 to 3).map(i =>
      ModelRun(s"m$i", "local", 2.0, 10, "success", ""))
    val routed = Seq(
      ModelRun("c1", "cloud", 1.0, 5, "success", "COMPLEXITY"),
      ModelRun("c2", "cloud", 1.0, 5, "success", "COMPLEXITY"))
    val errs = (1 to 7).map(i =>
      ModelRun(s"bad$i", "local", 0.0, 0, "error", "oom"))
    val out = Console.formatRunSummary(ok ++ routed ++ errs, 3.0)
    assert(out.contains("GRAFT RUN SUMMARY"))
    assert(out.contains("Models: 12 total"))
    assert(out.contains("Local (FREE):  10 (83%)"))
    assert(out.contains("Cloud:         2"))
    assert(out.contains("Succeeded:     5"))
    assert(out.contains("Failed:        7"))
    // savings: only successful local runs (3 × 2 s), not cloud or errors
    val expected = graft.telemetry.CostModel.cloudCostUsd(2.0) * 3
    assert(out.contains(f"Estimated Savings: $$$expected%.2f"))
    // models that overlapped: 8 s of model time in a 3 s run
    assert(out.contains("Total Duration:    8.0s (summed over models)"))
    assert(out.contains("Run Wall Time:     3.0s"))
    // breakdown sorted by -count: 7×oom, then 3×direct, then 2×COMPLEXITY
    val bIdx = out.indexOf("Routing Breakdown:")
    assert(bIdx >= 0)
    val after = out.substring(bIdx)
    assert(after.indexOf("oom: 7") < after.indexOf("direct: 3"))
    assert(after.indexOf("direct: 3") < after.indexOf("COMPLEXITY: 2"))
    // errors: first five, then the "and N more" line (run_summary.py:214-217)
    assert(out.contains("- bad5: oom"))
    assert(!out.contains("- bad6: oom"))
    assert(out.contains("... and 2 more"))
    // no Failed/Errors lines when everything succeeds
    val clean = Console.formatRunSummary(ok, 6.0)
    assert(!clean.contains("Failed:") && !clean.contains("Errors:"))
  }
}
