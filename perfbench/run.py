#!/usr/bin/env python3
"""Layered benchmark for the graft engine.

Run from the root of a source checkout:

    python3 perfbench/run.py --workload query_mix --seed 1 --seconds 10 --trace 0

It builds the engine together with the harness in perfbench/src (once per
source state), runs one workload in a fresh JVM, checks every output, and
prints every metric by name and unit. The last line of standard output is
one JSON object: {"correct", "attempted", "failed", "metrics"}. With
--trace 0 the metrics are the end-to-end metrics of BENCHMARK.json; with
--trace 1 they are its per-layer metrics, and the run also writes its
spans. The full self-describing record of each run is written under the
build directory (.bench_build/results/).
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = Path.cwd()
WORKLOADS = ("query_mix", "model_dag")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 700
HEAP = "4g"
# JVM flags of the engine's own launchers: the engine pins the locale and
# UTC, and reserves 512 MB of JIT code cache for many-query sessions.
JVM_FLAGS = [f"-Xmx{HEAP}", "-XX:ReservedCodeCacheSize=512m",
             "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
             "-Duser.language=en", "-Duser.country=US"]


def java_opens():
    """The JDK 17 module opens Spark needs, from the list the engine's own
    build and launcher read (blank lines and '#' comments skipped)."""
    path = ROOT / "tools" / "jdk17-add-opens.txt"
    if not path.is_file():
        fail(f"{path.relative_to(ROOT)} not found; run from the root of a "
             "graft checkout", 2)
    lines = (ln.strip() for ln in path.read_text().splitlines())
    return [x for ln in lines if ln and not ln.startswith("#")
            for x in ("--add-opens", f"{ln}=ALL-UNNAMED")]


def work_dir():
    return ROOT / os.environ.get("CARGO_TARGET_DIR", ".bench_build")


def fail(msg, code):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def spec():
    return json.loads((ROOT / "BENCHMARK.json").read_text())


def fingerprint():
    h = hashlib.sha256()
    files = [BENCH / "build.sbt", BENCH / "project" / "build.properties"]
    for d in (ROOT / "src" / "main" / "scala", BENCH / "src"):
        files += sorted(p for p in d.rglob("*") if p.is_file())
    for p in files:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def run_child(cmd, log, timeout, cwd, env):
    """Runs cmd in its own process group, output to log; kills the whole
    group on timeout and always waits for it to end."""
    with open(log, "w") as out:
        proc = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=out,
                                stderr=subprocess.STDOUT,
                                start_new_session=True)
        try:
            return proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            return None
        finally:
            if proc.poll() is None:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()


def tail(log, n=30):
    return "\n".join(Path(log).read_text(errors="replace").splitlines()[-n:])


def build(work):
    stamp = work / "build.stamp"
    fp = fingerprint()
    classes = BENCH / "target" / "scala-2.13" / "classes"
    if stamp.exists() and stamp.read_text() == fp and classes.is_dir():
        return classes
    if shutil.which("sbt") is None:
        fail("sbt not found on PATH", 3)
    env = dict(os.environ, COURSIER_MODE="offline")
    if "SBT_OPTS" not in env:
        repos = Path.home() / ".sbt" / "repositories"
        env["SBT_OPTS"] = ("-Dsbt.offline=true -Xmx2g" + (
            f" -Dsbt.override.build.repos=true -Dsbt.repository.config={repos}"
            if repos.exists() else ""))
    log = work / "logs" / "build.log"
    t0 = time.time()
    rc = run_child(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"],
                   log, BUILD_TIMEOUT_S, BENCH, env)
    if rc != 0:
        fail(f"build failed (exit {rc}):\n{tail(log)}", 3)
    stamp.write_text(fp)
    print(f"perfbench: built in {time.time() - t0:.1f} s", file=sys.stderr)
    return classes


def git_commit():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                              capture_output=True, text=True,
                              timeout=10).stdout.strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if a.workload not in WORKLOADS:
        fail(f"unknown workload {a.workload!r}; one of {WORKLOADS}", 2)
    if not (ROOT / "BENCHMARK.json").is_file():
        fail("run from the root of a checkout (BENCHMARK.json not found)", 2)
    if not (ROOT / "src" / "main" / "scala" / "graft").is_dir():
        fail("engine sources (src/main/scala/graft) not found; run from the "
             "root of a graft checkout", 2)
    spark_home = os.environ.get("SPARK_HOME")
    if not spark_home or not (Path(spark_home) / "jars").is_dir():
        fail("SPARK_HOME must point at a Spark installation", 2)
    s = spec()

    opens = java_opens()
    work = work_dir()
    for d in ("logs", "results"):
        (work / d).mkdir(parents=True, exist_ok=True)
    classes = build(work)
    run_dir = work / "run"
    shutil.rmtree(run_dir, ignore_errors=True)
    (run_dir / "tmp").mkdir(parents=True)

    tag = f"{a.workload}_seed{a.seed}_trace{a.trace}"
    out = work / "results" / f"{tag}.json"
    out.unlink(missing_ok=True)
    refs = BENCH / "reference" / "digests.json"
    cmd = (["java", "-cp", f"{classes}{os.pathsep}{Path(spark_home) / 'jars'}/*"]
           + opens + JVM_FLAGS + [f"-Djava.io.tmpdir={run_dir / 'tmp'}",
                          "perfbench.Main",
                          "--workload", a.workload, "--seed", str(a.seed),
                          "--seconds", str(a.seconds), "--trace", str(a.trace),
                          "--data", str(BENCH / "data" / "sf0.01"),
                          "--work", str(run_dir), "--out", str(out),
                          "--refs", str(refs)])
    env = dict(os.environ, SPARK_LOCAL_DIRS=str(run_dir / "spark-local"))
    log = work / "logs" / f"{tag}.log"
    rc = run_child(cmd, log, RUN_TIMEOUT_S, run_dir, env)
    shutil.rmtree(run_dir, ignore_errors=True)
    if rc != 0 or not out.exists():
        fail(f"run failed (exit {rc}), log {log}:\n{tail(log)}", 4)

    rec = json.loads(out.read_text())
    rec["git_commit"] = git_commit()
    rec["spark_master"] = rec["env"]["spark_conf"].get("spark.master")
    # paths in the record relative to the checkout, wherever it lives
    out.write_text(json.dumps(rec, indent=1, sort_keys=True)
                   .replace(f"{ROOT}{os.sep}", ""))

    if a.trace:
        layer = rec["per_layer"]
        metrics = {m["name"]: {"value": layer.get(m["name"], 0.0),
                               "unit": m["unit"]} for m in s["per_layer"]}
    else:
        e2e = rec["end_to_end"]
        metrics = {m["name"]: {"value": e2e[m["name"]]["value"],
                               "unit": m["unit"]} for m in s["end_to_end"]}
    warm = rec["warm_up"]
    print(f"workload {a.workload} seed {a.seed} trace {a.trace}: "
          f"{rec['attempted']} ops ({rec['samples']['op_latency']} timed ok), "
          f"{rec['failed']} failed, {rec['samples']['passes']} untraced + "
          f"{rec['samples']['traced_passes']} traced passes, warm-up "
          f"{warm['ops']} ops / {warm['failed']} failed; record {out}")
    for f in rec["failures"][:20]:
        print(f"  FAILED {f['op']}: {f['error']}")
    for k, m in metrics.items():
        print(f"  {k:32s} {m['value']:14.4f} {m['unit']}")
    correct = bool(rec["correct"]) and warm["failed"] == 0
    print(json.dumps({"correct": correct, "attempted": rec["attempted"],
                      "failed": rec["failed"],
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
