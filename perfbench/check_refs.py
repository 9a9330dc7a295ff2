#!/usr/bin/env python3
"""Validates the stored reference digests against the DuckDB oracle.

Run from the root of a checkout:

    python3 perfbench/check_refs.py

1. `perfbench.CheckRefs names` lists the inventory queries the workloads
   run;
2. `graft.Verify` writes the results of those queries, and of every other
   query with a stored digest, at the benchmark's data scale;
3. `tools/check.py` compares those results with the oracle SQL run by
   DuckDB over the same tables;
4. `perfbench.CheckRefs` digests the same results, compares them with
   perfbench/reference/digests.json, and stores the digests that are
   missing there (a query newly added to a workload).

All must pass: then a digest match in a benchmark run means the result
equals the oracle's.
"""
import json
import os
import shutil
import subprocess
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import run  # noqa: E402


def main():
    work = run.work_dir()
    (work / "logs").mkdir(parents=True, exist_ok=True)
    classes = run.build(work)
    refs = run.BENCH / "reference" / "digests.json"
    data = run.BENCH / "data" / "sf0.01"
    out = work / "oracle"
    shutil.rmtree(out, ignore_errors=True)
    java = (["java", "-cp",
             f"{classes}{os.pathsep}{Path(os.environ['SPARK_HOME']) / 'jars'}/*"]
            + run.java_opens() + run.JVM_FLAGS)
    listed = subprocess.run(java + ["perfbench.CheckRefs", "names"],
                            cwd=run.ROOT, capture_output=True, text=True)
    if listed.returncode != 0:
        sys.exit(listed.stderr[-2000:])
    names = set(listed.stdout.split()[-1].split(","))
    if refs.exists():
        names |= set(json.loads(refs.read_text()))
    steps = [java + ["graft.Verify", str(data), str(out),
                     ",".join(sorted(names))],
             [sys.executable, str(run.ROOT / "tools" / "check.py"), str(data),
              str(out)],
             java + ["perfbench.CheckRefs", str(out), str(refs)]]
    for cmd in steps:
        shown = cmd if len(cmd) <= 5 else cmd[:1] + ["..."] + cmd[-4:]
        print("+", " ".join(shown), flush=True)
        rc = subprocess.run(cmd, cwd=run.ROOT).returncode
        if rc != 0:
            sys.exit(rc)


if __name__ == "__main__":
    main()
