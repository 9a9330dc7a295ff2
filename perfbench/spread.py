#!/usr/bin/env python3
"""Steadiness evidence: runs the benchmark over many seeds and summarises
each end-to-end metric by its median and quartiles.

Run from the root of a checkout:

    python3 perfbench/spread.py run A --seeds 1-10
    python3 perfbench/spread.py run B --seeds 1-10
    python3 perfbench/spread.py compare A B

`run` keeps every run's full record and a summary.json under
perfbench/results/<set>/. The spread of a metric is the distance between
its first and third quartile (statistics.quantiles(values, n=4)) as a
share of its median; `compare` checks each metric's spread against its
bound in BENCHMARK.json and that the second set's median is not worse than
the first's by more than the bound.
"""
import argparse
import json
import statistics
import subprocess
import sys

import run  # perfbench/run.py, next to this file

BENCH = run.BENCH
ROOT = run.ROOT


def seeds(text):
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def summarise(values):
    q1, med, q3 = statistics.quantiles(values, n=4)
    return {"values": values, "median": med, "q1": q1, "q3": q3,
            "spread": (q3 - q1) / med if med else float("inf")}


def run_set(name, seed_list, workloads, spec):
    out = BENCH / "results" / name
    out.mkdir(parents=True, exist_ok=True)
    summary = {}
    for w in workloads:
        metrics = {}
        for s in seed_list:
            cmd = [sys.executable, str(BENCH / "run.py"), "--workload", w,
                   "--seed", str(s), "--seconds", str(spec["run_seconds"]),
                   "--trace", "0"]
            p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
            if p.returncode != 0:
                sys.exit(f"{w} seed {s} failed:\n{p.stderr[-2000:]}")
            last = json.loads(p.stdout.strip().splitlines()[-1])
            if not last["correct"] or last["failed"]:
                sys.exit(f"{w} seed {s}: incorrect output\n{p.stdout[-2000:]}")
            rec = run.work_dir() / "results" / f"{w}_seed{s}_trace0.json"
            (out / rec.name).write_text(rec.read_text())
            for k, m in last["metrics"].items():
                metrics.setdefault(k, []).append(m["value"])
            print(f"{name} {w} seed {s}: " + " ".join(
                f"{k}={m['value']:.4g}" for k, m in last["metrics"].items()),
                flush=True)
        summary[w] = {k: summarise(v) for k, v in metrics.items()}
    (out / "summary.json").write_text(json.dumps(summary, indent=1))
    report(summary, spec)


def report(summary, spec):
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    for w, ms in summary.items():
        for k, s in ms.items():
            flag = "" if s["spread"] <= bounds[k] / 3 else \
                "  <-- above a third of the bound"
            print(f"{w:10s} {k:14s} median {s['median']:10.4f}  q1 "
                  f"{s['q1']:10.4f}  q3 {s['q3']:10.4f}  spread "
                  f"{s['spread']:.3f} (bound {bounds[k]}){flag}")


def compare(a, b, spec):
    sa = json.loads((BENCH / "results" / a / "summary.json").read_text())
    sb = json.loads((BENCH / "results" / b / "summary.json").read_text())
    ok = True
    for m in spec["end_to_end"]:
        k, bound = m["name"], m["bound"]
        for w in sa:
            x, y = sa[w][k], sb[w][k]
            worse = (y["median"] - x["median"]) / x["median"]
            if m["better"] == "higher":
                worse = -worse
            spread_ok = max(x["spread"], y["spread"]) <= bound
            good = spread_ok and worse <= bound
            ok &= good
            print(f"{w:10s} {k:14s} {a} {x['median']:.4f} {b} "
                  f"{y['median']:.4f} change {worse:+.3f} spreads "
                  f"{x['spread']:.3f}/{y['spread']:.3f} bound {bound} "
                  f"{'ok' if good else 'FAIL'}")
    return ok


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    sub = ap.add_subparsers(dest="cmd", required=True)
    r = sub.add_parser("run")
    r.add_argument("name")
    r.add_argument("--seeds", default="1-10")
    r.add_argument("--workloads", nargs="*")
    c = sub.add_parser("compare")
    c.add_argument("a")
    c.add_argument("b")
    a = ap.parse_args()
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    if a.cmd == "run":
        run_set(a.name, seeds(a.seeds),
                a.workloads or [w["name"] for w in spec["workloads"]], spec)
    else:
        sys.exit(0 if compare(a.a, a.b, spec) else 1)


if __name__ == "__main__":
    main()
