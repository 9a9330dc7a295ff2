#!/usr/bin/env python3
"""Mechanical sentinel-normalized comparison of two bench records, or a
pooled comparison of N parent/change pairs.

Usage: python3 tools/bench_compare.py <A.json> <B.json> [threshold]
       python3 tools/bench_compare.py <A1> <B1> <A2> <B2> ... [threshold]
       python3 tools/bench_compare.py <pairs.json> [threshold]

Host contention has moved identical code ±1.5x between rounds (SURVEY
§8 rounds 5/7), so raw per-query deltas between two BENCH_r*.json are
meaningless until the records are normalized against the machine state
DURING each run. This tool encodes the normalization rule that
previously lived in prose:

  1. Each record's host state is its median `sentinel_sec` (the fixed
     trivial q_scan_project query timed at start/mid/end of the run).
     A sentinel triple with internal spread > 2x marks the record
     itself CONTENDED — its per-query values mix machine states and
     per-query attribution from it is unreliable.
  2. host_factor = median_sentinel(B) / median_sentinel(A). When a
     record predates the sentinel (round <= 7), the factor is
     estimated as the median of per-query ratios over the shared
     inventory instead — robust iff most queries' code did not change
     between the records (stated in the output).
  3. A query's code-attributable movement is (tB/tA) / host_factor.
     Only movements beyond `threshold` (default 1.3x either way) are
     reported; queries present in one record but elided from the
     other's per-query map ("omitted_fast_queries" keeps only the
     slowest entries) are reported as sub-threshold on that side —
     that IS a finding when the query was a multi-second outlier in
     the other record.

Accepts either the raw one-line Bench JSON or the driver's wrapper
record (uses its `parsed` field). NOT part of the shipped library —
developer tooling only.

POOLED MODE (more than one pair). One pair cannot tell a code effect on
a sub-second query from host drift between two runs: the sentinel
instants do not track the host across a whole 189-query run, and a
single pair at sf0.1 on 4 cores flags 9-50 queries either way on code
it does not change. Given N parent/change pairs (A1 B1 A2 B2 ..., or
one record whose `pairs` list holds `parent` and `change` sides), a query
is flagged SLOWER only when B > A within at least 9/10 of the pairs
AND the pooled median ratio, median(all B) / median(all A), exceeds
`threshold`; FASTER is the mirror image. The pairing itself is the
host control, so no sentinel factor is applied. A side's per-query
map is `queries`, else the full stderr map `queries_all` (a dict or
its Python repr).

Check: on the eight pairs of BENCH_one_warm_path.json
  python3 tools/bench_compare.py BENCH_one_warm_path.json
needs 8/8 pairs and flags four queries SLOWER at 1.3x (q_fn_regex
2.01x, dt_accepted_values 1.58x, dt_freshness 1.43x, q_except 1.38x)
and none faster; the per-pair mode flagged 9-50 queries a pair there.

Check: reproduces the round-7 -> round-8 analysis (VERDICT r8):
  python3 tools/bench_compare.py BENCH_r07.json BENCH_r08.json
reports host_factor ~0.7 (estimated, r7 pre-sentinel), t_bpe_apply and
s_ann_lsh/q_fn_convert_tz as the real/host-side movers respectively.
"""
import ast
import json
import math
import statistics
import sys

PAIR_SHARE = 0.9  # pooled mode: a direction must hold in >= 9/10 pairs


def load(path):
    with open(path) as f:
        d = json.load(f)
    if "parsed" in d and isinstance(d["parsed"], dict):
        d = d["parsed"]
    if "queries" not in d and "pairs" not in d:
        sys.exit(f"{path}: no per-query map (not a bench record?)")
    return d


def per_query(rec):
    """A side's per-query seconds: `queries`, else `queries_all` (the
    full stderr map, stored as a dict or as its Python repr)."""
    q = rec.get("queries", rec.get("queries_all"))
    if isinstance(q, str):
        q = ast.literal_eval(q)
    if not isinstance(q, dict):
        sys.exit("a pair side has no per-query map")
    return {k: float(v) for k, v in q.items() if k != "__sentinel"}


def pairs_of(paths):
    """(A, B) record pairs from alternating paths or `pairs` records."""
    out, loose = [], []
    for path in paths:
        d = load(path)
        if "pairs" in d:
            out += [(p["parent"], p["change"]) for p in d["pairs"]]
        else:
            loose.append(d)
    if len(loose) % 2:
        sys.exit("pooled mode needs parent/change records in pairs")
    return out + list(zip(loose[0::2], loose[1::2]))


def pooled(pairs, threshold):
    n = len(pairs)
    need = math.ceil(PAIR_SHARE * n)
    maps = [(per_query(a), per_query(b)) for a, b in pairs]
    shared = sorted(set.intersection(*(set(a) & set(b) for a, b in maps)))
    print(f"pooled: {n} pairs, {len(shared)} queries timed in every run; "
          f"a query is flagged when one direction holds in >= {need}/{n} "
          f"pairs and the pooled median ratio is beyond {threshold}x")
    totals = [(float(a["value"]), float(b["value"])) for a, b in pairs
              if a.get("value") and b.get("value")]
    if totals:
        ta = statistics.median(t for t, _ in totals)
        tb = statistics.median(t for _, t in totals)
        lower = sum(b < a for a, b in totals)
        print(f"totals: median A {ta:.2f}s -> B {tb:.2f}s ({tb / ta:.3f}x), "
              f"B lower in {lower}/{len(totals)} pairs")
    flagged, consistent = [], 0
    for q in shared:
        va = [a[q] for a, _ in maps]
        vb = [b[q] for _, b in maps]
        slower = sum(b[q] > a[q] for a, b in maps)
        faster = sum(b[q] < a[q] for a, b in maps)
        ma, mb = statistics.median(va), statistics.median(vb)
        if ma <= 0:
            continue
        ratio = mb / ma
        if slower >= need or faster >= need:
            consistent += 1
        if slower >= need and ratio > threshold:
            flagged.append((q, "SLOWER", slower, ma, mb, ratio))
        elif faster >= need and ratio < 1 / threshold:
            flagged.append((q, "faster", faster, ma, mb, ratio))
    print(f"{consistent} queries move one way in >= {need}/{n} pairs")
    if not flagged:
        print(f"no query flagged beyond {threshold}x")
    for q, direction, k, ma, mb, ratio in sorted(
            flagged, key=lambda f: -abs(math.log(f[5]))):
        print(f"  {q:28s} {ma:7.3f}s -> {mb:7.3f}s  pooled {ratio:5.2f}x  "
              f"{direction} in {k}/{n} pairs")


def median_sentinel(rec, key="sentinel_sec"):
    s = rec.get(key)
    if not s:
        return None, None
    spread = max(s) / min(s) if min(s) > 0 else float("inf")
    return statistics.median(s), spread


def main():
    args = sys.argv[1:]
    threshold = 1.3
    try:
        threshold = float(args[-1])
        args = args[:-1]
    except (IndexError, ValueError):
        pass
    if not args:
        sys.exit(__doc__)
    if len(args) != 2 or any("pairs" in load(p) for p in args):
        pooled(pairs_of(args), threshold)
        return
    pa, pb = args
    a, b = load(pa), load(pb)
    qa, qb = a["queries"], b["queries"]

    sa, spread_a = median_sentinel(a)
    sb, spread_b = median_sentinel(b)
    for name, spread in ((pa, spread_a), (pb, spread_b)):
        if spread is not None and spread > 2.0:
            print(f"WARNING: {name} sentinel spread {spread:.2f}x > 2x "
                  "- record is CONTENDED; per-query attribution below "
                  "is unreliable")

    shared = sorted(set(qa) & set(qb) - {"__sentinel"})
    if sa is not None and sb is not None:
        host = sb / sa
        host_src = (f"sentinels (A median {sa:.3f}s spread "
                    f"{spread_a:.2f}x, B median {sb:.3f}s spread "
                    f"{spread_b:.2f}x)")
    else:
        if not shared:
            sys.exit("no sentinels and no shared queries - cannot "
                     "normalize")
        host = statistics.median(qb[q] / qa[q] for q in shared
                                 if qa[q] > 0)
        host_src = (f"median per-query ratio over {len(shared)} shared "
                    "queries (a record predates the sentinel; estimate "
                    "assumes most queries' code is unchanged)")
    print(f"host_factor B/A = {host:.3f}  [{host_src}]")

    # Sentinel 2 (round 12+): a fixed PLAN-HEAVY query through the
    # identical measurement path. Sentinel 1's plan is trivial, so it is
    # structurally blind to fixed per-query overhead added inside the
    # timer (round 11's in-timer PlanGuard planning pass slipped past
    # it). If sentinel 2 moves beyond the sentinel-1 host factor, the
    # measurement path itself changed cost — a near-uniform per-query
    # floor shift is harness drift, not engine regression.
    s2a, spread2a = median_sentinel(a, "sentinel2_sec")
    s2b, spread2b = median_sentinel(b, "sentinel2_sec")
    if s2a is not None and s2b is not None and sa is not None \
            and sb is not None:
        overhead = (s2b / s2a) / host
        tag = ("per-query fixed-overhead drift — suspect the harness, "
               "not the engine" if overhead > 1.2 or overhead < 1 / 1.2
               else "measurement path overhead stable")
        print(f"plan-heavy sentinel movement (host-normalized): "
              f"{overhead:.3f}x  [A median {s2a:.3f}s, B median "
              f"{s2b:.3f}s] -> {tag}")
    elif s2a is not None or s2b is not None:
        print("plan-heavy sentinel present on one side only "
              "(pre-round-12 record) - overhead drift not separable")
    print(f"raw totals: A={a.get('value')}s ({len(qa)} mapped, "
          f"{a.get('omitted_fast_queries', 0)} omitted)  "
          f"B={b.get('value')}s ({len(qb)} mapped, "
          f"{b.get('omitted_fast_queries', 0)} omitted)")
    if a.get("value") and b.get("value"):
        adj = b["value"] / a["value"] / host
        print(f"host-normalized total movement: {adj:.3f}x "
              f"({'code-attributable regression' if adj > 1.05 else 'code-attributable improvement' if adj < 0.95 else 'flat'})")

    movers = []
    for q in shared:
        if qa[q] <= 0:
            continue
        adj = qb[q] / qa[q] / host
        if adj > threshold or adj < 1 / threshold:
            movers.append((abs(math.log(adj)), q, qa[q], qb[q], adj))
    movers.sort(reverse=True)
    if movers:
        print(f"\ncode-attributable movers beyond {threshold}x "
              "(host-normalized):")
        for _, q, ta, tb, adj in movers:
            direction = "SLOWER" if adj > 1 else "faster"
            print(f"  {q:28s} {ta:7.2f}s -> {tb:7.2f}s  "
                  f"adj {adj:5.2f}x  {direction}")
    else:
        print(f"\nno per-query movement beyond {threshold}x after "
              "host normalization")

    # one-sided entries: a multi-second outlier in one record that is
    # sub-threshold (elided) in the other is itself a finding
    floor_b = min(qb.values()) if qb else 0.0
    floor_a = min(qa.values()) if qa else 0.0
    only_a = sorted((q for q in qa if q not in qb and q != "__sentinel"),
                    key=lambda q: -qa[q])
    only_b = sorted((q for q in qb if q not in qa and q != "__sentinel"),
                    key=lambda q: -qb[q])
    notable_a = [q for q in only_a if qa[q] > max(2.0, 2 * floor_b)]
    notable_b = [q for q in only_b if qb[q] > max(2.0, 2 * floor_a)]
    if notable_a:
        print("\nin A's map but sub-threshold in B (B elides entries "
              f"faster than ~{floor_b:.2f}s):")
        for q in notable_a:
            print(f"  {q:28s} {qa[q]:7.2f}s -> < {floor_b:.2f}s")
    if notable_b:
        print("\nin B's map but sub-threshold in A (A elides entries "
              f"faster than ~{floor_a:.2f}s):")
        for q in notable_b:
            print(f"  {q:28s} < {floor_a:.2f}s -> {qb[q]:7.2f}s")


if __name__ == "__main__":
    main()
