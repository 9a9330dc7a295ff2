#!/usr/bin/env bash
# End-of-round gate: everything the driver will do to HEAD, run locally
# BEFORE the final commit. Exists because round 9 closed with a compile
# error introduced by a last-minute oracle refactor — the driver's
# Verify/Bench both returned rc=1 and CORRECTNESS_r09.json came out
# empty, making every round-9 artifact claim unreproducible from HEAD.
#
# Run from a CLEAN tree (git stash anything experimental):
#   tools/preclose.sh            # ~8 min: test + full sf0.01 gate + bench smoke
#
# Exit 0 = HEAD would survive the driver. Any nonzero = DO NOT CLOSE.
set -euo pipefail
cd "$(dirname "$0")/.."

echo "== preclose 1/4: clean compile (sbt, exactly what the driver runs)"
sbt -batch compile

echo "== preclose 2/4: full ScalaTest suite"
sbt -batch test

echo "== preclose 3/4: Verify dump at sf0.01 + DuckDB differential"
out=$(mktemp -d /tmp/preclose_verify.XXXX)
sbt -batch "runMain graft.Verify /root/testdata/sf0.01 $out"
python3 tools/check.py /root/testdata/sf0.01 "$out"

echo "== preclose 4/4: Bench contract smoke at sf0.001 (one JSON line, rc=0, no failures)"
# Capture to a file first: under pipefail a Bench crash (or a run that
# emits no metric line) otherwise aborts the gate with zero diagnostics,
# making the most likely failure the hardest to debug.
benchlog=$(mktemp /tmp/preclose_bench.XXXX)
if ! SPARK_GRAFT_SF_DIR=/root/testdata/sf0.001 \
    sbt -batch "runMain graft.Bench" >"$benchlog" 2>&1; then
  echo "FAIL: Bench exited nonzero; log tail:"; tail -40 "$benchlog"; exit 1
fi
line=$(grep '"metric"' "$benchlog" || true)
n=$(printf '%s\n' "$line" | grep -c '"metric"' || true)
if [ "$n" -ne 1 ]; then
  echo "FAIL: expected 1 metric line, got $n; log tail:"
  tail -40 "$benchlog"; exit 1
fi
# a query that throws is listed under failed, not timed: the line must
# parse AND report no failed query and no failed warm execution
if ! python3 -c '
import json, sys
r = json.loads(sys.argv[1])
bad = {k: r[k] for k in ("failed_count", "warm_failed") if r[k] > 0}
if bad:
    sys.exit("FAIL: %s, failed queries: %s" % (bad, r["failed"]))
' "$line"; then
  grep '^\[bench\]' "$benchlog" | tail -20; exit 1
fi
rm -f "$benchlog"

rm -rf "$out"
echo "== preclose: ALL GREEN — safe to close the round at this HEAD"
