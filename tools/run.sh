#!/usr/bin/env bash
# Dev launcher for graft mains without sbt (avoids the sbt lock so
# long-running GenScale/Bench/Verify legs can overlap a test build).
# Usage: tools/run.sh [-Dspark.key=value ...] <MainClass> [args...]
#   (e.g. graft.GenScale). A -Dspark.* JVM option reaches the session's
#   SparkConf, e.g. -Dspark.cleaner.periodicGC.interval=1min graft.Bench.
# Env: SPARK_DRIVER_MEM (default 8g), SPARK_GRAFT_* inputs pass through.
set -euo pipefail
cd "$(dirname "$0")/.."
# Classpath mirrors build.sbt: unmanagedBase=/opt/spark/jars + the
# compiled classes dir. Module opens come from the shared list also
# read by build.sbt, so the two launchers cannot drift.
CP="target/scala-2.13/classes:/opt/spark/jars/*"
OPENS=""
while read -r p; do
  case "$p" in ''|\#*) continue ;; esac
  OPENS="$OPENS --add-opens $p=ALL-UNNAMED"
done < tools/jdk17-add-opens.txt
exec java -cp "$CP" $OPENS \
  -Xmx"${SPARK_DRIVER_MEM:-8g}" \
  -Duser.language=en -Duser.country=US \
  "$@"
