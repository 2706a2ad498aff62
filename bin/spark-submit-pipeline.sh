#!/usr/bin/env bash
# spark-submit entry point for the graft pipeline (north-rule run mode).
#
# Usage:
#   bin/spark-submit-pipeline.sh run --input <pages.parquet> --output <dir> [...]
#                                                 # production pipeline (graft.Main;
#                                                 #  all graft.Main flags pass through)
#   bin/spark-submit-pipeline.sh verify SF OUT    # correctness dump
#
# Cores and driver heap default to the host running it: SPARK_GRAFT_CPUS = nproc, and
# SPARK_DRIVER_MEM = half of MemTotal, clamped to 2g..8g. Set either to
# override.
#
# On a real cluster swap --master local[*] for the cluster master and drop
# nothing else: the code never assumes local mode (all parallelism comes from
# spark.sql.shuffle.partitions / defaultParallelism).
set -euo pipefail

# A missing or unknown mode prints the usage block above.
case "${1:-}" in
  run)    CLASS=graft.Main ;;
  verify) CLASS=graft.Verify ;;
  *) sed -n 's/^# \{0,1\}//; 4,8p' "$0" >&2; exit 2 ;;
esac
shift
cd "$(dirname "$0")/.."

JAR=$(ls target/scala-2.13/duplicatefinderspark_2.13-*.jar 2>/dev/null | head -1 || true)
if [ -z "$JAR" ]; then
  echo "building jar..." >&2
  sbt -batch package > /dev/null
  JAR=$(ls target/scala-2.13/duplicatefinderspark_2.13-*.jar | head -1)
fi

CPUS="${SPARK_GRAFT_CPUS:-$(nproc)}"
MEM="${SPARK_DRIVER_MEM:-$(awk '/^MemTotal:/ {g = int($2 / 2097152)} END {print (g < 2 ? 2 : g > 8 ? 8 : g) "g"}' /proc/meminfo 2>/dev/null || echo 2g)}"

exec /opt/spark/bin/spark-submit \
  --master "local[$CPUS]" \
  --driver-memory "$MEM" \
  --conf spark.sql.shuffle.partitions="$CPUS" \
  --conf spark.sql.adaptive.enabled=true \
  --conf spark.local.dir=/dev/shm/graft-spark-tmp \
  --conf spark.ui.enabled=false \
  --class "$CLASS" \
  "$JAR" "$@"
