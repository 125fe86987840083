#!/usr/bin/env bash
# One-command reproduction of the full green state, for a fresh session:
#
#   tools/ci.sh            # compile + all-key Verify + DuckDB oracle sweep
#                          #   at sf0.001 (~2 min)
#   tools/ci.sh --full     # ... plus the entry smoke and the whole
#                          #   scalatest suite (~10 min)
#   tools/ci.sh --sf <dir> # run the sweep against another sf dir
#
# The sweep is the driver's own correctness gate: graft.Verify dumps every
# SparkEntry.queries result to parquet plus oracle_sql.json, and
# tools/check.py replays each oracle in DuckDB 1.0.0 and compares
# row-by-row (columns sorted by name, exact values). Exit code 0 = green.
set -euo pipefail
cd "$(dirname "$0")/.."

SF=/root/testdata/sf0.001
FULL=0
while [[ $# -gt 0 ]]; do
  case "$1" in
    --full) FULL=1; shift ;;
    --sf) SF="$2"; shift 2 ;;
    *) echo "usage: tools/ci.sh [--full] [--sf <dir>]" >&2; exit 2 ;;
  esac
done
OUT=$(mktemp -d /tmp/graft_ci.XXXXXX)

# Same environment as the tier-1 test command: offline sbt, one Spark
# core per host core, and a driver heap capped at half the host's
# memory (2-8 GiB) instead of build.sbt's 16g default.
export COURSIER_MODE=offline
export SBT_OPTS="${SBT_OPTS:--Dsbt.override.build.repos=true -Dsbt.repository.config=/root/.sbt/repositories -Dsbt.offline=true -Xmx4g}"
export SPARK_GRAFT_CPUS="${SPARK_GRAFT_CPUS:-$(env -u OMP_NUM_THREADS nproc)}"
export SPARK_DRIVER_MEM="${SPARK_DRIVER_MEM:-$(awk '/^MemTotal:/ {g = int($2 / 2097152)} END {print (g < 2 ? 2 : g > 8 ? 8 : g) "g"}' /proc/meminfo 2>/dev/null || echo 2g)}"
export SPARK_LOCAL_DIRS="${SPARK_LOCAL_DIRS:-/tmp/spark-local}"

echo "[ci] compile"
sbt -batch compile

echo "[ci] verify: dump all query results + oracles at $SF"
sbt -batch "runMain graft.Verify $SF $OUT"

echo "[ci] oracle sweep: DuckDB compare"
python3 tools/check.py "$SF" "$OUT"

if [[ $FULL -eq 1 ]]; then
  echo "[ci] entry smoke"
  sbt -batch "runMain graft.Smoke" | grep -q "pass=true"
  echo "[ci] scalatest suite"
  sbt -batch test
fi
echo "[ci] GREEN"
