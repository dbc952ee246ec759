#!/usr/bin/env bash
# Local mirror of the driver's per-round gates: unit/property tests,
# the benchmark harness's own tests, the sf0.01 DuckDB-oracle
# correctness sweep, and the sf0.1 bench.
# Usage: tools/run_gates.sh [sfdir_correctness] [sfdir_bench]
set -euo pipefail
cd "$(dirname "$0")/.."
SF_CORRECT=${1:-/root/testdata/sf0.01}
SF_BENCH=${2:-/root/testdata/sf0.1}
OUT=$(mktemp -d /tmp/graft_gates.XXXX)

echo "== 1/5 sbt test =="
sbt -batch test

echo "== 2/5 perfbench harness tests (no Spark run) =="
python3 -m pytest perfbench/tests

echo "== 3/5 Verify + DuckDB oracle @ $SF_CORRECT =="
SPARK_GRAFT_CPUS=${SPARK_GRAFT_CPUS:-8} sbt -batch "runMain graft.Verify $SF_CORRECT $OUT/verify"
python3 tools/oracle_check.py "$SF_CORRECT" "$OUT/verify"

echo "== 4/5 bench-line tail-parse gate (driver's exact capture) =="
tools/check_bench_line.sh "$SF_CORRECT"

echo "== 5/5 Bench @ $SF_BENCH =="
SPARK_GRAFT_SF_DIR=$SF_BENCH sbt -batch "runMain graft.Bench" 2>&1 \
  | grep '"metric"' | sed 's/^\[info\] //' | tee "$OUT/bench.json"
echo "gates done; artifacts in $OUT"
