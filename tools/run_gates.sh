#!/usr/bin/env bash
# Local mirror of the driver's per-round gates: unit/property tests,
# the benchmark harness's own tests, a correctness smoke run of every
# benchmark workload, the sf0.01 DuckDB-oracle correctness sweep, and
# the sf0.1 bench.
# Usage: tools/run_gates.sh [sfdir_correctness] [sfdir_bench]
set -euo pipefail
cd "$(dirname "$0")/.."
SF_CORRECT=${1:-/root/testdata/sf0.01}
SF_BENCH=${2:-/root/testdata/sf0.1}
OUT=$(mktemp -d /tmp/graft_gates.XXXX)

echo "== 1/6 tier-1 tests (the ROADMAP.md tier-1 command) =="
# offline sbt/coursier, all cores, half the RAM (2-8 GB) for the forked
# test JVM, Spark scratch under /tmp/spark-local
export COURSIER_MODE=offline SBT_OPTS="${SBT_OPTS:--Dsbt.override.build.repos=true -Dsbt.repository.config=$HOME/.sbt/repositories -Dsbt.offline=true -Xmx4g}"
timeout -k 10 2670 sbt --batch -Dsbt.log.noformat=true Test/compile
SPARK_GRAFT_CPUS="$(env -u OMP_NUM_THREADS nproc)" \
SPARK_DRIVER_MEM="$(awk '/^MemTotal:/ {g = int($2 / 2097152)} END {print (g < 2 ? 2 : g > 8 ? 8 : g) "g"}' 2>/dev/null </proc/meminfo || echo 2g)" \
SPARK_LOCAL_DIRS=/tmp/spark-local \
  timeout -k 10 2670 sbt --batch -Dsbt.log.noformat=true "testOnly *"
# what each suite adds to tier-1 time: the ten slowest, from the reports
python3 - <<'EOF'
import glob, xml.etree.ElementTree as ET
rows = sorted(((float(r.get("time")), r.get("name"), r.get("tests"))
               for r in (ET.parse(f).getroot()
                         for f in glob.glob("target/test-reports/TEST-*.xml"))),
              reverse=True)
print(f"tier-1 suite time {sum(t for t, _, _ in rows):.0f} s over {len(rows)} suites; slowest:")
for t, name, n in rows[:10]:
    print(f"  {t:8.1f} s  {name} ({n} tests)")
EOF

echo "== 2/6 perfbench harness tests (no Spark run) =="
python3 -m pytest perfbench/tests

echo "== 3/6 perfbench correctness smoke (every workload, seed 1) =="
# the benchmark checks every output of every pass against the generated
# truth, so a correct run with no failed call gates the Cli verbs it
# drives end to end
for W in tweets-kmedoids corpus-dedup index-ingest; do
  LINE=$(python3 perfbench/run.py --workload "$W" --seed 1 --seconds 1 --trace 0 | tail -n 1)
  W="$W" LINE="$LINE" python3 - <<'EOF'
import json, os, sys
r = json.loads(os.environ["LINE"])
print(f'{os.environ["W"]}: correct={r["correct"]} failed={r["failed"]}/{r["attempted"]}')
sys.exit(0 if r["correct"] is True and r["failed"] == 0 else 1)
EOF
done
# one traced run of each workload: their job and codegen counts show a
# regression of the batch path, of the k-medoids loop or of the dedup
# plans without an A/B (per warm pass when these were added: index-ingest
# 34 jobs since the probe materializes its answer once (40 before), 24
# files, 0 s of recompiles; tweets-kmedoids 25 jobs, 35
# before its medoid update went map-only; corpus-dedup 0 classes, 28 jobs,
# 0.8 s in dedup.ensemble; 66, 38 and 2.0 s before its plans fit the
# codegen cache)
for W in index-ingest tweets-kmedoids corpus-dedup; do
  LINE=$(python3 perfbench/run.py --workload "$W" --seed 1 --seconds 1 --trace 1 | tail -n 1)
  W="$W" LINE="$LINE" python3 - <<'EOF'
import json, os, sys
w = os.environ["W"]
r = json.loads(os.environ["LINE"])
m = r["metrics"]
keys = {"index-ingest": ("driver.jobs", "index.files", "driver.codegen_compile_s"),
        "tweets-kmedoids": ("driver.jobs", "kmeans.iter_s", "driver.codegen_compile_s"),
        "corpus-dedup": ("driver.codegen_classes", "driver.jobs", "dedup.ensemble_s")}[w]
print(f"{w} traced: " + ", ".join(f'{k}={m[k]["value"]:g}' for k in keys))
sys.exit(0 if r["correct"] is True and r["failed"] == 0 else 1)
EOF
done

echo "== 4/6 Verify + DuckDB oracle @ $SF_CORRECT =="
SPARK_GRAFT_CPUS=${SPARK_GRAFT_CPUS:-8} sbt -batch "runMain graft.Verify $SF_CORRECT $OUT/verify"
python3 tools/oracle_check.py "$SF_CORRECT" "$OUT/verify"

echo "== 5/6 bench-line tail-parse gate (driver's exact capture) =="
tools/check_bench_line.sh "$SF_CORRECT"

echo "== 6/6 Bench @ $SF_BENCH =="
SPARK_GRAFT_SF_DIR=$SF_BENCH sbt -batch "runMain graft.Bench" 2>&1 \
  | grep '"metric"' | sed 's/^\[info\] //' | tee "$OUT/bench.json"
echo "gates done; artifacts in $OUT"
