"""perfbench: one workload, one seed, one line of metrics.

    python3 perfbench/run.py --workload tweets-kmedoids --seed 1 --seconds 6 --trace 0

Builds the program from source (perfbench/build.py), generates the
workload's input from the seed (perfbench/gen.py), then runs it in one JVM
at local[N], N = min(4, nproc): a closed loop of calls into the program's
public functions, a cold pass, then warm passes for --seconds (at least
two). Every
output is checked. After the passes the JVM stops its session and sets up
four more times, for five set-up samples. The last line of stdout is one
JSON object: {"correct", "attempted", "failed", "metrics"}; with --trace 0 the metrics
are the end-to-end ones, with --trace 1 the per-layer ones (the run then
alternates untraced and traced warm passes, and records spans).
See perfbench/README.md for every metric's definition.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402
import gen  # noqa: E402

DEADLINE_S = 170  # the whole run, build excluded; a JVM still running is killed

# The JDK 17 module opens Spark needs outside spark-submit (as in build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]

END_TO_END = {
    "setup_s": "s", "cold_pass_s": "s", "rows_per_s": "rows/s",
    "heap_live_mb": "MB", "quality": "ratio",
}

# Per-layer metrics: the op (span) name whose per-pass time each one sums.
LAYER_TIMES = {
    "sources.ingest_s": "sources.ingest",
    "sources.assignio_s": "sources.assignio",
    "kmeans.seed_s": "kmeans.seed",
    "kmeans.run_s": "kmeans.run",
    "analysis.s": "analysis",
    "dedup.lsh_s": "dedup.lsh",
    "dedup.ensemble_s": "dedup.ensemble",
    "dedup.write_s": "dedup.write",
}
# Per-call latencies of the index ops: (metric, op, percentile).
LAYER_LATENCIES = [
    ("index.register_s", "index.register", 50),
    ("index.preflight_s", "index.preflight", 50),
    ("index.probe_s", "index.probe", 50),
    ("index.probe_tail_s", "index.probe", 90),
    ("index.append_s", "index.append", 50),
    ("index.append_tail_s", "index.append", 90),
    ("index.compact_s", "index.compact", 50),
]
# Listener counters summed over a pass's layer spans: metric -> (field, unit).
LAYER_COUNTERS = {
    "driver.jobs": ("jobs", "count"),
    "driver.stages": ("stages", "count"),
    "driver.plan_s": ("plan_s", "s"),
    "driver.codegen_compile_s": ("compile_s", "s"),
    "driver.codegen_classes": ("classes", "count"),
    "driver.gap_s": ("gap_s", "s"),
    "exec.tasks": ("tasks", "count"),
    "exec.run_s": ("run_s", "s"),
    "exec.cpu_s": ("cpu_s", "s"),
    "exec.gc_s": ("gc_s", "s"),
    "exec.one_task_stages": ("one_task_stages", "count"),
    "shuffle.write_bytes": ("shuffle_write", "bytes"),
    "shuffle.read_bytes": ("shuffle_read", "bytes"),
    "shuffle.fetch_wait_s": ("fetch_wait_s", "s"),
    "spill.bytes": ("spill", "bytes"),
}
# Values the workload itself reports for its last pass: metric -> unit.
LAYER_VALUES = {
    "sources.rows_in": "count", "sources.rows_rejected": "count",
    "kmeans.iterations": "count", "dedup.removed": "count",
    "dedup.ensemble_recall": "ratio", "index.files": "count",
    "index.bytes_per_user_byte": "ratio", "index.write_amp": "ratio",
    "index.pairs": "count", "quality.cluster_cost": "distance/row",
    "quality.dedup_recall": "ratio", "quality.dedup_precision": "ratio",
}


def per_layer_names():
    """Every per-layer metric name with its unit, in report order."""
    names = {"session.create_s": "s", "session.first_read_s": "s"}
    names.update({k: "s" for k in LAYER_TIMES})
    names["kmeans.iter_s"] = "s"
    names["index.build_s"] = "s"
    names.update({m: "s" for m, _, _ in LAYER_LATENCIES})
    names.update({k: u for k, (_, u) in LAYER_COUNTERS.items()})
    names["exec.skew_max"] = "ratio"
    names.update(LAYER_VALUES)
    names["index.calls"] = "count"
    names["heap.peak_mb"] = "MB"
    names["trace.overhead"] = "ratio"
    return names


def percentile(values, p):
    """Nearest-rank percentile; 0.0 for no samples."""
    if not values:
        return 0.0
    s = sorted(values)
    return s[min(len(s) - 1, max(0, -(-p * len(s) // 100) - 1))]


def median(values):
    return statistics.median(values) if values else 0.0


def java_cmd(classes, args, work):
    jars = os.path.join(build.spark_jars(), "*")
    opens = [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
    return (["java", "-Xms1g", "-Xmx1g", "-XX:-UsePerfData", "-Djava.io.tmpdir=" + work]
            + opens + ["-cp", classes + os.pathsep + jars, "perfbench.Main"] + args)


def run_jvm(cmd, work, log, timeout):
    """Runs the benchmark JVM to its end; kills it after `timeout` seconds."""
    with open(log, "wb") as out:
        p = subprocess.Popen(cmd, cwd=work, stdout=out, stderr=subprocess.STDOUT)
        try:
            rc = p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            p.kill()
            rc = p.wait()
    if rc != 0 or not os.path.exists(os.path.join(work, "result.json")):
        with open(log, errors="replace") as fh:
            tail = fh.read()[-3000:]
        sys.exit("perfbench: JVM exited with %s before finishing:\n%s" % (rc, tail))


def end_to_end(res):
    warm = [p["seconds"] for p in res["passes"][1:] if not p["traced"]]
    return {
        "setup_s": median(res["setup_s"]),
        "cold_pass_s": res["passes"][0]["seconds"],
        "rows_per_s": res["rows"] / median(warm),
        "heap_live_mb": res["heap_live_mb"],
        "quality": res["quality"],
    }


def per_layer(res, spans):
    traced_runs = sorted({s["run"] for s in spans if s["name"] == "pass"})
    pass_ids = {s["id"] for s in spans if s["name"] == "pass"}
    leaves = [s for s in spans if s["parent"] in pass_ids]
    by_run = {r: [s for s in leaves if s["run"] == r] for r in traced_runs}

    def per_pass(fn):
        return median([fn(by_run[r]) for r in traced_runs])

    m = {"session.create_s": res["create_s"], "session.first_read_s": res["first_read_s"]}
    for metric, op in LAYER_TIMES.items():
        m[metric] = per_pass(lambda ss: sum(s["dur_s"] for s in ss if s["name"] == op))
    m["kmeans.iter_s"] = (m["kmeans.run_s"] / res["values"]["kmeans.iterations"]
                          if res["values"].get("kmeans.iterations") else 0.0)
    m["index.build_s"] = sum(s for _, n, s in res["ops"] if n == "index.build")
    # per-call latencies over every warm pass, traced or not: the bus drain
    # a traced call adds is milliseconds, and the samples are few
    calls = {}
    for run, name, sec in res["ops"]:
        if run > 0:
            calls.setdefault(name, []).append(sec)
    for metric, op, p in LAYER_LATENCIES:
        m[metric] = percentile(calls.get(op, []), p)
    for metric, (field, _) in LAYER_COUNTERS.items():
        m[metric] = per_pass(lambda ss: sum(s[field] for s in ss))
    m["exec.skew_max"] = per_pass(lambda ss: max([s["skew_max"] for s in ss] or [0.0]))
    for metric in LAYER_VALUES:
        m[metric] = res["values"].get(metric, 0.0)
    m["index.calls"] = len(calls.get("index.probe", []))
    m["heap.peak_mb"] = res["heap_peak_mb"]
    traced = [p["seconds"] for p in res["passes"][2:] if p["traced"]]
    warm = [p["seconds"] for p in res["passes"][2:] if not p["traced"]]
    m["trace.overhead"] = median(warm) / median(traced) if traced else 0.0
    return m


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(gen.GENERATORS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)

    classes = build.build()
    t0 = time.perf_counter()
    root = os.path.join(build.build_dir(), "runs", "%s-%d" % (a.workload, a.seed))
    shutil.rmtree(root, ignore_errors=True)
    inp, work = os.path.join(root, "input"), os.path.join(root, "work")
    os.makedirs(work)
    try:
        gen.generate(a.workload, a.seed, inp)
        log = os.path.join(root, "jvm.log")
        args = [a.workload, inp, work, str(a.seconds), str(a.trace), str(a.seed)]
        run_jvm(java_cmd(classes, args, work), work, log,
                DEADLINE_S - (time.perf_counter() - t0))
        with open(os.path.join(work, "result.json")) as fh:
            res = json.load(fh)
        if a.trace:
            # the spans outlive the run's scratch directory
            kept = os.path.join(build.build_dir(), "spans")
            os.makedirs(kept, exist_ok=True)
            shutil.copy(os.path.join(work, "spans.jsonl"),
                        os.path.join(kept, "%s-%d.jsonl" % (a.workload, a.seed)))
            with open(os.path.join(work, "spans.jsonl")) as fh:
                spans = [json.loads(line) for line in fh]
            values, units = per_layer(res, spans), per_layer_names()
        else:
            values, units = end_to_end(res), END_TO_END
        for f in res["failures"]:
            sys.stderr.write("perfbench: %s\n" % f)
    finally:
        shutil.rmtree(root, ignore_errors=True)
    print(json.dumps({
        "correct": res["failed"] == 0 and res["attempted"] > 0,
        "attempted": res["attempted"], "failed": res["failed"],
        "metrics": {k: {"value": values[k], "unit": units[k]} for k in units},
    }))


if __name__ == "__main__":
    main()
