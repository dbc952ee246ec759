"""Steadiness check: do repeated runs of the same code agree within the bounds?

    python3 perfbench/steady.py --seeds 1-10 [--workloads a,b]

Runs perfbench/run.py untraced once per seed for each workload, in two sets,
and for every end-to-end metric in BENCHMARK.json reports each set's median
and spread: the distance between the first and third quartile
(`statistics.quantiles(values, n=4)`) as a share of the median. A metric is
steady when its spread is under a third of its bound, and accepted when it
is within the bound and the two sets' medians differ by no more than the
bound (as a share of the first). Each run's wall time is kept too
(`wall_s`), for the time budget. Exits 1 if any metric is not accepted.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def spread(values):
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)


def differ_by(first, second):
    """How far the second median is from the first, as a share of it."""
    m1, m2 = statistics.median(first), statistics.median(second)
    return abs(m2 - m1) / m1


def judge(bench, sets):
    """sets: two {workload: {metric: [values]}}. Returns (rows, ok)."""
    rows, ok = [], True
    for w in sorted(sets[0]):
        for m in bench["end_to_end"]:
            name, bound = m["name"], m["bound"]
            for i, s in enumerate(sets):
                sp = spread(s[w][name])
                accepted = sp <= bound
                ok &= accepted
                rows.append({"workload": w, "metric": name, "set": i + 1,
                             "median": statistics.median(s[w][name]), "spread": sp,
                             "bound": bound, "steady": sp < bound / 3,
                             "accepted": accepted})
            d = differ_by(sets[0][w][name], sets[1][w][name])
            ok &= d <= bound
            rows.append({"workload": w, "metric": name, "set": "2 vs 1",
                         "differ_by": d, "bound": bound, "accepted": d <= bound})
    return rows, ok


def run_once(bench, workload, seed):
    cmd = bench["command"] + ["--workload", workload, "--seed", str(seed),
                              "--seconds", str(bench["run_seconds"]), "--trace", "0"]
    t0 = time.perf_counter()
    r = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True)
    wall = time.perf_counter() - t0
    if r.returncode != 0:
        sys.exit("steady: %s seed %d exited %d" % (workload, seed, r.returncode))
    res = json.loads(r.stdout.strip().splitlines()[-1])
    if not res["correct"]:
        sys.exit("steady: %s seed %d: outputs are not correct" % (workload, seed))
    return dict({k: v["value"] for k, v in res["metrics"].items()}, wall_s=wall)


def seeds_of(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--workloads", default="")
    ap.add_argument("--out", help="write every run's metrics and the verdict here")
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    workloads = a.workloads.split(",") if a.workloads else [w["name"] for w in bench["workloads"]]
    sets = []
    for _ in range(2):
        runs = {w: {} for w in workloads}
        for seed in seeds_of(a.seeds):
            for w in workloads:
                for k, v in run_once(bench, w, seed).items():
                    runs[w].setdefault(k, []).append(v)
                print("steady: %s seed %d done" % (w, seed), file=sys.stderr, flush=True)
        sets.append(runs)
    rows, ok = judge(bench, sets)
    for r in rows:
        print(json.dumps(r))
    if a.out:
        with open(a.out, "w") as fh:
            json.dump({"sets": sets, "verdict": rows, "ok": ok}, fh, indent=1)
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
