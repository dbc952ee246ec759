"""The benchmark's own tests.

    python3 -m pytest perfbench/tests          # all, ~1 min (builds once)
    python3 -m pytest perfbench/tests -k "not jvm"   # no JVM, seconds

The JVM tests build the program and run one short benchmark process.
"""
import filecmp
import json
import os
import re
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
PB = os.path.dirname(HERE)
sys.path.insert(0, PB)
import build  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402
import steady  # noqa: E402

SMALL = {
    "tweets-kmedoids": {"rows": 400},
    "corpus-dedup": {"docs": 300, "slice_docs": 60},
    "index-ingest": {"base_docs": 200, "batches": 2, "batch_docs": 40, "compact_every": 2},
}
NAME = re.compile(r"^[A-Za-z0-9_.-]+$")


def generate(workload, seed, out):
    return gen.GENERATORS[workload](seed, out, **SMALL[workload])


def files(d):
    return sorted(os.path.relpath(os.path.join(r, f), d)
                  for r, _, fs in os.walk(d) for f in fs)


class GeneratorTest(unittest.TestCase):
    def test_same_seed_gives_byte_identical_input(self):
        for w in SMALL:
            with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b:
                generate(w, 5, a)
                generate(w, 5, b)
                self.assertEqual(files(a), files(b))
                match, mismatch, errors = filecmp.cmpfiles(a, b, files(a), shallow=False)
                self.assertEqual((mismatch, errors), ([], []), w)

    def test_other_seed_gives_other_input(self):
        for w in SMALL:
            with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b:
                generate(w, 5, a)
                generate(w, 6, b)
                _, mismatch, _ = filecmp.cmpfiles(a, b, files(a), shallow=False)
                self.assertTrue(mismatch, w)

    def test_tweet_truth_counts_every_line(self):
        with tempfile.TemporaryDirectory() as d:
            t = generate("tweets-kmedoids", 1, d)
            with open(os.path.join(d, "tweets.csv")) as fh:
                lines = fh.read().split("\n")[:-1]
            self.assertEqual(len(lines), t["input_rows"])
            self.assertEqual(t["valid_rows"] + sum(t["rejects"].values()), t["input_rows"])
            self.assertTrue(all(v > 0 for v in t["rejects"].values()))
            self.assertEqual(sum(1 for x in lines if x == ""), t["rejects"]["empty"])

    def test_planted_jaccard_is_exact(self):
        with tempfile.TemporaryDirectory() as d:
            t = generate("corpus-dedup", 1, d)
            import pyarrow.parquet as pq
            docs = dict(zip(*pq.read_table(os.path.join(d, "corpus.parquet"),
                                           columns=["doc_id", "text"]).to_pydict().values()))
            fams = t["corpus"]["families"]
            self.assertTrue(fams)
            for fam in fams:
                base = docs[fam[0][0]].split(" ")
                for doc_id, j in fam[1:]:
                    self.assertAlmostEqual(gen.jaccard(base, docs[doc_id].split(" ")), j)
                    self.assertGreaterEqual(j, 0.6)
            for base_id, miss_id, j in t["corpus"]["near_misses"]:
                self.assertLess(j, 0.5)


class MetricNamesTest(unittest.TestCase):
    def test_names_and_units_are_well_formed(self):
        names = list(run.END_TO_END) + list(run.per_layer_names())
        self.assertEqual(len(names), len(set(names)))
        for n in names:
            self.assertRegex(n, NAME)
        for u in list(run.END_TO_END.values()) + list(run.per_layer_names().values()):
            self.assertRegex(u, r"^[A-Za-z0-9_/%.-]{1,16}$")

    def test_benchmark_json_matches_what_run_prints(self):
        with open(os.path.join(os.path.dirname(PB), "BENCHMARK.json")) as fh:
            b = json.load(fh)
        self.assertEqual({m["name"]: m["unit"] for m in b["end_to_end"]}, run.END_TO_END)
        self.assertEqual({m["name"]: m["unit"] for m in b["per_layer"]}, run.per_layer_names())
        self.assertEqual({w["name"] for w in b["workloads"]}, set(gen.GENERATORS))


class SteadyTest(unittest.TestCase):
    BENCH = {"end_to_end": [
        {"name": "setup_s", "unit": "s", "better": "lower", "bound": 0.25},
        {"name": "rows_per_s", "unit": "rows/s", "better": "higher", "bound": 0.1}]}

    def sets(self, rows2):
        one = {"w": {"setup_s": [1.0] * 10, "rows_per_s": [100.0 + i for i in range(10)]}}
        two = {"w": {"setup_s": [1.0] * 10, "rows_per_s": rows2}}
        return [one, two]

    def test_two_agreeing_sets_pass(self):
        rows, ok = steady.judge(self.BENCH, self.sets([101.0 + i for i in range(10)]))
        self.assertTrue(ok)

    def test_a_regressed_second_set_fails(self):
        rows, ok = steady.judge(self.BENCH, self.sets([80.0 + i for i in range(10)]))
        self.assertFalse(ok)

    def test_a_much_better_second_set_fails(self):
        rows, ok = steady.judge(self.BENCH, self.sets([140.0 + i for i in range(10)]))
        self.assertFalse(ok)

    def test_a_wide_setup_spread_fails(self):
        sets = self.sets([101.0 + i for i in range(10)])
        sets[1]["w"]["setup_s"] = [0.5 + 0.1 * i for i in range(10)]
        rows, ok = steady.judge(self.BENCH, sets)
        self.assertFalse(ok)

    def test_a_wide_spread_fails(self):
        rows, ok = steady.judge(self.BENCH, self.sets([50.0 + 20 * i for i in range(10)]))
        self.assertFalse(ok)


class PerLayerTest(unittest.TestCase):
    def test_percentile_is_nearest_rank(self):
        self.assertEqual(run.percentile([], 50), 0.0)
        self.assertEqual(run.percentile([3, 1, 2], 50), 2)
        self.assertEqual(run.percentile(list(range(1, 11)), 90), 9)


class JvmTest(unittest.TestCase):
    """A deliberately wrong output must count as a failed operation."""

    def run_main(self, workload, corrupt):
        classes = build.build()
        with tempfile.TemporaryDirectory() as d:
            inp, work = os.path.join(d, "in"), os.path.join(d, "work")
            os.makedirs(work)
            generate(workload, 3, inp)
            path = os.path.join(inp, "truth.json")
            with open(path) as fh:
                t = json.load(fh)
            corrupt(t)
            with open(path, "w") as fh:
                json.dump(t, fh)
            run.run_jvm(run.java_cmd(classes, [workload, inp, work, "0", "0", "3"], work),
                        work, os.path.join(d, "jvm.log"), 170)
            with open(os.path.join(work, "result.json")) as fh:
                return json.load(fh)

    def test_jvm_correct_output_has_no_failures(self):
        res = self.run_main("tweets-kmedoids", lambda t: None)
        self.assertEqual(res["failed"], 0, res["failures"])
        self.assertGreater(res["attempted"], 0)

    def test_jvm_wrong_ingest_output_raises_error_rate(self):
        def corrupt(t):
            t["sum_tags"] += 1  # the ingest output no longer matches
        res = self.run_main("tweets-kmedoids", corrupt)
        self.assertGreaterEqual(res["failed"], 1)
        self.assertTrue(any("ingest totals" in f for f in res["failures"]))

    def test_jvm_wrong_dedup_output_raises_error_rate(self):
        def corrupt(t):
            # no planted families: every doc the dedup removes is now wrong
            t["corpus"]["families"] = []
        res = self.run_main("corpus-dedup", corrupt)
        self.assertGreaterEqual(res["failed"], 1)
        self.assertTrue(any("precision" in f for f in res["failures"]))


if __name__ == "__main__":
    unittest.main()
