"""Tests of the benchmark's own parts.

    python3 -m unittest discover -s perfbench/tests        # fast tests
    PERFBENCH_E2E=1 python3 -m unittest discover -s perfbench/tests

The second form also runs the benchmark end to end on one workload, once
untraced and once traced (several minutes; builds on first use). Run both
from the root of a checkout.
"""
import datetime
import hashlib
import json
import os
import shutil
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import gen_takeout  # noqa: E402
import stats  # noqa: E402

TEST_DIR = os.path.join(ROOT, ".bench_build", "test")


def tree_digest(root):
    h = hashlib.sha256()
    for d, _, fs in sorted(os.walk(root)):
        for f in sorted(fs):
            p = os.path.join(d, f)
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


class GeneratorTest(unittest.TestCase):
    def setUp(self):
        shutil.rmtree(TEST_DIR, ignore_errors=True)

    def tearDown(self):
        shutil.rmtree(TEST_DIR, ignore_errors=True)

    def gen(self, name, workload, seed):
        work = os.path.join(TEST_DIR, name)
        manifest = gen_takeout.make_inputs(work, workload, seed, tick_seconds=6)
        return work, manifest

    def test_byte_identical_per_seed(self):
        for workload in gen_takeout.SHAPES:
            a, ma = self.gen("a", workload, 7)
            b, mb = self.gen("b", workload, 7)
            c, _ = self.gen("c", workload, 8)
            self.assertEqual(tree_digest(a), tree_digest(b), workload)
            self.assertEqual(ma, mb)
            self.assertNotEqual(tree_digest(a), tree_digest(c), workload)
            shutil.rmtree(TEST_DIR)

    def test_timestamps_valid_across_long_spans(self):
        rng = gen_takeout.Rng(1)
        rows, secs = gen_takeout.user_rows(rng, 400, 0.3, 900, 50, end_day=700)
        for r, s in zip(rows, secs):
            t = datetime.datetime.strptime(r["time"], "%Y-%m-%dT%H:%M:%SZ")
            self.assertEqual(int((t - gen_takeout.EPOCH).total_seconds()), s)
        self.assertGreater(max(secs) - min(secs), 800 * 86400)


class TailTest(unittest.TestCase):
    def test_highest_percentile_with_ten_beyond(self):
        t = stats.tail(list(range(1, 101)))
        self.assertEqual((t.value, t.pct, t.n, t.beyond), (90, 90, 100, 10))
        for n in range(11, 300):
            xs = list(range(n))
            t = stats.tail(xs)
            self.assertGreaterEqual(sum(1 for x in xs if x > t.value), 10)
            # one percentile higher would leave fewer than ten beyond
            k = -(-(t.pct + 1) * n // 100)
            self.assertLess(n - k, 10)

    def test_too_few_samples(self):
        with self.assertRaises(ValueError):
            stats.tail(list(range(10)))

    def test_describe_names_sample_count(self):
        self.assertEqual(stats.tail(list(range(40))).describe(), "p75 of 40 samples, 10 beyond it")

    def test_median(self):
        self.assertEqual(stats.median([3, 1, 2]), 2)
        self.assertEqual(stats.median([4, 1, 2, 3]), 2.5)


@unittest.skipUnless(os.environ.get("PERFBENCH_E2E") == "1", "set PERFBENCH_E2E=1")
class EndToEndTest(unittest.TestCase):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)

    def run_bench(self, trace):
        out = subprocess.run(
            [sys.executable, os.path.join(BENCH, "run.py"), "--workload",
             self.spec["workloads"][0]["name"], "--seed", "3", "--seconds",
             str(self.spec["run_seconds"]), "--trace", str(trace)],
            cwd=ROOT, capture_output=True, text=True, timeout=1200)
        self.assertEqual(out.returncode, 0, out.stderr[-2000:])
        lines = out.stdout.strip().splitlines()
        return lines, json.loads(lines[-1])

    def check_metrics(self, result, names):
        self.assertTrue(result["correct"])
        self.assertEqual(result["failed"], 0)
        self.assertEqual(set(result["metrics"]), {m["name"] for m in names})
        for m in names:
            self.assertEqual(result["metrics"][m["name"]]["unit"], m["unit"])

    def test_untraced_run_prints_every_end_to_end_metric(self):
        lines, result = self.run_bench(0)
        self.check_metrics(result, self.spec["end_to_end"])
        report = "\n".join(lines[:-1])
        for m in self.spec["end_to_end"]:
            self.assertRegex(report, rf"\b{m['name']}\s+\S+\s+{m['unit']}\b")
        self.assertIn("failed_ops_frac", report)

    def test_traced_run_prints_every_layer_and_attributes_every_job(self):
        lines, result = self.run_bench(1)
        self.check_metrics(result, self.spec["per_layer"])
        report = dict(l.split(None, 1) for l in lines[:-1] if l.strip())
        self.assertEqual(report["unattributed_jobs"].strip(), "0")
        self.assertEqual(report["misattributed_jobs"].strip(), "0")


if __name__ == "__main__":
    unittest.main()
