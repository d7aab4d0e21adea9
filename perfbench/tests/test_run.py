"""Self-tests of the benchmark at sf0.001.

Run from the repository root:

  python3 -m unittest discover -s perfbench/tests -v

They check that every metric BENCHMARK.json names is printed with its
unit, that a query forced to throw counts as failed, that a corrupted
expected digest is reported as a failure, and that the input tables
match perfbench/data/SHA256SUMS.
"""
import hashlib
import json
import os
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
SF = "0.001"
WORKLOAD = "rounds"


def bench(*extra, trace=0):
    out = subprocess.run(
        [sys.executable, os.path.join(BENCH, "run.py"), "--workload", WORKLOAD,
         "--seed", "1", "--seconds", "1", "--trace", str(trace), "--sf", SF,
         *extra],
        cwd=ROOT, capture_output=True, text=True, timeout=600)
    if out.returncode != 0:
        raise AssertionError(f"run.py exited {out.returncode}: {out.stderr[-2000:]}")
    lines = out.stdout.strip().splitlines()
    return json.loads(lines[-1]), lines[:-1]


def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def workload_queries():
    with open(os.path.join(BENCH, "workloads.json")) as f:
        return json.load(f)["workloads"][WORKLOAD]["queries"]


class MetricsPrinted(unittest.TestCase):
    def check(self, result, lines, wanted):
        self.assertEqual(set(result), {"correct", "attempted", "failed", "metrics"})
        self.assertTrue(result["correct"], lines)
        self.assertEqual(result["failed"], 0)
        self.assertGreaterEqual(result["attempted"], len(workload_queries()))
        got = result["metrics"]
        self.assertEqual(set(got), {m["name"] for m in wanted})
        for m in wanted:
            self.assertEqual(got[m["name"]]["unit"], m["unit"], m["name"])
            self.assertIsInstance(got[m["name"]]["value"], float)
            # Also printed by name, with its unit, before the JSON line.
            self.assertTrue(any(l.startswith(m["name"] + " ") and
                                l.split()[2] == m["unit"] for l in lines), m["name"])

    def test_end_to_end(self):
        result, lines = bench()
        self.check(result, lines, spec()["end_to_end"])
        self.assertTrue(any(l.startswith("query_p50_s ") for l in lines))
        self.assertTrue(any(l.startswith("failed_frac 0.0000 ratio") for l in lines))

    def test_per_layer(self):
        result, lines = bench(trace=1)
        self.check(result, lines, spec()["per_layer"])
        self.assertGreater(result["metrics"]["exec.jobs"]["value"], 0)
        self.assertGreater(result["metrics"]["operators.build_jobs"]["value"], 0)
        self.assertGreater(result["metrics"]["streaming.batches"]["value"], 0)


class FailuresCounted(unittest.TestCase):
    def test_forced_throw(self):
        victim = workload_queries()[0]
        result, lines = bench("--fail", victim)
        self.assertFalse(result["correct"])
        self.assertGreaterEqual(result["failed"], 1)
        frac = [l for l in lines if l.startswith("failed_frac ")][0]
        self.assertAlmostEqual(float(frac.split()[1]),
                               result["failed"] / result["attempted"], places=4)
        self.assertTrue(any(l.startswith(f"FAILED {victim}: RuntimeException")
                            for l in lines))

    def test_corrupt_digest(self):
        with open(os.path.join(BENCH, "expected", f"sf{SF}.json")) as f:
            expected = json.load(f)
        victim = workload_queries()[-1]
        expected[victim] = "0:" + "0" * 16
        with tempfile.NamedTemporaryFile("w", suffix=".json", dir=BENCH,
                                         delete=False) as f:
            json.dump(expected, f)
        try:
            result, lines = bench("--expected", f.name)
        finally:
            os.unlink(f.name)
        self.assertFalse(result["correct"])
        self.assertGreaterEqual(result["failed"], 1)
        self.assertTrue(any(l.startswith(f"FAILED {victim}: digest") for l in lines))
        # Warm-up results are checked as well.
        self.assertTrue(any(l.startswith(f"FAILED warm-up {victim}: digest")
                            for l in lines))


class Inputs(unittest.TestCase):
    def test_tables_are_the_test_data(self):
        data = os.path.join(BENCH, "data")
        with open(os.path.join(data, "SHA256SUMS")) as f:
            sums = dict(reversed(l.split()) for l in f if l.strip())
        with open(os.path.join(BENCH, "workloads.json")) as f:
            scales = {wl["sf"] for wl in json.load(f)["workloads"].values()}
        for sf in scales | {float(SF)}:
            self.assertTrue(any(p.startswith(f"sf{sf:g}/") for p in sums), sf)
        for rel, want in sums.items():
            with open(os.path.join(data, rel), "rb") as f:
                self.assertEqual(hashlib.sha256(f.read()).hexdigest(), want, rel)


if __name__ == "__main__":
    unittest.main()
