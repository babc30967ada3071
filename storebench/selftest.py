#!/usr/bin/env python3
"""Self-tests of the store benchmark. Run from the root of a checkout:

    python3 storebench/selftest.py

They check that the op sequence is a function of the seed alone, that one
seed always ends in the same store size, read at the same batch, and that
the one command prints every metric BENCHMARK.json names, with its unit,
plus the per-type sample counts. The first run builds the harness; the whole suite takes a few minutes.
"""
import json
import os
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import run  # noqa: E402


def sequence(workload, seed, count=300):
    p = subprocess.run(["java", "-cp", run.classpath(), "storebench.Main", "--sequence", workload, str(seed),
                        str(count)], capture_output=True, text=True)
    if p.returncode != 0:
        raise AssertionError(f"--sequence {workload} {seed} exited {p.returncode}: {p.stderr[-3000:]}")
    return p.stdout.splitlines()


def bench(workload, seed, trace):
    """One run of only the rounds the workload always runs (--seconds 0)."""
    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", str(seed),
                        "--seconds", "0", "--trace", str(trace)],
                       cwd=ROOT, capture_output=True, text=True)
    if p.returncode != 0:
        raise AssertionError(f"{workload} seed {seed} exited {p.returncode}: {p.stderr[-3000:]}")
    lines = p.stdout.strip().splitlines()
    return json.loads(lines[-2]), json.loads(lines[-1])


class SequenceTest(unittest.TestCase):
    def test_same_seed_same_sequence(self):
        for w in ("lookup", "scan", "ingest"):
            a = sequence(w, 7)
            self.assertEqual(len(a), 300)
            self.assertEqual(a, sequence(w, 7), w)

    def test_other_seed_other_sequence(self):
        for w in ("lookup", "scan", "ingest"):
            self.assertNotEqual(sequence(w, 7), sequence(w, 8), w)


class RunTest(unittest.TestCase):
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))

    def check_metrics(self, result, key):
        want = {m["name"]: m["unit"] for m in self.spec[key]}
        got = {k: v["unit"] for k, v in result["metrics"].items()}
        self.assertEqual(got, want)
        self.assertTrue(result["correct"])
        self.assertEqual(result["failed"], 0)
        self.assertGreaterEqual(result["attempted"], 1)

    def check_counts(self, report):
        self.assertIsNone(report["claim"])
        self.assertEqual(list(report)[-1], "claim")
        typed = [k for k in report["report"] if k.endswith("_p50_ms")]
        self.assertTrue(typed)
        for k in typed:
            self.assertGreaterEqual(report["report"][k]["n"], 1, k)
        self.assertEqual(report["report"]["error_rate"]["value"], 0.0)

    def test_ingest_space_amp_repeats_and_metrics_print(self):
        rep1, res1 = bench("ingest", 7, 0)
        rep2, res2 = bench("ingest", 7, 0)
        self.check_metrics(res1, "end_to_end")
        self.check_counts(rep1)
        # read right after the batch whose commit compacts every bucket (the
        # fifth), which follows the overwrites and the first delete
        self.assertEqual(rep1["report"]["space_amp_batch"]["value"], 5)
        self.assertEqual(res1["metrics"]["space_amp"]["value"], res2["metrics"]["space_amp"]["value"])
        self.assertEqual(res1["attempted"], res2["attempted"])

    def test_every_workload_prints_both_metric_sets(self):
        for w in ("lookup", "scan", "ingest"):
            rep, res = bench(w, 3, 0)
            self.check_metrics(res, "end_to_end")
            self.check_counts(rep)
            rep, res = bench(w, 3, 1)
            self.check_metrics(res, "per_layer")
            self.check_counts(rep)
            trace = os.path.join(ROOT, ".bench_build", "storebench", f"trace-{w}-3.jsonl")
            with open(trace) as f:
                header = json.loads(f.readline())
                first = json.loads(f.readline())
            self.assertIn("trace.overhead_share", header["per_layer"])
            self.assertEqual(set(first), {"span", "op", "id", "parent", "start", "end"})


if __name__ == "__main__":
    unittest.main(verbosity=2)
