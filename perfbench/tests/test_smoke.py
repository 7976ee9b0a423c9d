"""Smoke run of every workload on the tiny sf0.001 corpus, untraced and
traced: each must pass its output checks and emit exactly the metrics
BENCHMARK.json names. Takes a few minutes (one JVM per run). Run from
the root of a checkout:

    python3 -m unittest perfbench.tests.test_smoke
"""
import json
import os
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.abspath(os.path.join(HERE, "..", ".."))
sys.path.insert(0, os.path.join(HERE, ".."))
import build  # noqa: E402

# the tiny corpus next to the one the benchmark reads by default
CORPUS = build.default_corpus()
TINY = os.path.join(os.path.dirname(CORPUS), "sf0.001") if CORPUS else ""


def bench_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


@unittest.skipUnless(os.path.isdir(TINY), f"tiny corpus {TINY} not present")
class Smoke(unittest.TestCase):
    def run_bench(self, workload, trace):
        r = subprocess.run(
            [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
             "--seconds", "2", "--trace", str(trace), "--sf", TINY],
            cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True, timeout=600)
        self.assertEqual(r.returncode, 0, r.stderr[-2000:])
        return json.loads(r.stdout.strip().splitlines()[-1])

    def test_every_workload_emits_every_metric(self):
        b = bench_json()
        for w in b["workloads"]:
            for trace, section in ((0, "end_to_end"), (1, "per_layer")):
                with self.subTest(workload=w["name"], trace=trace):
                    out = self.run_bench(w["name"], trace)
                    self.assertEqual(set(out), {"correct", "attempted", "failed", "metrics"})
                    self.assertTrue(out["correct"])
                    self.assertEqual(out["failed"], 0)
                    self.assertGreaterEqual(out["attempted"], 1)
                    want = {m["name"]: m["unit"] for m in b[section]}
                    got = {k: v["unit"] for k, v in out["metrics"].items()}
                    self.assertEqual(got, want)
                    for k, v in out["metrics"].items():
                        self.assertIsInstance(v["value"], (int, float), k)
                    if section == "end_to_end":
                        for k, v in out["metrics"].items():
                            self.assertGreater(v["value"], 0, k)


if __name__ == "__main__":
    unittest.main()
