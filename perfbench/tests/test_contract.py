"""Contract checks for the benchmark itself.

    python3 -m unittest discover -s perfbench/tests

Runs every workload of BENCHMARK.json once plain and once traced (one
second each, so a few minutes in all) and checks that the last line
names exactly the metrics BENCHMARK.json lists, with their units, and
that a copy holding only the benchmark's own files refuses to run.
"""
import json
import os
import shutil
import subprocess
import sys
import tempfile
import unittest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
SPEC = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))


def run(cwd, workload, trace, seed=1):
    return subprocess.run(
        [*SPEC["command"], "--workload", workload, "--seed", str(seed),
         "--seconds", "1", "--trace", str(trace)],
        cwd=cwd, capture_output=True, text=True, timeout=900)


class ContractTest(unittest.TestCase):

    def check(self, trace, listed):
        for w in SPEC["workloads"]:
            with self.subTest(workload=w["name"]):
                p = run(ROOT, w["name"], trace)
                self.assertEqual(p.returncode, 0, p.stderr[-2000:])
                res = json.loads(p.stdout.strip().splitlines()[-1])
                self.assertEqual(set(res), {"correct", "attempted", "failed", "metrics"})
                self.assertTrue(res["correct"])
                self.assertEqual(res["failed"], 0)
                self.assertGreaterEqual(res["attempted"], 1)
                want = {m["name"]: m["unit"] for m in listed}
                got = {k: v["unit"] for k, v in res["metrics"].items()}
                self.assertEqual(got, want)
                for k, v in res["metrics"].items():
                    self.assertIsInstance(v["value"], (int, float), k)

    def test_plain_run_emits_every_end_to_end_metric(self):
        self.check(0, SPEC["end_to_end"])

    def test_traced_run_emits_every_per_layer_metric(self):
        self.check(1, SPEC["per_layer"])

    def test_refuses_to_run_without_the_engine_source(self):
        scratch = os.path.join(ROOT, "perfbench", ".build")
        os.makedirs(scratch, exist_ok=True)
        with tempfile.TemporaryDirectory(dir=scratch) as d:
            shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), d)
            for path in SPEC["paths"]:
                shutil.copytree(os.path.join(ROOT, path), os.path.join(d, path),
                                ignore=shutil.ignore_patterns(".build", "target"))
            p = run(d, SPEC["workloads"][0]["name"], 0)
            self.assertNotEqual(p.returncode, 0)
            self.assertNotIn('"correct"', p.stdout)


if __name__ == "__main__":
    unittest.main()
