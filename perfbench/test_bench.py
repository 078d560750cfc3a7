"""The benchmark's own tests.

    python3 perfbench/test_bench.py

Each workload runs briefly at sf0.001, untraced and traced, and must emit
every metric of BENCHMARK.json with its unit and a passing output check.
A planted fault (one corrupted result fingerprint; one ordinary object
expected to be a decoy) must be reported as a failure. Takes a few
minutes: every case starts its own Spark JVM.
"""
import json
import os
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BENCH = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))


def run(workload, trace=0, fault=False):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "7", "--seconds", "2", "--trace", str(trace), "--sf", "0.001"]
    if fault:
        cmd.append("--plant-fault")
    out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    if out.returncode != 0:
        raise AssertionError(f"{' '.join(cmd)} exited {out.returncode}:\n{out.stderr[-3000:]}")
    return json.loads(out.stdout.strip().splitlines()[-1]), out.stdout


class Smoke(unittest.TestCase):
    def check(self, workload, trace):
        res, text = run(workload, trace)
        self.assertEqual(set(res), {"correct", "attempted", "failed", "metrics"})
        self.assertTrue(res["correct"], text)
        self.assertEqual(res["failed"], 0)
        self.assertGreaterEqual(res["attempted"], 1)
        section = BENCH["per_layer" if trace else "end_to_end"]
        self.assertEqual(set(res["metrics"]), {m["name"] for m in section})
        for m in section:
            got = res["metrics"][m["name"]]
            self.assertEqual(got["unit"], m["unit"], m["name"])
            self.assertIsInstance(got["value"], (int, float), m["name"])
            if not trace:
                self.assertGreater(got["value"], 0, m["name"])
        self.assertIn("failed_ratio = 0 ratio", text)

    def test_xlsx_arrival(self):
        self.check("xlsx_arrival", 0)
        self.check("xlsx_arrival", 1)

    def test_query_floor(self):
        self.check("query_floor", 0)
        self.check("query_floor", 1)

    def test_query_iterative(self):
        self.check("query_iterative", 0)
        self.check("query_iterative", 1)


class PlantedFault(unittest.TestCase):
    def check(self, workload):
        res, text = run(workload, fault=True)
        self.assertFalse(res["correct"], text)
        self.assertEqual(res["failed"], 1, text)
        ratio = [l for l in text.splitlines() if " failed_ratio = " in l]
        self.assertTrue(ratio and float(ratio[0].split(" = ")[1].split()[0]) > 0, text)

    def test_corrupted_fingerprint(self):
        self.check("query_floor")

    def test_decoy_reaches_warehouse(self):
        self.check("xlsx_arrival")


if __name__ == "__main__":
    unittest.main()
