#!/usr/bin/env python3
"""The benchmark's own tests: every workload on the sf0.001 smoke
configuration (one set-up, one pass or cycle), untraced and traced.

    python3 -m unittest workbench/test_smoke.py     (from a checkout root)

A broken workload, a wrong answer, a metric missing from BENCHMARK.json
or a failed traced-run accounting check fails here in about a minute
per run instead of after a full benchmark.
"""

import json
import os
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))


def smoke(workload, trace):
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", "7",
         "--seconds", "1", "--trace", str(trace), "--smoke"],
        stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True, timeout=900)
    return proc


class SmokeTest(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        with open("BENCHMARK.json") as f:
            cls.spec = json.load(f)

    def check(self, workload, trace):
        proc = smoke(workload, trace)
        self.assertEqual(proc.returncode, 0, proc.stderr[-3000:])
        result = json.loads(proc.stdout.strip().splitlines()[-1])
        self.assertEqual(set(result), {"correct", "attempted", "failed", "metrics"})
        self.assertTrue(result["correct"], proc.stderr[-3000:])
        self.assertGreaterEqual(result["attempted"], 1)
        self.assertEqual(result["failed"], 0)
        kind = "per_layer" if trace else "end_to_end"
        self.assertEqual({k: v["unit"] for k, v in result["metrics"].items()},
                         {m["name"]: m["unit"] for m in self.spec[kind]})
        return result["metrics"], proc.stderr

    def test_catalog_olap(self):
        metrics, _ = self.check("catalog_olap", 0)
        self.assertGreater(metrics["read_mean_s"]["value"], 0)

    def test_mv_dashboard(self):
        metrics, _ = self.check("mv_dashboard", 0)
        self.assertGreater(metrics["bulk_mean_s"]["value"], 0)

    def check_traced(self, workload, classes):
        """Every op class of the workload was traced, and the traced and
        untraced halves were both timed."""
        metrics, err = self.check(workload, 1)
        self.assertIn("accounting check: pass", err)
        self.assertEqual(metrics["trace.unattributed_jobs"]["value"], 0)
        for c in classes:
            self.assertGreater(metrics[f"engine.{c}.jobs"]["value"], 0, c)
        self.assertNotEqual(metrics["trace.overhead"]["value"], 1.0)
        return metrics

    def test_catalog_olap_traced(self):
        self.check_traced("catalog_olap", ["query"])

    def test_mv_dashboard_traced(self):
        metrics = self.check_traced(
            "mv_dashboard", ["commit", "point", "scan", "maint", "refresh", "serve"])
        self.assertEqual(metrics["nav.hit_ratio"]["value"], 1.0)


class OutsideCheckoutTest(unittest.TestCase):
    def test_refuses_without_the_program(self):
        """Beside BENCHMARK.json and the benchmark alone, the benchmark
        must fail without printing a result."""
        import shutil
        import tempfile
        os.makedirs(".bench_build", exist_ok=True)
        with tempfile.TemporaryDirectory(dir=".bench_build") as d:
            shutil.copy("BENCHMARK.json", d)
            shutil.copytree(HERE, os.path.join(d, "workbench"),
                            ignore=shutil.ignore_patterns("target", "__pycache__"))
            proc = subprocess.run(
                [sys.executable, "workbench/run.py", "--workload", "catalog_olap", "--seed", "1",
                 "--seconds", "1", "--trace", "0"],
                cwd=d, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True, timeout=180)
            self.assertNotEqual(proc.returncode, 0)
            self.assertEqual(proc.stdout.strip(), "")


if __name__ == "__main__":
    unittest.main()
