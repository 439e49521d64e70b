#!/usr/bin/env python3
"""Smoke test of the benchmark harness at a tiny run length.

    python3 benchmark/test_smoke.py

Runs every workload once for one second (the first run builds), one traced
run, and the benchmark in a directory without the engine's sources, and
checks the output contract of each. Takes a few minutes.
"""
import json
import os
import shutil
import subprocess
import sys
import tempfile
import unittest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
    SPEC = json.load(fh)


def bench(cwd, workload, trace="0", seconds="1"):
    return subprocess.run(
        [sys.executable, "benchmark/run.py", "--workload", workload, "--seed", "1",
         "--seconds", seconds, "--trace", trace],
        cwd=cwd, capture_output=True, text=True, timeout=1200)


class SmokeTest(unittest.TestCase):

    def check(self, proc, declared):
        self.assertEqual(proc.returncode, 0, proc.stdout[-2000:] + proc.stderr[-2000:])
        result = json.loads(proc.stdout.strip().splitlines()[-1])
        self.assertEqual(set(result), {"correct", "attempted", "failed", "metrics"})
        self.assertTrue(result["correct"])
        self.assertEqual(result["failed"], 0)
        self.assertGreaterEqual(result["attempted"], 1)
        self.assertEqual({k: v["unit"] for k, v in result["metrics"].items()},
                         {m["name"]: m["unit"] for m in declared})
        return result["metrics"]

    def test_every_workload_reports_every_end_to_end_metric(self):
        for w in SPEC["workloads"]:
            with self.subTest(workload=w["name"]):
                metrics = self.check(bench(ROOT, w["name"]), SPEC["end_to_end"])
                for name, v in metrics.items():
                    self.assertGreater(v["value"], 0, name)

    def test_traced_run_reports_every_per_layer_metric(self):
        metrics = self.check(bench(ROOT, "wire_dashboard", trace="1"), SPEC["per_layer"])
        self.assertGreater(metrics["spark.codegen_compiles"]["value"], 0)
        self.assertGreater(metrics["ql.parse_ms"]["value"], 0)
        self.assertGreater(metrics["ql.trace_extra_ms"]["value"],
                           metrics["ql.trace_extra_untraced_ms"]["value"])

    def test_refuses_without_engine_sources(self):
        with tempfile.TemporaryDirectory(dir=ROOT) as bare:
            shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
            for p in SPEC["paths"]:
                shutil.copytree(os.path.join(ROOT, p), os.path.join(bare, p),
                                ignore=shutil.ignore_patterns("target"))
            proc = bench(bare, "wire_dashboard")
            self.assertNotEqual(proc.returncode, 0)
            self.assertNotIn('"metrics"', proc.stdout)


if __name__ == "__main__":
    unittest.main()
