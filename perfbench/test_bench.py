#!/usr/bin/env python3
"""The benchmark's own tests: every workload at a tiny size.

    python3 perfbench/test_bench.py

Checks that a run prints every end-to-end metric with its unit, that a
corrupted result makes the command fail, that the traced artifact holds
every layer, and that the command refuses to run without the engine's
sources. Each test starts the workload JVM, so the file takes minutes.
"""
import json
import os
import shutil
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import run  # noqa: E402

SPEC = run.bench_spec()
LAYERS = ("catalyst", "codegen", "scheduler", "exec", "driver", "queries",
          "pipelines", "sources", "sinks", "ext", "functions")


def bench(workload, *extra, cwd=ROOT):
    p = subprocess.run(
        [sys.executable, os.path.join(cwd, "perfbench", "run.py"), "--workload", workload,
         "--seed", "7", "--seconds", "1", "--tiny", "1", *extra],
        cwd=cwd, capture_output=True, text=True, timeout=900)
    lines = p.stdout.strip().splitlines()
    return p.returncode, json.loads(lines[-1]) if lines else None


class BenchmarkTest(unittest.TestCase):
    def test_every_metric_printed_with_unit(self):
        for w in run.WORKLOADS:
            code, out = bench(w, "--trace", "0")
            self.assertEqual(code, 0, w)
            self.assertEqual(set(out), {"correct", "attempted", "failed", "metrics"})
            self.assertTrue(out["correct"])
            self.assertEqual(out["failed"], 0)
            for m in SPEC["end_to_end"]:
                got = out["metrics"][m["name"]]
                self.assertEqual(got["unit"], m["unit"])
                self.assertGreater(got["value"], 0, f"{w} {m['name']}")

    def test_corrupted_result_fails(self):
        for w in run.WORKLOADS:
            code, out = bench(w, "--trace", "0", "--corrupt", "1")
            self.assertNotEqual(code, 0, w)
            self.assertFalse(out["correct"], w)

    def test_traced_artifact_has_every_layer(self):
        exercised = set()
        for w in run.WORKLOADS:
            code, out = bench(w, "--trace", "1")
            self.assertEqual(code, 0, w)
            self.assertEqual(set(out["metrics"]), {m["name"] for m in SPEC["per_layer"]})
            with open(os.path.join(run.WORK, "artifacts", f"trace-{w}-7.json")) as f:
                art = json.load(f)
            self.assertTrue(art["spans"], w)
            exercised |= {k.split(".")[0] for k, v in art["reported"].items() if v["value"]}
        self.assertEqual(set(LAYERS) - exercised, set())

    def test_fails_without_engine_sources(self):
        with tempfile.TemporaryDirectory(dir=run.WORK) as d:
            shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), d)
            shutil.copytree(HERE, os.path.join(d, "perfbench"),
                            ignore=shutil.ignore_patterns("target", "__pycache__"))
            code, out = bench(run.WORKLOADS[0], "--trace", "0", cwd=d)
            self.assertNotEqual(code, 0)
            self.assertIsNone(out)


if __name__ == "__main__":
    os.makedirs(run.WORK, exist_ok=True)
    unittest.main()
