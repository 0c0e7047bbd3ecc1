#!/usr/bin/env python3
"""Smoke test of the benchmark: every workload at tiny size, untraced and
traced, must answer correctly and print every metric BENCHMARK.json names.

    python3 perfbench/smoke_test.py
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
SPEC = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))


def run(workload, trace, cwd=ROOT, script=os.path.join(HERE, "run.py")):
    return subprocess.run(
        [sys.executable, script, "--workload", workload, "--seed", "7",
         "--seconds", "1", "--trace", str(trace), "--scale", "tiny"],
        cwd=cwd, capture_output=True, text=True, timeout=600)


class SmokeTest(unittest.TestCase):

    def check(self, workload, trace):
        p = run(workload, trace)
        self.assertEqual(p.returncode, 0, p.stderr[-3000:])
        result = json.loads(p.stdout.strip().splitlines()[-1])
        self.assertEqual(set(result), {"correct", "attempted", "failed", "metrics"})
        self.assertTrue(result["correct"])
        self.assertEqual(result["failed"], 0)
        self.assertGreaterEqual(result["attempted"], 1)
        wanted = SPEC["per_layer"] if trace else SPEC["end_to_end"]
        self.assertEqual(set(result["metrics"]), {m["name"] for m in wanted})
        if not trace:
            for name, m in result["metrics"].items():
                self.assertGreater(m["value"], 0, name)

    def test_serve(self):
        self.check("serve", 0)
        self.check("serve", 1)

    def test_ingest(self):
        self.check("ingest", 0)
        self.check("ingest", 1)

    def test_curate(self):
        self.check("curate", 0)
        self.check("curate", 1)

    def test_fails_without_the_program(self):
        # a directory holding only BENCHMARK.json and the benchmark
        with tempfile.TemporaryDirectory(dir=os.path.join(HERE, "work")) as d:
            shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), d)
            shutil.copytree(HERE, os.path.join(d, "perfbench"), ignore=shutil.ignore_patterns(
                "target", "work", "out", "project/project"))
            p = run("serve", 0, cwd=d, script=os.path.join(d, "perfbench", "run.py"))
            self.assertNotEqual(p.returncode, 0)
            self.assertEqual(p.stdout.strip(), "")


if __name__ == "__main__":
    os.makedirs(os.path.join(HERE, "work"), exist_ok=True)
    unittest.main()
