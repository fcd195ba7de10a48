#!/usr/bin/env python3
"""The benchmark's own tests. Run from the root of a checkout:

    python3 perfbench/tests/test_run.py

Each test runs the launcher for a few seconds per workload, so the whole
file takes a few minutes.
"""
import json
import os
import shutil
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(os.path.dirname(HERE))

with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
    SPEC = json.load(fh)


def run(workload, trace, *extra, cwd=ROOT):
    p = subprocess.run(
        [sys.executable, os.path.join(cwd, "perfbench", "run.py"),
         "--workload", workload, "--seed", "3",
         "--seconds", "3", "--trace", str(trace)] + list(extra),
        cwd=cwd, capture_output=True, text=True, timeout=900)
    return p


def result(p):
    assert p.returncode == 0, p.stderr[-3000:]
    return json.loads(p.stdout.strip().splitlines()[-1])


class MetricsTest(unittest.TestCase):
    def test_every_metric_printed_with_its_unit(self):
        for w in SPEC["workloads"]:
            for trace, key in ((0, "end_to_end"), (1, "per_layer")):
                with self.subTest(workload=w["name"], trace=trace):
                    r = result(run(w["name"], trace))
                    self.assertEqual(set(r), {"correct", "attempted",
                                              "failed", "metrics"})
                    self.assertTrue(r["correct"])
                    self.assertGreaterEqual(r["attempted"], 1)
                    want = {m["name"]: m["unit"] for m in SPEC[key]}
                    got = {k: v["unit"] for k, v in r["metrics"].items()}
                    self.assertEqual(got, want)
                    for k, v in r["metrics"].items():
                        self.assertIsInstance(v["value"], (int, float), k)
                    if trace == 0:
                        for k, v in r["metrics"].items():
                            self.assertGreater(v["value"], 0, k)

    def test_injected_failure_raises_fail_frac(self):
        r = result(run("match", 1, "--inject-fail", "0"))
        self.assertFalse(r["correct"])
        self.assertGreaterEqual(r["failed"], 1)
        self.assertGreater(r["metrics"]["fail_frac"]["value"], 0)


class LauncherTest(unittest.TestCase):
    def test_refuses_without_program_sources(self):
        build_dir = os.path.join(ROOT, ".bench_build")
        os.makedirs(build_dir, exist_ok=True)
        d = tempfile.mkdtemp(dir=build_dir)
        try:
            shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), d)
            for path in SPEC["paths"]:
                shutil.copytree(os.path.join(ROOT, path),
                                os.path.join(d, path))
            p = run("mine", 0, cwd=d)
            self.assertNotEqual(p.returncode, 0)
            self.assertFalse(p.stdout.strip().startswith("{"))
        finally:
            shutil.rmtree(d)


if __name__ == "__main__":
    unittest.main()
