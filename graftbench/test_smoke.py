"""Smoke test of the benchmark: every workload on tiny inputs, untraced and
traced, with its output checks; and a checkout without the program must
fail without printing a result.

    python3 -m unittest graftbench/test_smoke.py     (from the repo root)
"""
import json
import os
import shutil
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
RUN = os.path.join(HERE, "run.py")


def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def run(workload, trace, cwd=ROOT):
    return subprocess.run([sys.executable, RUN, "--workload", workload, "--seed", "7",
                           "--seconds", "1", "--trace", str(trace), "--scale", "tiny"],
                          cwd=cwd, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                          text=True, timeout=900)


class Smoke(unittest.TestCase):
    def check(self, workload, trace, names):
        r = run(workload, trace)
        self.assertEqual(r.returncode, 0, r.stderr[-3000:])
        res = json.loads(r.stdout.strip().splitlines()[-1])
        self.assertEqual(set(res), {"correct", "attempted", "failed", "metrics"})
        self.assertTrue(res["correct"], r.stderr[-3000:])
        self.assertEqual(res["failed"], 0)
        self.assertGreaterEqual(res["attempted"], 1)
        self.assertEqual(set(res["metrics"]), names)
        return res["metrics"]

    def test_workloads(self):
        s = spec()
        e2e = {m["name"] for m in s["end_to_end"]}
        layers = {m["name"] for m in s["per_layer"]}
        for w in (w["name"] for w in s["workloads"]):
            with self.subTest(workload=w):
                m = self.check(w, 0, e2e)
                for name in e2e:
                    self.assertGreater(m[name]["value"], 0, name)
                self.check(w, 1, layers)

    def test_fails_without_program(self):
        bare = os.path.join(ROOT, ".bench_build", "smoke-bare")
        shutil.rmtree(bare, ignore_errors=True)
        shutil.copytree(HERE, os.path.join(bare, "graftbench"),
                        ignore=shutil.ignore_patterns("__pycache__"))
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        try:
            r = run("backfill", 0, cwd=bare)
            self.assertNotEqual(r.returncode, 0)
            self.assertEqual(r.stdout.strip(), "")
        finally:
            shutil.rmtree(bare, ignore_errors=True)


if __name__ == "__main__":
    unittest.main()
