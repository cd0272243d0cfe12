"""Tests of the benchmark itself, not of graft.

    python3 -m unittest discover -s graftbench/tests -v

test_traced_counts_repeat runs two traced backfill_verify runs (about two
minutes); the rest take under a minute after the build.
"""
import json
import os
import shutil
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import build  # noqa: E402


def run_bench(cwd, *args):
    return subprocess.run([sys.executable, "graftbench/run.py", *args], cwd=cwd,
                          stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True, timeout=900)


class BenchTest(unittest.TestCase):

    def test_selftest(self):
        """Same seed → byte-identical inputs, other seed → other inputs; every
        planted-truth check rejects a result missing one planted item."""
        jar = build.build()
        tmp = os.path.join(build.WORK, "test-tmp")
        os.makedirs(tmp, exist_ok=True)
        try:
            r = subprocess.run([*build.java_run(tmp, "-cp", build.classpath(jar)),
                                "graftbench.Main", "selftest"],
                               stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
        finally:
            shutil.rmtree(tmp, ignore_errors=True)
        lines = [l for l in r.stdout.splitlines() if l.startswith("selftest:")]
        self.assertGreaterEqual(len(lines), 16, r.stdout + r.stderr)
        self.assertEqual([l for l in lines if "FAIL" in l], [])
        self.assertEqual(r.returncode, 0)

    def test_fails_without_graft_sources(self):
        """Given only BENCHMARK.json and graftbench/, the run fails fast and
        prints no result."""
        bare = os.path.join(build.WORK, "test-bare")
        shutil.rmtree(bare, ignore_errors=True)
        shutil.copytree(BENCH, os.path.join(bare, "graftbench"),
                        ignore=shutil.ignore_patterns("__pycache__"))
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        try:
            r = run_bench(bare, "--workload", "curate", "--seed", "1", "--seconds", "1",
                          "--trace", "0")
        finally:
            shutil.rmtree(bare, ignore_errors=True)
        self.assertNotEqual(r.returncode, 0)
        self.assertNotIn('"correct"', r.stdout)

    def test_rejects_unknown_workload(self):
        r = run_bench(ROOT, "--workload", "nope", "--seed", "1", "--seconds", "1", "--trace", "0")
        self.assertNotEqual(r.returncode, 0)

    def test_traced_counts_repeat(self):
        """Counts from the traced run repeat exactly for one seed."""
        counts = []
        for _ in range(2):
            r = run_bench(ROOT, "--workload", "backfill_verify", "--seed", "3", "--seconds", "1",
                          "--trace", "1")
            self.assertEqual(r.returncode, 0, r.stderr[-2000:])
            m = json.loads(r.stdout.strip().splitlines()[-1])["metrics"]
            counts.append({k: v["value"] for k, v in m.items() if v["unit"] == "count"})
        self.assertEqual(counts[0], counts[1])
        self.assertGreater(counts[0]["engine.tasks"], 0)
        self.assertGreater(counts[0]["recon.bad_buckets"], 0)


if __name__ == "__main__":
    unittest.main()
