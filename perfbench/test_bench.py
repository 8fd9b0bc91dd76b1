#!/usr/bin/env python3
"""The benchmark's own tests: a tiny-size smoke run of every workload, a
traced run, a negative test (a corrupted output must count as a failed
operation) and the refusal to run without the program's sources.

    python3 perfbench/test_bench.py          (from the checkout root)

Each smoke run builds on first use and takes up to about a minute.
"""
import json
import os
import shutil
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)
E2E = {m["name"] for m in SPEC["end_to_end"]}
LAYER = {m["name"] for m in SPEC["per_layer"]}
# per-layer figures of the store, which only daily_curation has
STORE = {"sources.write_s", "sources.bytes_written_mb",
         "sources.files_scanned_ratio", "store.read_p50_s", "store.compact_s",
         "store.write_amp", "store.space_amp"}


def bench(*args, cwd=ROOT):
    p = subprocess.run([sys.executable, os.path.join("perfbench", "run.py"),
                        *args], cwd=cwd, capture_output=True, text=True,
                       timeout=900)
    lines = p.stdout.strip().splitlines()
    return p.returncode, (json.loads(lines[-1]) if lines else None), p.stderr


def smoke(workload, trace=0, seed=7, extra=()):
    return bench("--workload", workload, "--seed", str(seed), "--seconds", "1",
                 "--trace", str(trace), "--size", "tiny", *extra)


class Smoke(unittest.TestCase):
    def check(self, workload, trace, extra=frozenset()):
        code, out, err = smoke(workload, trace)
        self.assertEqual(code, 0, err[-3000:])
        self.assertEqual(set(out), {"correct", "attempted", "failed", "metrics"})
        self.assertTrue(out["correct"], err[-3000:])
        self.assertGreaterEqual(out["attempted"], 1)
        self.assertEqual(out["failed"], 0)
        self.assertEqual(set(out["metrics"]), (LAYER | extra) if trace else E2E)
        for name, m in out["metrics"].items():
            self.assertIsInstance(m["value"], (int, float), name)
            if not trace:
                self.assertGreater(m["value"], 0, name)

    def test_turbofan(self):
        self.check("turbofan", 0)

    def test_turbofan_traced(self):
        self.check("turbofan", 1)

    def test_catalog(self):
        self.check("catalog", 0)

    def test_catalog_traced(self):
        self.check("catalog", 1)

    def test_daily_curation(self):
        self.check("daily_curation", 0)

    def test_daily_curation_traced(self):
        self.check("daily_curation", 1, extra=STORE)


class Negative(unittest.TestCase):
    def test_corrupted_output_counts_as_failed(self):
        code, out, err = smoke("turbofan", extra=("--corrupt-op", "0"))
        self.assertEqual(code, 0, err[-3000:])
        self.assertFalse(out["correct"])
        self.assertGreaterEqual(out["failed"], 1)
        self.assertLess(out["metrics"]["ok_ratio"]["value"], 1.0)

    def test_refuses_without_program_sources(self):
        bare = os.path.join(ROOT, ".perfbench", "bare-checkout")
        shutil.rmtree(bare, ignore_errors=True)
        os.makedirs(bare)
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                        ignore=shutil.ignore_patterns("target"))
        try:
            code, out, _ = bench("--workload", "turbofan", "--seed", "1",
                                 "--seconds", "1", "--trace", "0", cwd=bare)
            self.assertNotEqual(code, 0)
            self.assertIsNone(out)
        finally:
            shutil.rmtree(bare, ignore_errors=True)


if __name__ == "__main__":
    unittest.main(verbosity=2)
