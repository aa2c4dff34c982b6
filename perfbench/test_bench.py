#!/usr/bin/env python3
"""Tests of the benchmark itself, at smoke size.

    python3 -m unittest perfbench/test_bench.py      (from the repository root)

They check that every workload runs clean and prints the promised metrics,
that a planted wrong checksum and a planted wrong fingerprint each make the
run report failures, and that the benchmark refuses to run without the
engine's sources.
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
with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
    BENCH = json.load(fh)


def bench(*args, cwd=ROOT):
    out = subprocess.run([sys.executable, os.path.join("perfbench", "run.py"), *args],
                         cwd=cwd, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
                         timeout=900)
    lines = out.stdout.strip().splitlines()
    return out.returncode, (json.loads(lines[-1]) if lines else None), out.stderr


def smoke(workload, *extra, trace=0):
    return bench("--workload", workload, "--seed", "7", "--seconds", "1",
                 "--trace", str(trace), "--smoke", *extra)


class SmokeRuns(unittest.TestCase):
    def check_clean(self, res, names):
        rc, out, err = res
        self.assertEqual(rc, 0, err[-2000:])
        self.assertEqual(set(out), {"correct", "attempted", "failed", "metrics"})
        self.assertTrue(out["correct"], out)
        self.assertEqual(out["failed"], 0)
        self.assertGreaterEqual(out["attempted"], 1)
        self.assertEqual(set(out["metrics"]), set(names))
        for m in out["metrics"].values():
            self.assertIsInstance(m["value"], (int, float))

    def test_every_workload_end_to_end(self):
        names = [m["name"] for m in BENCH["end_to_end"]]
        for w in BENCH["workloads"]:
            with self.subTest(workload=w["name"]):
                res = smoke(w["name"])
                self.check_clean(res, names)
                for n in names:
                    self.assertGreater(res[1]["metrics"][n]["value"], 0, n)

    def test_traced_run_reports_every_layer(self):
        self.check_clean(smoke("tile_ingest", trace=1), [m["name"] for m in BENCH["per_layer"]])


class PlantedDefects(unittest.TestCase):
    def test_wrong_expected_checksum_fails_ops(self):
        rc, out, _ = smoke("spatial_queries", "--plant", "checksum")
        self.assertEqual(rc, 0)
        self.assertFalse(out["correct"])
        self.assertGreater(out["failed"], 0)

    def test_perturbed_fingerprint_fails_ops(self):
        with tempfile.TemporaryDirectory() as tmp:
            rc, out, _ = smoke("tile_ingest", "--plant", "fingerprint", "--save", tmp)
            self.assertEqual(rc, 0)
            self.assertFalse(out["correct"])
            self.assertGreater(out["failed"], 0)
            # the perturbed reference is the one stored by earlier runs of the seed
            (name,) = os.listdir(tmp)
            with open(os.path.join(tmp, name)) as fh:
                facts = json.load(fh)["workload_facts"]
            self.assertEqual(facts["reference_from"], "stored")


class WithoutEngine(unittest.TestCase):
    def test_refuses_to_run_without_engine_sources(self):
        with tempfile.TemporaryDirectory() as tmp:
            shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp)
            for p in BENCH["paths"]:
                shutil.copytree(os.path.join(ROOT, p), os.path.join(tmp, p),
                                ignore=shutil.ignore_patterns("target", "__pycache__"))
            rc, out, _ = bench("--workload", "tile_ingest", "--seed", "1", "--seconds", "1",
                               "--trace", "0", cwd=tmp)
            self.assertNotEqual(rc, 0)
            self.assertIsNone(out)


if __name__ == "__main__":
    unittest.main()
