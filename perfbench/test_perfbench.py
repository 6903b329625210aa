#!/usr/bin/env python3
"""Tests of the benchmark harness itself.

    python3 perfbench/test_perfbench.py

Compiles the benchmark when needed (as run.py does); needs no Spark
session, so it takes about a minute on a cold build and seconds after.
"""

import filecmp
import json
import os
import re
import shutil
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import run  # noqa: E402

with open(os.path.join(run.ROOT, "BENCHMARK.json")) as _fh:
    SPEC = json.load(_fh)
PARAMS = os.path.join(run.HERE, "params.json")


def setUpModule():
    run.build()


class GeneratorTest(unittest.TestCase):
    def gen(self, workload, seed, out):
        code, lines = run.jvm(["gen", "--workload", workload, "--seed", str(seed),
                               "--seconds", "4", "--out", out, "--params", PARAMS],
                              f"test-gen-{workload}.log")
        self.assertEqual(code, 0, lines)

    def test_same_seed_gives_identical_bytes(self):
        tmp = tempfile.mkdtemp(dir=run.BUILD)
        try:
            for w in [x["name"] for x in SPEC["workloads"]]:
                a, b, c = (os.path.join(tmp, f"{w}-{k}") for k in "abc")
                self.gen(w, 7, a)
                self.gen(w, 7, b)
                self.gen(w, 8, c)
                names = sorted(os.listdir(a))
                self.assertTrue(names, w)
                self.assertEqual(names, sorted(os.listdir(b)), w)
                _, mismatch, errors = filecmp.cmpfiles(a, b, names, shallow=False)
                self.assertEqual((mismatch, errors), ([], []), w)
                _, mismatch, _ = filecmp.cmpfiles(a, c, names, shallow=False)
                self.assertTrue(mismatch, f"{w}: another seed should change the inputs")
        finally:
            shutil.rmtree(tmp, ignore_errors=True)


class MetricNamesTest(unittest.TestCase):
    def raw(self, names):
        return {"correct": True, "attempted": 3, "failed": 0,
                "values": {n: 1.5 for n in names}}

    def test_every_end_to_end_metric_is_printed_with_its_unit(self):
        names = [m["name"] for m in SPEC["end_to_end"]]
        out = run.assemble(self.raw(names), SPEC, trace=False)
        self.assertEqual(list(out["metrics"]), names)
        for m in SPEC["end_to_end"]:
            self.assertEqual(out["metrics"][m["name"]]["unit"], m["unit"])

    def test_a_metric_missing_from_benchmark_json_is_refused(self):
        names = [m["name"] for m in SPEC["end_to_end"]] + ["not_declared_s"]
        with self.assertRaises(run.BenchError):
            run.assemble(self.raw(names), SPEC, trace=False)
        with self.assertRaises(run.BenchError):
            run.assemble(self.raw(["streaming.epochs", "not.declared"]), SPEC, trace=True)

    def test_an_unmeasured_end_to_end_metric_is_refused(self):
        names = [m["name"] for m in SPEC["end_to_end"]][1:]
        with self.assertRaises(run.BenchError):
            run.assemble(self.raw(names), SPEC, trace=False)

    def test_benchmark_json_is_well_formed(self):
        self.assertEqual(set(SPEC), {"command", "paths", "run_seconds", "workloads",
                                     "end_to_end", "per_layer"})
        name = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.\-]{0,63}$")
        unit = re.compile(r"^[A-Za-z0-9_/%.\-]{1,16}$")
        seen = set()
        for m in SPEC["end_to_end"] + SPEC["per_layer"] + SPEC["workloads"]:
            self.assertRegex(m["name"], name)
            self.assertNotIn(m["name"], seen)
            seen.add(m["name"])
        for m in SPEC["end_to_end"]:
            self.assertEqual(set(m), {"name", "unit", "better", "bound"})
            self.assertRegex(m["unit"], unit)
            self.assertLessEqual(m["bound"], 0.25)
        for m in SPEC["per_layer"]:
            self.assertEqual(set(m), {"name", "unit", "better"})
            self.assertRegex(m["unit"], unit)
        setup = [m for m in SPEC["end_to_end"] if m["name"] == "setup_s"]
        self.assertEqual(setup[0]["unit"], "s")
        self.assertEqual(setup[0]["bound"], max(m["bound"] for m in SPEC["end_to_end"]))


class HarnessTest(unittest.TestCase):
    def test_a_throwing_operation_is_counted_as_failed_not_timed(self):
        code, lines = run.jvm(["selftest"], "test-selftest.log")
        self.assertEqual(code, 0, lines)
        self.assertIn("[selftest] ok   throwing op counts as attempted and failed", lines)
        self.assertIn("[selftest] ok   throwing op leaves no latency sample", lines)


if __name__ == "__main__":
    unittest.main()
