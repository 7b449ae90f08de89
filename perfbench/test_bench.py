#!/usr/bin/env python3
"""The benchmark's own tests.

    python3 perfbench/test_bench.py          (from the root of a checkout)

The harness tests build the engine if needed and run two short JVMs over the
whole scan_10x query list (about two minutes on four cores).
"""
import filecmp
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

import gen  # noqa: E402
import oracle  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)


def bench(*args, cwd=ROOT, script=os.path.join(HERE, "run.py")):
    p = subprocess.run([sys.executable, script, *args], cwd=cwd, capture_output=True,
                       text=True, timeout=900)
    return p.returncode, p.stdout.splitlines(), p.stderr


class Harness(unittest.TestCase):
    QUERIES = gen.load_workloads()["scan_10x"]["queries"]
    FAULTED = ("rel_pricing_summary", "rel_join_revenue")

    @classmethod
    def setUpClass(cls):
        cls.plain = bench("--workload", "scan_10x", "--seed", "1", "--seconds", "1",
                          "--trace", "0", "--fault", f"{cls.FAULTED[0]}:throw",
                          "--fault", f"{cls.FAULTED[1]}:wrong")
        cls.traced = bench("--workload", "scan_10x", "--seed", "1", "--seconds", "1",
                           "--trace", "1")

    def result(self, run):
        code, out, err = run
        self.assertEqual(code, 0, err[-3000:])
        return json.loads(out[-1])

    def test_last_line_is_the_result_object(self):
        for run in (self.plain, self.traced):
            r = self.result(run)
            self.assertEqual(set(r), {"correct", "attempted", "failed", "metrics"})
            self.assertIsInstance(r["attempted"], int)
            self.assertGreaterEqual(r["attempted"], 1)
            self.assertFalse(any(l.startswith("[") for l in run[1]))

    def test_throw_and_wrong_output_are_failures(self):
        r = self.result(self.plain)
        # every execution of the two faulted queries fails, the others pass
        n = len(self.QUERIES)
        self.assertFalse(r["correct"])
        self.assertEqual(r["attempted"] % n, 0)
        self.assertEqual(r["failed"], r["attempted"] // n * 2)
        err = self.plain[2]
        self.assertIn(f"FAIL {self.FAULTED[0]}: threw", err)
        self.assertIn(f"FAIL {self.FAULTED[1]}:", err)
        for q in self.QUERIES:
            if q not in self.FAULTED:
                self.assertNotIn(f"FAIL {q}", err)
        # a failure never drops the pass: the time is still reported
        self.assertGreater(r["metrics"]["pass_s"]["value"], 0)

    def test_every_metric_is_printed_with_its_unit(self):
        for run, key in ((self.plain, "end_to_end"), (self.traced, "per_layer")):
            got = self.result(run)["metrics"]
            self.assertEqual(set(got), {m["name"] for m in SPEC[key]})
            for m in SPEC[key]:
                self.assertEqual(got[m["name"]]["unit"], m["unit"], m["name"])
                self.assertIsInstance(got[m["name"]]["value"], (int, float))
        summary = " ".join(self.plain[1][:-1])
        for name, unit in (("setup_s", "s"), ("pass_s", "s"), ("failed_frac", "ratio"),
                           ("peak_rss_mb", "MB")):
            self.assertRegex(summary, rf"{name}\s+\S+ {unit}\b")

    def test_traced_run_is_correct(self):
        r = self.result(self.traced)
        self.assertTrue(r["correct"])
        self.assertEqual(r["failed"], 0)


class Inputs(unittest.TestCase):
    def test_same_seed_same_bytes(self):
        with tempfile.TemporaryDirectory(dir=ROOT) as d:
            a, b, c = (os.path.join(d, x) for x in "abc")
            facts = gen.generate("topic_dedup", 7, a)
            self.assertEqual(facts, gen.generate("topic_dedup", 7, b))
            gen.generate("topic_dedup", 8, c)
            names = sorted(os.listdir(a))
            self.assertEqual(filecmp.cmpfiles(a, b, names, shallow=False)[0], names)
            self.assertFalse(filecmp.cmp(os.path.join(a, "documents.parquet"),
                                         os.path.join(c, "documents.parquet"), shallow=False))

    def test_canonical_reals(self):
        # one ulp apart (DuckDB's decimal-to-double cast) must agree
        self.assertEqual(oracle.real(3065687990.7030005), oracle.real(3065687990.703))
        self.assertEqual(oracle.real(-0.0), "0E0")
        self.assertEqual(oracle.real(1234567895.0), "12345679E2")


class Refuses(unittest.TestCase):
    def test_fails_without_engine_sources(self):
        with tempfile.TemporaryDirectory() as d:
            shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), d)
            for p in SPEC["paths"]:
                shutil.copytree(os.path.join(ROOT, p), os.path.join(d, p),
                                ignore=shutil.ignore_patterns("target", "__pycache__"))
            code, out, _ = bench("--workload", SPEC["workloads"][0]["name"], "--seed", "1",
                                 "--seconds", "1", "--trace", "0", cwd=d,
                                 script=os.path.join(d, "perfbench", "run.py"))
            self.assertNotEqual(code, 0)
            self.assertEqual(out, [])


if __name__ == "__main__":
    unittest.main()
