#!/usr/bin/env python3
"""Tests of the benchmark itself. Run from the root of a checkout:

    python3 perfbench/test_bench.py

The oracle and input tests take seconds. The run tests drive
perfbench/run.py (five runs, several minutes on 4 cores) and check that the
deterministic counters repeat exactly for a fixed seed, and that a corrupted
query result, a failing query or a changed end-state fingerprint is counted
as an error.
"""
import decimal
import hashlib
import json
import os
import re
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import datagen  # noqa: E402
import oracle  # noqa: E402

D = decimal.Decimal


class OracleCompare(unittest.TestCase):
    def test_decimals_compare_by_value(self):
        self.assertTrue(oracle.cell_eq(D("1.10"), D("1.1")))
        self.assertTrue(oracle.cell_eq(D("3"), 3))
        self.assertFalse(oracle.cell_eq(D("1.1"), D("1.2")))

    def test_null_equals_only_null(self):
        self.assertTrue(oracle.cell_eq(None, None))
        self.assertFalse(oracle.cell_eq(None, "None"))
        self.assertFalse(oracle.cell_eq(0, None))

    def test_floats(self):
        self.assertTrue(oracle.cell_eq(float("nan"), float("nan")))
        self.assertTrue(oracle.cell_eq(0.5, D("0.5")))
        self.assertFalse(oracle.cell_eq(0.1 + 0.2, 0.3))

    def test_rows_sort_on_canonical_cells(self):
        # the same multiset, with cells of different types and rows in
        # another order, is equal; one changed cell is not
        got = [(2, "b", None), (D("1.0"), "a", 1.5)]
        want = [(1, "a", D("1.5")), (D("2.00"), "b", None)]
        self.assertIsNone(oracle.rows_equal(got, want))
        self.assertIsNotNone(oracle.rows_equal(got, [(1, "a", D("1.5")), (2, "b", 0)]))
        self.assertIsNotNone(oracle.rows_equal(got, want[:1]))


class Inputs(unittest.TestCase):
    def digest(self, seed):
        with tempfile.TemporaryDirectory(dir=ROOT) as d:
            datagen.write(seed, d)
            h = hashlib.sha256()
            for t in sorted(os.listdir(d)):
                with open(os.path.join(d, t), "rb") as fh:
                    h.update(fh.read())
            return h.hexdigest()

    def test_same_seed_same_inputs(self):
        self.assertEqual(self.digest(7), self.digest(7))
        self.assertNotEqual(self.digest(7), self.digest(8))


def run(workload, seed, trace, corrupt=None):
    env = dict(os.environ)
    env.pop("PERFBENCH_CORRUPT", None)
    if corrupt:
        env["PERFBENCH_CORRUPT"] = corrupt
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", workload,
                        "--seed", str(seed), "--seconds", "15", "--trace", str(trace)],
                       cwd=ROOT, env=env, capture_output=True, text=True, timeout=900)
    if p.returncode != 0:
        raise AssertionError(p.stderr[-3000:])
    lines = p.stdout.splitlines()
    counters = dict(re.findall(r"^  counter (\S+) = (\S+)$", p.stdout, re.M))
    fingerprint = re.search(r"^  fingerprint = (.*)$", p.stdout, re.M)
    return json.loads(lines[-1]), counters, fingerprint and fingerprint.group(1)


class Runs(unittest.TestCase):
    """Counters that must repeat exactly for a fixed seed: durable bytes per
    crawl table, scan files per history table, exchanges per query, and the
    end-state fingerprint. JVM-allocated bytes are reported beside them but
    do not repeat exactly (JIT timing changes what escape analysis removes)."""

    SEED = 90210

    def test_history_repeats_and_fingerprint_corruption_counts(self):
        first, c1, f1 = run("history", self.SEED, 0)
        second, c2, f2 = run("history", self.SEED, 1, corrupt="fingerprint")
        exact = {k: v for k, v in c1.items() if k.startswith(("durable_bytes.", "scan_files."))}
        self.assertTrue(exact)
        self.assertEqual(exact, {k: c2[k] for k in exact})
        self.assertEqual(f1, f2)
        self.assertEqual(first["failed"], 0)
        self.assertGreater(second["failed"], 0)
        self.assertFalse(second["correct"])

    def test_queries_repeat_and_result_corruption_counts(self):
        clean, c1, _ = run("queries", self.SEED, 1)
        bad, c2, _ = run("queries", self.SEED, 1, corrupt="query")
        exact = {k: v for k, v in c1.items() if k.startswith("exchanges.")}
        self.assertEqual(len(exact), 19)
        self.assertEqual(exact, {k: c2[k] for k in exact})
        self.assertGreater(bad["failed"], clean["failed"])
        self.assertFalse(bad["correct"])

    def test_failing_query_counts_and_the_run_still_reports(self):
        bad, _, _ = run("queries", self.SEED, 0, corrupt="throw")
        self.assertGreater(bad["failed"], 0)
        self.assertFalse(bad["correct"])
        self.assertGreater(bad["metrics"]["work_s"]["value"], 0)


if __name__ == "__main__":
    unittest.main(verbosity=2)
