#!/usr/bin/env python3
"""Tests of the benchmark itself. From the root of a checkout:

    python3 perfbench/test_perfbench.py

The arithmetic tests need DuckDB and tools/compare_local.py. The plan
test builds the engine (as a benchmark run does) and runs q1 in two
timed passes through the harness on the committed input.
"""
import json
import os
import sys
import time
import unittest

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import stats  # noqa: E402


class PercentileRule(unittest.TestCase):
    def test_nearest_rank(self):
        xs = list(range(1, 101))
        self.assertEqual(stats.percentile(xs, 50), 50)
        self.assertEqual(stats.percentile(xs, 90), 90)
        self.assertEqual(stats.percentile(xs, 100), 100)
        self.assertEqual(stats.percentile([3.0], 99), 3.0)
        self.assertEqual(stats.percentile([], 50), 0.0)
        self.assertEqual(stats.percentile([5, 1, 3], 50), 3)

    def test_ten_samples_beyond(self):
        for n in range(20, 400):
            p = stats.tail_pct(n)
            xs = list(range(n))
            v = stats.percentile(xs, p)
            self.assertGreaterEqual(sum(1 for x in xs if x > v), 10, (n, p))
            w = stats.percentile(xs, p + 1)  # the next percentile up has fewer
            self.assertLess(sum(1 for x in xs if x > w), 10, (n, p))

    def test_tail_points(self):
        self.assertIsNone(stats.tail_pct(19))
        self.assertEqual(stats.tail_pct(20), 50)
        self.assertEqual(stats.tail_pct(24), 58)
        self.assertEqual(stats.tail_pct(40), 75)
        self.assertEqual(stats.tail_pct(100), 90)
        self.assertEqual(stats.tail_pct(1000), 99)


class Canonicalisation(unittest.TestCase):
    """The digest of an answer, canonicalised by tools/compare_local.py."""

    def setUp(self):
        import duckdb
        self.con = duckdb.connect()

    def answer(self, sql):
        return stats.answer(self.con.sql(sql))

    def test_order_insensitive(self):
        a = self.answer("SELECT * FROM (VALUES (1, 'x'), (2, 'y'), (NULL, 'z')) t(b, a)")
        rows = self.answer("SELECT * FROM (VALUES (NULL, 'z'), (2, 'y'), (1, 'x')) t(b, a)")
        cols = self.answer("SELECT a, b FROM (VALUES (1, 'x'), (2, 'y'), (NULL, 'z')) t(b, a)")
        self.assertEqual(a, rows)
        self.assertEqual(a, cols)
        self.assertEqual(a["rows"], 3)

    def test_values_matter(self):
        d1 = self.answer("SELECT * FROM (VALUES (0.1::DOUBLE), (0.2::DOUBLE)) t(a)")
        d2 = self.answer("SELECT * FROM (VALUES (0.1::DOUBLE), (0.2000000000000001::DOUBLE)) t(a)")
        d3 = self.answer("SELECT * FROM (VALUES (0.1::DOUBLE), (0.2::DOUBLE), (0.2::DOUBLE)) t(a)")
        renamed = self.answer("SELECT * FROM (VALUES (0.1::DOUBLE), (0.2::DOUBLE)) t(b)")
        self.assertNotEqual(d1, d2)
        self.assertNotEqual(d1, d3)
        self.assertNotEqual(d1, renamed)

    def test_nan_and_hugeint(self):
        nan = self.answer("SELECT 'NaN'::DOUBLE AS n")
        self.assertEqual(nan, self.answer("SELECT 'NaN'::DOUBLE + 1 AS n"))
        # a HUGEINT 42 reads as 42.0, so it differs from a BIGINT 42
        huge = self.answer("SELECT 42::HUGEINT AS h")
        self.assertEqual(huge, self.answer("SELECT 42.0::DOUBLE AS h"))
        self.assertNotEqual(huge, self.answer("SELECT 42::BIGINT AS h"))
        self.assertEqual(self.answer("SELECT 42::INTEGER AS h"),
                         self.answer("SELECT 42::BIGINT AS h"))


class TimedPlan(unittest.TestCase):
    def test_q1_timed_plan_evaluates_every_aggregate(self):
        import run
        os.makedirs(os.path.join(run.WORK, "tmp"), exist_ok=True)
        run.build()
        res = run.harness("plancheck", time.time() + 600, "--mode", "run",
                          "--input", run.BASE, "--pattern", "q1_pricing_summary",
                          "--check-only", "$^", "--seed", "0", "--passes", "2",
                          "--trace", "0", "--kernel", "none", "--q1check", "1",
                          "--dump", os.path.join(run.WORK, "plancheck"),
                          "--spans", os.path.join(run.WORK, "plancheck-spans.json"))
        q1 = res["q1_plan"]
        self.assertEqual(q1["passes"], 2, json.dumps(q1))
        self.assertGreaterEqual(q1["required"], 7, json.dumps(q1))
        self.assertGreaterEqual(q1["timed"], q1["required"], json.dumps(q1))
        self.assertTrue(q1["ok"])


if __name__ == "__main__":
    unittest.main()
