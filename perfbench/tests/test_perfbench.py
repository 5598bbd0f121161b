"""Self-tests of the benchmark's own rules: the tail percentile, fail
accounting, /proc/stat parsing, span self time, the oracle comparator,
and agreement between run.py and BENCHMARK.json.

    python3 -m unittest discover -s perfbench/tests
"""
import decimal
import json
import os
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import metrics  # noqa: E402
import run  # noqa: E402


class TailRule(unittest.TestCase):
    def test_nearest_rank(self):
        vals = list(range(1, 101))
        self.assertEqual(metrics.percentile(vals, 50), 50)
        self.assertEqual(metrics.percentile(vals, 97), 97)
        self.assertEqual(metrics.percentile(vals, 100), 100)
        self.assertEqual(metrics.percentile([7], 99), 7)

    def test_needs_ten_beyond(self):
        self.assertEqual(metrics.tail(list(range(36)), 70), (25, 36))
        with self.assertRaises(ValueError):
            metrics.tail(list(range(35)), 72)

    def test_each_workload_tail_holds_at_its_minimum_sample(self):
        for w, n in run.MIN_SAMPLES.items():
            self.assertGreaterEqual(
                metrics.samples_beyond(n, run.TAIL_PCT[w]), 10, w)


class FailAccounting(unittest.TestCase):
    def test_counts_ops_and_checks(self):
        self.assertEqual(metrics.fail_accounting([True] * 8, []), (8, 0))
        self.assertEqual(
            metrics.fail_accounting([True, False, True], ["q01: rowcount"]),
            (4, 2))


STAT_0 = """cpu  100 5 50 1000 10 0 5 20 0 0
cpu0 50 2 25 500 5 0 2 10 0 0
intr 12345
"""
STAT_1 = """cpu  200 5 100 1500 10 0 5 40 7 0
cpu0 100 2 50 750 5 0 2 20 3 0
"""


class ProcStat(unittest.TestCase):
    def test_parse_aggregate_line(self):
        self.assertEqual(metrics.parse_proc_stat(STAT_0), (1190, 20))

    def test_steal_fraction(self):
        # total 1190 -> 1860 (guest 7 is inside user), steal 20 -> 40
        self.assertAlmostEqual(metrics.steal_frac(STAT_0, STAT_1), 20 / 670)

    def test_rejects_text_without_cpu_line(self):
        with self.assertRaises(ValueError):
            metrics.parse_proc_stat("intr 1\n")


class SelfTimes(unittest.TestCase):
    def test_children_are_subtracted_once(self):
        spans = [(1, 0, "op.q", 0.0, 10.0),
                 (2, 1, "spark.job", 2.0, 6.0),
                 (3, 1, "spark.job", 4.0, 8.0),
                 (4, 2, "spark.stage", 2.0, 3.0)]
        st = metrics.self_times(spans)
        self.assertAlmostEqual(st["op"], 4.0)     # 10 - union(2..8)
        self.assertAlmostEqual(st["spark"], 3.0 + 4.0 + 1.0)


class OracleCompare(unittest.TestCase):
    def setUp(self):
        import pandas as pd
        import oracle
        self.pd, self.oracle = pd, oracle

    def frame(self, **cols):
        return self.pd.DataFrame(cols)

    def test_equal_frames_in_any_column_order(self):
        a = self.frame(x=[1, 2], y=["a", None])
        b = self.pd.DataFrame({"y": ["a", None], "x": [1, 2]})
        self.assertIsNone(self.oracle.compare(a, b))

    def test_decimal_against_float_fails_even_when_equal(self):
        a = self.frame(v=[decimal.Decimal("1.50")])
        b = self.frame(v=[1.5])
        self.assertIn("value-type mismatch", self.oracle.compare(a, b))

    def test_decimal_scale_is_part_of_the_value(self):
        a = self.frame(v=[decimal.Decimal("1.50")])
        b = self.frame(v=[decimal.Decimal("1.5")])
        self.assertIn("row 0", self.oracle.compare(a, b))

    def test_row_count_and_columns(self):
        self.assertIn("rowcount", self.oracle.compare(
            self.frame(x=[1, 2]), self.frame(x=[1])))
        self.assertIn("columns differ", self.oracle.compare(
            self.frame(x=[1]), self.frame(z=[1])))

    def test_order_matters(self):
        self.assertIn("row 0", self.oracle.compare(
            self.frame(x=[1, 2]), self.frame(x=[2, 1])))


class BenchmarkFile(unittest.TestCase):
    def setUp(self):
        root = os.path.dirname(os.path.dirname(HERE))
        with open(os.path.join(root, "BENCHMARK.json")) as f:
            self.spec = json.load(f)

    def test_workloads_and_metrics_match_run_py(self):
        self.assertEqual([w["name"] for w in self.spec["workloads"]],
                         run.WORKLOADS)
        self.assertEqual([(m["name"], m["unit"]) for m in self.spec["end_to_end"]],
                         run.END_TO_END)
        self.assertEqual([(m["name"], m["unit"]) for m in self.spec["per_layer"]],
                         run.PER_LAYER)


if __name__ == "__main__":
    unittest.main()
