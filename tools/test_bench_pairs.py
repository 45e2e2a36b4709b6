"""Unit tests of tools/bench_pairs.py's summary arithmetic and its
per-operation aggregation.

    python3 -m unittest discover -s tools -p 'test_*.py'
"""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from bench_pairs import add_op_pairs, op_medians, quantile, summarize  # noqa: E402


class QuantileTest(unittest.TestCase):
    def test_interpolates_between_ranks(self):
        xs = [4.0, 1.0, 3.0, 2.0]
        self.assertEqual(quantile(xs, 0.0), 1.0)
        self.assertEqual(quantile(xs, 1.0), 4.0)
        self.assertAlmostEqual(quantile(xs, 0.5), 2.5)
        self.assertAlmostEqual(quantile(xs, 0.25), 1.75)
        self.assertAlmostEqual(quantile(xs, 0.75), 3.25)

    def test_single_value(self):
        self.assertEqual(quantile([7.0], 0.25), 7.0)

    def test_empty_raises(self):
        with self.assertRaises(ValueError):
            quantile([], 0.5)


class SummarizeTest(unittest.TestCase):
    def test_lower_is_better(self):
        pairs = [(1.0, 0.9), (1.2, 1.3), (1.1, 1.0)]
        s = summarize(pairs, "lower", 0.25)
        self.assertAlmostEqual(s["parent_median"], 1.1)
        self.assertAlmostEqual(s["parent_q1"], 1.05)
        self.assertAlmostEqual(s["parent_q3"], 1.15)
        self.assertAlmostEqual(s["change_median"], 1.0)
        self.assertEqual((s["won"], s["pairs"]), (2, 3))
        self.assertTrue(s["within_bound"])

    def test_higher_is_better(self):
        pairs = [(10.0, 11.0), (10.0, 9.0), (10.0, 12.0), (10.0, 10.0)]
        s = summarize(pairs, "higher", 0.1)
        self.assertEqual(s["won"], 2)  # ties are not wins
        self.assertAlmostEqual(s["change_median"], 10.5)
        self.assertTrue(s["within_bound"])

    def test_bound_edges(self):
        # lower is better: exactly parent * (1 + bound) is within
        self.assertTrue(summarize([(2.0, 2.5)], "lower", 0.25)["within_bound"])
        self.assertFalse(summarize([(2.0, 2.51)], "lower", 0.25)["within_bound"])
        # higher is better: exactly parent * (1 - bound) is within
        self.assertTrue(summarize([(100.0, 90.0)], "higher", 0.1)["within_bound"])
        self.assertFalse(summarize([(100.0, 89.9)], "higher", 0.1)["within_bound"])

    def test_rejects_unknown_direction(self):
        with self.assertRaises(ValueError):
            summarize([(1.0, 1.0)], "smaller", 0.1)


def op(name, secs, kind="read", ok=True, traced=False):
    return {"kind": kind, "name": name, "secs": secs, "ok": ok, "traced": traced}


class OpMediansTest(unittest.TestCase):
    def test_median_per_name_over_timed_completed_untraced_ops(self):
        record = {"ops": [
            op("summary", 0.3), op("summary", 0.1), op("summary", 0.2),
            op("summary", 9.0, traced=True),          # traced: left out
            op("summary", 8.0, ok=False),             # failed: left out
            op("summary", 7.0, kind="warmup"),        # not timed: left out
            op("query", 0.05), op("query", 0.07),
            op("append", 0.4, kind="write"),
            op("q_topk", 0.2, kind="key"), op("q_topk", 0.4, kind="key"),
            op("verify_only", 1.0, kind="verify"),    # not timed: left out
        ]}
        got = op_medians(record)
        self.assertEqual(set(got), {"summary", "query", "append", "q_topk"})
        self.assertAlmostEqual(got["summary"], 0.2)
        self.assertAlmostEqual(got["query"], 0.06)
        self.assertAlmostEqual(got["append"], 0.4)
        self.assertAlmostEqual(got["q_topk"], 0.3)

    def test_no_timed_ops(self):
        self.assertEqual(op_medians({"ops": [op("x", 1.0, kind="warmup")]}), {})


class AddOpPairsTest(unittest.TestCase):
    def test_pairs_names_both_runs_have(self):
        acc = {}
        add_op_pairs(acc, {"a": 1.0, "b": 2.0}, {"a": 0.9, "c": 3.0})
        add_op_pairs(acc, {"a": 1.1, "b": 2.1}, {"a": 1.0, "b": 2.2})
        self.assertEqual(acc, {"a": [(1.0, 0.9), (1.1, 1.0)], "b": [(2.1, 2.2)]})
        s = summarize(acc["a"], "lower", 0.0)
        self.assertEqual((s["won"], s["pairs"]), (2, 2))


if __name__ == "__main__":
    unittest.main()
