"""Unit tests of tools/bench_pairs.py's summary arithmetic.

    python3 -m unittest discover -s tools -p 'test_*.py'
"""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from bench_pairs import quantile, summarize  # noqa: E402


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


if __name__ == "__main__":
    unittest.main()
