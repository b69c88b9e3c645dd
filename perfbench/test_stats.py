"""Tests of the benchmark's statistics: percentile with sample count,
self time, recall, spread.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import stats  # noqa: E402


class PercentileTest(unittest.TestCase):
    def test_linear_interpolation(self):
        xs = [1, 2, 3, 4, 5, 6, 7, 8, 9, 10]
        self.assertEqual(stats.percentile(xs, 50), 5.5)
        self.assertAlmostEqual(stats.percentile(xs, 90), 9.1)
        self.assertEqual(stats.percentile(xs, 0), 1)
        self.assertEqual(stats.percentile(xs, 100), 10)
        self.assertIsNone(stats.percentile([], 50))

    def test_order_does_not_matter(self):
        self.assertEqual(stats.percentile([3, 1, 2], 50), 2)

    def test_tail_needs_ten_samples_beyond(self):
        # p99 needs n * 0.01 >= 10, i.e. 1000 samples
        self.assertEqual(stats.tail_pct(1000), 99.0)
        self.assertEqual(stats.tail_pct(999), 90.0)
        self.assertEqual(stats.tail_pct(100), 90.0)
        self.assertEqual(stats.tail_pct(99), 50.0)
        self.assertEqual(stats.tail_pct(20), 50.0)
        self.assertIsNone(stats.tail_pct(19))
        self.assertEqual(stats.tail_pct(10000), 99.9)

    def test_summary_reports_count(self):
        s = stats.summary(list(range(200)))
        self.assertEqual(s["n"], 200)
        self.assertEqual(s["tail_pct"], 90.0)
        self.assertEqual(s["max"], 199)
        self.assertEqual(stats.summary([]), {"n": 0})


class SelfTimeTest(unittest.TestCase):
    def test_leaf_self_time_is_duration(self):
        self.assertEqual(stats.self_times([["a", 0, 10, -1, 0]]), [10])

    def test_children_subtracted_once_when_overlapping(self):
        spans = [["root", 0, 100, -1, 0],
                 ["a", 10, 40, 0, 0],
                 ["b", 30, 50, 0, 0],   # overlaps a: union 10..50 = 40
                 ["c", 90, 120, 0, 0]]  # clipped to the parent: 90..100 = 10
        self.assertEqual(stats.self_times(spans), [50, 30, 20, 30])

    def test_grandchildren_only_count_against_their_parent(self):
        spans = [["root", 0, 100, -1, 0], ["mid", 0, 60, 0, 0], ["leaf", 0, 60, 1, 0]]
        self.assertEqual(stats.self_times(spans), [40, 0, 60])

    def test_by_layer_sums_in_ms(self):
        spans = [["x", 0, 1000, -1, 0], ["x", 0, 3000, -1, 1], ["y", 0, 500, 1, 1]]
        agg = stats.self_time_by_layer(spans)
        self.assertEqual(agg["x"], {"self_ms": 3.5, "spans": 2})
        self.assertEqual(agg["y"], {"self_ms": 0.5, "spans": 1})

    def test_by_layer_leaves_out_spans_before_timing(self):
        spans = [["x", 0, 1000, -1, 0], ["x", 2000, 5000, -1, 1], ["y", 2000, 2500, 1, 1]]
        agg = stats.self_time_by_layer(spans, since_us=2000)
        self.assertEqual(agg["x"], {"self_ms": 2.5, "spans": 1})
        self.assertEqual(agg["y"], {"self_ms": 0.5, "spans": 1})


class RecallTest(unittest.TestCase):
    def test_recall_counts_hits_over_k_times_queries(self):
        exact = {"1": [10, 11, 12], "2": [20, 21, 22]}
        found = {"1": [10, 12, 99], "2": [22, 21, 20]}
        self.assertAlmostEqual(stats.recall(found, exact, 3), 5 / 6.0)

    def test_missing_query_counts_zero(self):
        self.assertAlmostEqual(stats.recall({}, {"1": [1, 2, 3]}, 3), 0.0)

    def test_only_top_k_of_found_counts(self):
        self.assertAlmostEqual(stats.recall({"1": [9, 8, 7, 1]}, {"1": [1, 2, 3]}, 3), 0.0)

    def test_no_queries(self):
        self.assertIsNone(stats.recall({}, {}, 3))


class SpreadTest(unittest.TestCase):
    def test_quartile_spread_matches_statistics_quantiles(self):
        xs = [10, 11, 9, 10, 12, 10, 8, 10, 11, 9]
        q1, med, q3 = __import__("statistics").quantiles(xs, n=4)
        self.assertAlmostEqual(stats.spread(xs), (q3 - q1) / med)


if __name__ == "__main__":
    unittest.main()
