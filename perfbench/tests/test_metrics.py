"""Tests of the benchmark's own arithmetic.

    python3 -m unittest discover -s perfbench/tests
"""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import metrics  # noqa: E402


def span(start, end, parent=-1):
    return {"start_ns": int(start * 1e9), "end_ns": int(end * 1e9), "parent": parent}


class TailRule(unittest.TestCase):
    def test_level_needs_ten_samples_beyond(self):
        # p95 of 200 leaves exactly 10 beyond; p99 would leave 2
        self.assertEqual(metrics.tail_level(200), 95.0)
        self.assertEqual(metrics.tail_level(199), 90.0)
        self.assertEqual(metrics.tail_level(1000), 99.0)
        self.assertEqual(metrics.tail_level(10000), 99.9)
        self.assertEqual(metrics.tail_level(40), 75.0)
        self.assertEqual(metrics.tail_level(20), 50.0)

    def test_too_few_samples_fall_back_to_max(self):
        self.assertEqual(metrics.tail_level(19), 100.0)
        self.assertEqual(metrics.tail([3.0, 1.0, 2.0]), (100.0, 3.0, 3))

    def test_tail_value_is_nearest_rank(self):
        xs = [float(i) for i in range(1, 201)]  # 1..200
        level, value, n = metrics.tail(xs)
        self.assertEqual((level, value, n), (95.0, 190.0, 200))
        self.assertEqual(sum(1 for x in xs if x > value), 10)

    def test_percentile(self):
        self.assertEqual(metrics.percentile([5, 1, 3], 50), 3)
        self.assertEqual(metrics.percentile([1, 2, 3, 4], 50), 2)
        self.assertEqual(metrics.percentile([1, 2, 3, 4], 100), 4)
        with self.assertRaises(ValueError):
            metrics.percentile([], 50)


class SelfTime(unittest.TestCase):
    def test_leaf_self_time_is_its_duration(self):
        self.assertAlmostEqual(metrics.self_times([span(0, 2)])[0], 2.0)

    def test_nested_children(self):
        # root 0-10; child A 1-4 with grandchild 2-3; child B 5-9
        spans = [span(0, 10), span(1, 4, 0), span(2, 3, 1), span(5, 9, 0)]
        s = metrics.self_times(spans)
        self.assertAlmostEqual(s[0], 10 - 3 - 4)
        self.assertAlmostEqual(s[1], 3 - 1)
        self.assertAlmostEqual(s[2], 1)
        self.assertAlmostEqual(s[3], 4)
        self.assertAlmostEqual(sum(s), 10.0)

    def test_overlapping_children_count_once(self):
        # two children overlapping on 3-4 cover 2-6 = 4 s of a 10 s root
        spans = [span(0, 10), span(2, 4, 0), span(3, 6, 0)]
        s = metrics.self_times(spans)
        self.assertAlmostEqual(s[0], 6.0)
        # overlap makes the self times sum past the wall time
        gap, ok = metrics.self_sum_error(10.0, s)
        self.assertAlmostEqual(gap, 0.1)
        self.assertFalse(ok)

    def test_children_clipped_to_parent(self):
        spans = [span(0, 5), span(4, 7, 0)]
        self.assertAlmostEqual(metrics.self_times(spans)[0], 4.0)

    def test_self_sum_within_tolerance(self):
        gap, ok = metrics.self_sum_error(10.0, [6.0, 3.0, 1.0005])
        self.assertTrue(ok)
        self.assertLess(gap, metrics.SELF_SUM_TOLERANCE)

    def test_union_length(self):
        self.assertEqual(metrics.union_length([(0, 2), (1, 3), (5, 6)]), 4)
        self.assertEqual(metrics.union_length([]), 0)
        self.assertEqual(metrics.union_length([(0, 10), (2, 3)]), 10)


class WriteAmp(unittest.TestCase):
    def test_ratio_of_summed_bytes(self):
        # ANN rewriting a 900-byte code table for a 100-byte delta, BM25
        # writing only its 100-byte segment
        self.assertAlmostEqual(metrics.write_amp([900, 100], [100, 100]), 5.0)

    def test_delta_proportional_refresh_is_one(self):
        self.assertAlmostEqual(metrics.write_amp([10, 20, 30], [10, 20, 30]), 1.0)

    def test_empty_delta_is_an_error(self):
        with self.assertRaises(ValueError):
            metrics.write_amp([10], [0])


class Spread(unittest.TestCase):
    def test_matches_statistics_quantiles(self):
        xs = [1.0, 2.0, 3.0, 4.0, 5.0, 6.0, 7.0, 8.0, 9.0, 10.0]
        # exclusive quartiles of 1..10 are 2.75 and 8.25; median 5.5
        self.assertAlmostEqual(metrics.spread(xs), (8.25 - 2.75) / 5.5)

    def test_constant_is_zero(self):
        self.assertEqual(metrics.spread([2.0] * 10), 0.0)


if __name__ == "__main__":
    unittest.main()
