"""Tests for the benchmark's statistics.

    python3 -m unittest discover -s perfbench/tests
"""

import os
import statistics
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import benchmath  # noqa: E402


class MedianAndQuartiles(unittest.TestCase):
    def test_median_odd_even_and_empty(self):
        self.assertEqual(benchmath.median([3, 1, 2]), 2)
        self.assertEqual(benchmath.median([4, 1, 3, 2]), 2.5)
        self.assertEqual(benchmath.median([]), 0.0)

    def test_quartile_spread_matches_statistics_quantiles(self):
        values = [10.0, 12.0, 11.0, 13.0, 9.0, 10.5, 11.5, 12.5, 9.5, 10.0]
        q1, q2, q3, spread = benchmath.quartile_spread(values)
        self.assertEqual([q1, q2, q3], statistics.quantiles(values, n=4))
        self.assertAlmostEqual(spread, (q3 - q1) / q2)

    def test_identical_values_have_no_spread(self):
        self.assertEqual(benchmath.quartile_spread([2.0] * 10)[3], 0.0)


class TailPercentile(unittest.TestCase):
    def test_highest_percentile_with_ten_beyond(self):
        self.assertEqual(benchmath.tail_percentile(100), 90)
        self.assertEqual(benchmath.tail_percentile(40), 75)
        self.assertEqual(benchmath.tail_percentile(11), 9)
        self.assertIsNone(benchmath.tail_percentile(10))

    def test_supported_percentile_leaves_ten_samples_beyond(self):
        for n in range(11, 300):
            p = benchmath.tail_percentile(n)
            self.assertGreaterEqual(benchmath.samples_beyond(n, p), 10, n)
            self.assertLess(benchmath.samples_beyond(n, p + 1), 10, n)

    def test_nearest_rank(self):
        values = list(range(1, 21))
        self.assertEqual(benchmath.nearest_rank(values, 50), 10)
        self.assertEqual(benchmath.nearest_rank(values, 90), 18)
        self.assertEqual(benchmath.nearest_rank(values, 100), 20)
        self.assertEqual(benchmath.nearest_rank([5.0], 90), 5.0)
        self.assertEqual(benchmath.samples_beyond(20, 90), 2)


class SelfTime(unittest.TestCase):
    @staticmethod
    def span(i, parent, a, b, name="x"):
        return {"id": i, "parent": parent, "start_s": a, "end_s": b, "name": name}

    def test_leaf_self_time_is_its_duration(self):
        self.assertEqual(benchmath.self_times([self.span(0, -1, 1.0, 3.0)]), {0: 2.0})

    def test_children_are_subtracted_once_when_they_overlap(self):
        spans = [self.span(0, -1, 0.0, 10.0), self.span(1, 0, 1.0, 4.0),
                 self.span(2, 0, 3.0, 5.0), self.span(3, 0, 7.0, 8.0)]
        own = benchmath.self_times(spans)
        self.assertAlmostEqual(own[0], 10.0 - 4.0 - 1.0)
        self.assertAlmostEqual(own[1], 3.0)

    def test_child_outside_parent_counts_only_inside(self):
        spans = [self.span(0, -1, 0.0, 2.0), self.span(1, 0, 1.5, 3.0)]
        self.assertAlmostEqual(benchmath.self_times(spans)[0], 1.5)

    def test_grandchildren_do_not_reduce_the_grandparent_twice(self):
        spans = [self.span(0, -1, 0.0, 10.0), self.span(1, 0, 2.0, 6.0),
                 self.span(2, 1, 3.0, 5.0)]
        own = benchmath.self_times(spans)
        self.assertAlmostEqual(own[0], 6.0)
        self.assertAlmostEqual(own[1], 2.0)
        self.assertAlmostEqual(own[2], 2.0)

    def test_by_name_sums(self):
        spans = [self.span(0, -1, 0.0, 4.0, "a"), self.span(1, 0, 1.0, 2.0, "b"),
                 self.span(2, -1, 5.0, 6.0, "a")]
        by = benchmath.self_time_by_name(spans)
        self.assertEqual(by["a"]["count"], 2)
        self.assertAlmostEqual(by["a"]["total_s"], 5.0)
        self.assertAlmostEqual(by["a"]["self_s"], 4.0)


class FailedShare(unittest.TestCase):
    def test_share(self):
        self.assertEqual(benchmath.failed_share(40, 0), 0.0)
        self.assertEqual(benchmath.failed_share(40, 10), 0.25)

    def test_nothing_attempted_is_an_error(self):
        with self.assertRaises(ValueError):
            benchmath.failed_share(0, 0)


if __name__ == "__main__":
    unittest.main()
