"""Unit checks of the benchmark's statistics: python3 -m unittest perfbench/test_stats.py"""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
from stats import beyond, geomean, median, percentile, union_length  # noqa: E402


class PercentileTest(unittest.TestCase):
    def test_p90_of_100_samples_leaves_ten_beyond(self):
        xs = list(range(1, 101))
        self.assertEqual(percentile(xs, 90), 90)
        self.assertEqual(beyond(xs, 90), 10)
        self.assertEqual(sum(1 for x in xs if x > percentile(xs, 90)), 10)

    def test_p90_ignores_order_and_ties(self):
        xs = [5.0] * 95 + [100.0] * 5 + [1.0] * 10
        self.assertEqual(percentile(list(reversed(xs)), 90), 5.0)
        self.assertEqual(beyond(xs, 90), 11)

    def test_p50_is_lower_middle_and_median_averages(self):
        self.assertEqual(percentile([4, 1, 3, 2], 50), 2)
        self.assertEqual(median([4, 1, 3, 2]), 2.5)
        self.assertEqual(median([3, 1, 2]), 2)

    def test_single_sample_and_empty(self):
        self.assertEqual(percentile([7], 90), 7)
        self.assertEqual(beyond([7], 90), 0)
        with self.assertRaises(ValueError):
            percentile([], 50)


class GeomeanTest(unittest.TestCase):
    def test_geomean(self):
        self.assertAlmostEqual(geomean([1, 100]), 10.0)
        self.assertAlmostEqual(geomean([2, 8, 4]), 4.0)

    def test_geomean_rejects_zero(self):
        with self.assertRaises(ValueError):
            geomean([1, 0])


class UnionTest(unittest.TestCase):
    def test_overlapping_nested_and_disjoint(self):
        self.assertEqual(union_length([[0, 10], [5, 15], [20, 25], [21, 22]]), 20)

    def test_touching_intervals_merge(self):
        self.assertEqual(union_length([[0, 5], [5, 10]]), 10)

    def test_unsorted_and_empty(self):
        self.assertEqual(union_length([[30, 40], [0, 10]]), 20)
        self.assertEqual(union_length([]), 0)


if __name__ == "__main__":
    unittest.main()
