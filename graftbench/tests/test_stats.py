"""Tests of the benchmark's percentile and interval-union helpers.

Run from the repository root: python3 -m unittest discover -s graftbench/tests
"""
import os
import statistics
import sys
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))
import stats  # noqa: E402


class PercentileTest(unittest.TestCase):
    def test_median_matches_statistics(self):
        for xs in ([3.0], [2.0, 1.0], [5, 1, 4, 2, 3], [0.1, 9.5, 3.3, 3.3, 7.0, 2.2]):
            self.assertAlmostEqual(stats.median(xs), statistics.median(xs))

    def test_interpolates_between_ranks(self):
        xs = list(range(1, 101))  # 1..100
        self.assertAlmostEqual(stats.percentile(xs, 95), 95.05)
        self.assertEqual(stats.percentile(xs, 0), 1)
        self.assertEqual(stats.percentile(xs, 100), 100)

    def test_order_does_not_matter(self):
        xs = [9, 1, 8, 2, 7, 3]
        self.assertEqual(stats.percentile(xs, 95), stats.percentile(sorted(xs), 95))

    def test_empty_raises(self):
        with self.assertRaises(ValueError):
            stats.percentile([], 50)

    def test_samples_beyond(self):
        self.assertEqual(stats.samples_beyond(200, 95), 10)
        self.assertLess(stats.samples_beyond(100, 95), 10)
        self.assertEqual(stats.samples_beyond(36, 75), 9)


class IntervalUnionTest(unittest.TestCase):
    def test_disjoint_and_overlapping(self):
        self.assertEqual(stats.union_length([(0, 2), (5, 7)]), 4)
        self.assertEqual(stats.union_length([(0, 5), (3, 8), (8, 9)]), 9)
        self.assertEqual(stats.union_length([(3, 8), (0, 5)]), 8)

    def test_nested_and_empty(self):
        self.assertEqual(stats.union_length([(0, 10), (2, 3), (4, 6)]), 10)
        self.assertEqual(stats.union_length([]), 0)
        self.assertEqual(stats.union_length([(4, -1)]), 0)  # a job with no end

    def test_clipping(self):
        self.assertEqual(stats.union_length([(0, 10)], 2, 5), 3)
        self.assertEqual(stats.union_length([(0, 1), (9, 12)], 2, 10), 1)

    def test_driver_gap(self):
        # op [100, 200]; jobs cover 110-150 and 140-160: 50 covered, 50 idle
        self.assertEqual(stats.driver_gap(100, 200, [(110, 150), (140, 160)]), 50)
        self.assertEqual(stats.driver_gap(0, 10, []), 10)
        self.assertEqual(stats.driver_gap(0, 10, [(-5, 20)]), 0)


if __name__ == "__main__":
    unittest.main()
