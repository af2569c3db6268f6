"""Unit tests for the benchmark's arithmetic.

Run from the checkout root: python3 -m unittest discover -s perfbench/tests
"""
import os
import sys
import unittest

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import stats  # noqa: E402


class TailPercentileTest(unittest.TestCase):
    def test_needs_ten_samples_beyond(self):
        self.assertIsNone(stats.tail_percentile(19))
        self.assertEqual(stats.tail_percentile(20), 0.5)
        self.assertEqual(stats.tail_percentile(99), 0.5)
        self.assertEqual(stats.tail_percentile(100), 0.9)
        self.assertEqual(stats.tail_percentile(199), 0.9)
        self.assertEqual(stats.tail_percentile(200), 0.95)
        self.assertEqual(stats.tail_percentile(1000), 0.99)
        self.assertEqual(stats.tail_percentile(10000), 0.999)

    def test_percentile_interpolates(self):
        self.assertEqual(stats.percentile([3, 1, 2], 0.5), 2)
        self.assertAlmostEqual(stats.percentile([0, 10], 0.9), 9.0)
        self.assertEqual(stats.percentile([5], 0.9), 5)
        with self.assertRaises(ValueError):
            stats.percentile([], 0.5)


class SelfTimeTest(unittest.TestCase):
    def test_no_children(self):
        self.assertEqual(stats.self_time(0, 10, []), 10)

    def test_disjoint_children(self):
        self.assertEqual(stats.self_time(0, 10, [(1, 3), (5, 6)]), 7)

    def test_overlapping_children_count_once(self):
        self.assertEqual(stats.self_time(0, 10, [(1, 5), (2, 4), (4, 6)]), 5)

    def test_children_clipped_to_span(self):
        self.assertEqual(stats.self_time(2, 8, [(0, 3), (7, 12)]), 4)
        self.assertEqual(stats.self_time(2, 8, [(9, 12)]), 6)


class DriverOnlyTest(unittest.TestCase):
    def test_wall_minus_union_of_jobs(self):
        # concurrent jobs from pool threads overlap; their union counts once
        jobs = [(100.0, 300.0), (200.0, 400.0), (600.0, 700.0)]
        self.assertEqual(stats.driver_only(0.0, 1000.0, jobs), 600.0)

    def test_all_busy(self):
        self.assertEqual(stats.driver_only(0.0, 5.0, [(0.0, 5.0)]), 0.0)

    def test_job_outside_op_ignored(self):
        self.assertEqual(stats.driver_only(10.0, 20.0, [(0.0, 5.0)]), 10.0)


if __name__ == "__main__":
    unittest.main()
