"""Tests of the benchmark's own arithmetic: python3 -m unittest discover perfbench"""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import compare  # noqa: E402
import stats  # noqa: E402


class TailRule(unittest.TestCase):
    def test_highest_percentile_with_ten_beyond(self):
        xs = list(range(1, 101))  # 100 samples
        # p90 is the 90th smallest, 10 samples beyond it; p95 leaves only 5
        self.assertEqual(stats.tail(xs), (90, 90.0, 100))

    def test_more_samples_reach_a_higher_percentile(self):
        xs = list(range(1, 1001))
        self.assertEqual(stats.tail(xs), (990, 99.0, 1000))

    def test_order_of_samples_does_not_matter(self):
        xs = [0.3, 0.1, 0.9, 0.5] * 10
        self.assertEqual(stats.tail(xs), stats.tail(sorted(xs)))

    def test_exactly_ten_beyond_counts(self):
        xs = list(range(1, 21))  # p50 = 10th smallest, 10 beyond
        self.assertEqual(stats.tail(xs), (10, 50.0, 20))

    def test_whole_percentiles_between_the_round_ones(self):
        xs = list(range(1, 31))  # p66: rank ceil(19.8) = 20, 10 beyond; p67 leaves 9
        self.assertEqual(stats.tail(xs), (20, 66.0, 30))

    def test_too_few_samples_fall_back_to_median(self):
        self.assertEqual(stats.tail([3.0, 1.0, 2.0]), (2.0, 50.0, 3))

    def test_no_samples_is_an_error(self):
        with self.assertRaises(ValueError):
            stats.tail([])


class Compare(unittest.TestCase):
    def test_worse_direction_follows_the_metric(self):
        self.assertAlmostEqual(compare.change("pass_s", 10.0, 11.0), 0.1)
        self.assertAlmostEqual(compare.change("op_ok_ratio", 1.0, 0.9), 0.1)
        self.assertAlmostEqual(compare.change("pass_s", 10.0, 9.0), -0.1)


if __name__ == "__main__":
    unittest.main()
