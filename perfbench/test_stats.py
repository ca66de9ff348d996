"""Tests for the benchmark's own arithmetic.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import statistics
import unittest

from stats import (beyond, covered, growth, highest_percentile, pass_growth,
                   percentile, quartiles, self_time, spread)


class PercentileTest(unittest.TestCase):
    def test_nearest_rank(self):
        xs = list(range(1, 101))  # 1..100
        self.assertEqual(percentile(xs, 50), 50)
        self.assertEqual(percentile(xs, 90), 90)
        self.assertEqual(percentile(xs, 100), 100)
        self.assertEqual(percentile([7], 90), 7)

    def test_order_does_not_matter(self):
        xs = [5.0, 1.0, 4.0, 2.0, 3.0]
        self.assertEqual(percentile(xs, 50), 3.0)

    def test_p90_has_ten_samples_beyond_it_at_100(self):
        self.assertEqual(beyond(100, 90), 10)
        self.assertEqual(beyond(99, 90), 9)
        self.assertEqual(highest_percentile(100), 90)
        self.assertEqual(highest_percentile(99), 50)
        self.assertEqual(highest_percentile(1000), 99)
        self.assertIsNone(highest_percentile(19))

    def test_empty_is_an_error(self):
        with self.assertRaises(ValueError):
            percentile([], 50)


class QuartileTest(unittest.TestCase):
    def test_matches_statistics_quantiles(self):
        xs = [3.0, 1.0, 4.0, 1.0, 5.0, 9.0, 2.0, 6.0, 5.0, 3.0]
        self.assertEqual(quartiles(xs), tuple(statistics.quantiles(xs, n=4)))

    def test_spread_is_iqr_over_median(self):
        xs = [8.0, 9.0, 10.0, 11.0, 12.0]
        q1, q2, q3 = quartiles(xs)
        self.assertEqual(q2, 10.0)
        self.assertAlmostEqual(spread(xs), (q3 - q1) / 10.0)
        self.assertEqual(spread([2.0] * 10), 0.0)


class SelfTimeTest(unittest.TestCase):
    def test_no_children(self):
        self.assertEqual(self_time(0, 10, []), 10)

    def test_overlapping_pool_jobs_count_once(self):
        # a driver pool runs three jobs at once inside the op: [2,6], [3,7]
        # and [4,5] cover [2,7] together, so 5 of the 10 units are covered
        self.assertEqual(covered(0, 10, [(2, 6), (3, 7), (4, 5)]), 5)
        self.assertEqual(self_time(0, 10, [(2, 6), (3, 7), (4, 5)]), 5)

    def test_children_are_clipped_to_the_span(self):
        self.assertEqual(self_time(0, 10, [(-5, 2), (9, 20), (30, 40)]), 7)

    def test_disjoint_children(self):
        self.assertEqual(self_time(0, 10, [(1, 2), (4, 6), (8, 9)]), 6)


class GrowthTest(unittest.TestCase):
    def test_flat_sequence(self):
        self.assertEqual(growth([1.0] * 8), 1.0)

    def test_last_half_over_first_half(self):
        # 8 batches: medians 4 (first four) and 5 (last four)
        times = [1.0, 3.0, 5.0, 5.0, 5.0, 5.0, 4.0, 6.0]
        self.assertEqual(growth(times), 5.0 / 4.0)

    def test_growing_sink(self):
        times = [0.1 * (i + 1) for i in range(20)]
        # halves of 10: medians 0.55 (first) and 1.55 (last)
        self.assertAlmostEqual(growth(times), 1.55 / 0.55)

    def test_too_few_batches(self):
        self.assertIsNone(growth([1.0]))

    def test_pass_growth_is_median_over_ops(self):
        samples = {"a": [1.0, 1.0, 2.0], "b": [2.0, 3.0], "c": [4.0, 1.0], "d": [5.0]}
        self.assertEqual(pass_growth(samples), 1.5)

    def test_pass_growth_compares_halves(self):
        # last three passes' median 4 over the first three's median 2
        self.assertEqual(pass_growth({"a": [1.0, 3.0, 2.0, 4.0, 9.0, 2.0]}), 2.0)


if __name__ == "__main__":
    unittest.main()
