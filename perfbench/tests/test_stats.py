"""Tests of the benchmark's own arithmetic.

    python3 -m unittest discover -s perfbench/tests
"""
import math
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import stats  # noqa: E402


class PercentileRule(unittest.TestCase):
    def test_reported_only_with_ten_samples_beyond(self):
        # p90 of 100 samples has exactly 10 beyond it
        self.assertEqual(stats.percentile_if_supported(list(range(1, 101)), 0.9), 90)
        # p90 of 99 samples has 9 beyond it
        self.assertIsNone(stats.percentile_if_supported(list(range(1, 100)), 0.9))
        # p99 needs 1000 samples
        self.assertIsNone(stats.percentile_if_supported(list(range(999)), 0.99))
        self.assertEqual(stats.percentile_if_supported(list(range(1, 1001)), 0.99), 990)

    def test_weights_count_as_samples(self):
        # one value carrying 20 samples beyond the median of 40
        samples = [(1.0, 20), (5.0, 20)]
        self.assertEqual(stats.percentile_if_supported(samples, 0.5), 1.0)
        self.assertIsNone(stats.percentile_if_supported([(1.0, 5), (5.0, 5)], 0.5))

    def test_tail_picks_highest_supported_level(self):
        self.assertEqual(stats.tail(list(range(1, 1001))), (0.99, 990))
        self.assertEqual(stats.tail(list(range(1, 101))), (0.9, 90))
        self.assertEqual(stats.tail(list(range(1, 41))), (0.75, 30))

    def test_tail_falls_back_to_max_on_small_samples(self):
        self.assertEqual(stats.tail([3.0, 9.0, 4.0]), ("max", 9.0))


class GeometricMean(unittest.TestCase):
    def test_values(self):
        self.assertAlmostEqual(stats.geomean([1.0, 100.0]), 10.0)
        self.assertAlmostEqual(stats.geomean([2.0, 8.0, 4.0]), 4.0)
        self.assertAlmostEqual(stats.geomean([5.0]), 5.0)

    def test_one_slow_query_does_not_dominate(self):
        fast = [100.0] * 8
        self.assertLess(stats.geomean(fast + [42000.0]), 2 * stats.geomean(fast + [100.0]))

    def test_rejects_non_positive(self):
        with self.assertRaises(ValueError):
            stats.geomean([1.0, 0.0])
        with self.assertRaises(ValueError):
            stats.geomean([])


class LagAttribution(unittest.TestCase):
    def test_offsets_count_add_calls_not_rows(self):
        # three addData calls of 100, 5 and 300 rows: offsets 0, 1, 2
        chunks = [(1000, 100), (1050, 5), (1100, 300)]
        # first batch commits offsets 0..1, the second offset 2
        batches = [(-1, 1, 2000), (1, 2, 3000)]
        lags, lost = stats.attribute_lag(chunks, batches)
        self.assertEqual(lags, [(1000, 100), (950, 5), (1900, 300)])
        self.assertEqual(lost, 0)

    def test_empty_and_idle_batches_cover_nothing(self):
        chunks = [(0, 10), (10, 10)]
        batches = [(-1, -1, 50), (-1, 0, 100), (0, 0, 150), (0, 1, 300)]
        lags, lost = stats.attribute_lag(chunks, batches)
        self.assertEqual(lags, [(100, 10), (290, 10)])
        self.assertEqual(lost, 0)

    def test_chunks_after_a_priming_add(self):
        # offset 0 was a priming chunk outside the sample
        chunks = [(1000, 4), (1100, 6)]
        batches = [(-1, 0, 900), (0, 2, 2000)]
        lags, lost = stats.attribute_lag(chunks, batches, first_offset=1)
        self.assertEqual(lags, [(1000, 4), (900, 6)])
        self.assertEqual(lost, 0)

    def test_uncommitted_rows_are_lost(self):
        lags, lost = stats.attribute_lag([(0, 10), (10, 7)], [(-1, 0, 100)])
        self.assertEqual(lags, [(100, 10)])
        self.assertEqual(lost, 7)

    def test_row_weighted_percentile(self):
        lags, _ = stats.attribute_lag([(0, 90), (0, 10)], [(-1, 0, 100), (0, 1, 900)])
        self.assertEqual(stats.quantile(lags, 0.5), 100)
        self.assertEqual(stats.quantile(lags, 0.95), 900)


class BusyAndGap(unittest.TestCase):
    def test_overlapping_tasks(self):
        # two tasks overlapping on [2, 4]; nothing runs in [0, 1] and [6, 10]
        busy, gap = stats.busy_and_gap([(1, 4), (2, 6)], 0, 10)
        self.assertEqual(busy, 3 + 4)
        self.assertEqual(gap, 10 - 5)
        self.assertAlmostEqual(busy / (10 * 4), 0.175)

    def test_nested_and_disjoint(self):
        busy, gap = stats.busy_and_gap([(0, 10), (2, 3), (12, 14)], 0, 20)
        self.assertEqual(busy, 10 + 1 + 2)
        self.assertEqual(gap, 20 - 12)

    def test_clipped_to_window(self):
        busy, gap = stats.busy_and_gap([(-5, 2), (8, 30), (40, 50)], 0, 10)
        self.assertEqual(busy, 2 + 2)
        self.assertEqual(gap, 6)

    def test_no_tasks_is_all_gap(self):
        self.assertEqual(stats.busy_and_gap([], 100, 250), (0, 150))


class Median(unittest.TestCase):
    def test_even_and_odd(self):
        self.assertEqual(stats.median([3, 1, 2]), 2)
        self.assertEqual(stats.median([4, 1, 3, 2]), 2.5)
        self.assertTrue(math.isclose(stats.median([0.1]), 0.1))


if __name__ == "__main__":
    unittest.main()
