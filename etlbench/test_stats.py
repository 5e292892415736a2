"""Tests of the benchmark's statistics.

    python3 -m unittest discover -s etlbench -p 'test_*.py'
"""

import os
import statistics
import sys
import unittest

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import stats  # noqa: E402


class Percentiles(unittest.TestCase):
    def test_refuses_unless_ten_samples_lie_beyond_the_cut(self):
        with self.assertRaises(stats.TooFewSamples):
            stats.percentile(list(range(99)), 90)  # 9 beyond p90
        self.assertEqual(stats.percentile(list(range(1, 101)), 90), 90)
        with self.assertRaises(stats.TooFewSamples):
            stats.percentile(list(range(100)), 99)
        self.assertEqual(stats.percentile(list(range(1, 1001)), 99), 990)

    def test_nearest_rank_ignores_input_order(self):
        vals = [float(x) for x in range(200, 0, -1)]
        self.assertEqual(stats.percentile(vals, 50), 100.0)


class Medians(unittest.TestCase):
    def test_medians_are_per_kind(self):
        samples = [("dense", 10.0), ("sparse", 100.0), ("dense", 12.0),
                   ("sparse", 110.0), ("dense", 11.0)]
        self.assertEqual(stats.medians_by_kind(samples), {"dense": 11.0, "sparse": 105.0})

    def test_no_median_of_nothing(self):
        with self.assertRaises(stats.TooFewSamples):
            stats.median([])


class Throughput(unittest.TestCase):
    def test_operations_inside_the_window(self):
        # three 2 s operations back to back in a 5 s window: two whole
        # ones and half of the third; one starting after it counts 0
        ops = [(0.0, 2.0), (2.0, 2.0), (4.0, 2.0), (6.0, 1.0)]
        self.assertEqual(stats.window_ops(ops, 5.0), 2.5)
        with self.assertRaises(ValueError):
            stats.window_ops(ops, 0.0)

    def test_a_long_last_operation_moves_the_count_smoothly(self):
        # whether a 3 s operation starts just before or just after the
        # window closes changes the count by a sliver, not by one
        before = stats.window_ops([(0.0, 5.99), (5.99, 3.0)], 6.0)
        after = stats.window_ops([(0.0, 6.01), (6.01, 3.0)], 6.0)
        self.assertAlmostEqual(before, after, delta=0.01)


class Spread(unittest.TestCase):
    def test_quartile_spread_matches_statistics_quantiles(self):
        vals = [10.0, 11.0, 9.5, 10.2, 10.8, 9.9, 10.1, 10.4, 10.0, 10.6]
        q1, med, q3 = statistics.quantiles(vals, n=4)
        self.assertEqual(stats.spread(vals), (med, q1, q3, (q3 - q1) / med))


if __name__ == "__main__":
    unittest.main()
