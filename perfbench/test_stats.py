"""Tests of the benchmark's percentile and failure-count code.

Run: python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import statistics
import unittest

import stats


class PercentileTest(unittest.TestCase):
    def test_median_odd_and_even(self):
        self.assertEqual(stats.median([3, 1, 2]), 2)
        self.assertEqual(stats.median([4, 1, 3, 2]), 2.5)

    def test_matches_statistics_median(self):
        xs = [0.7, 12.5, 3.3, 3.3, 9.0, 1.1, 4.2]
        self.assertAlmostEqual(stats.median(xs), statistics.median(xs))

    def test_interpolates_between_ranks(self):
        xs = list(range(1, 11))  # 1..10
        self.assertAlmostEqual(stats.percentile(xs, 90), 9.1)
        self.assertEqual(stats.percentile(xs, 0), 1)
        self.assertEqual(stats.percentile(xs, 100), 10)

    def test_single_sample(self):
        self.assertEqual(stats.percentile([42.0], 90), 42.0)

    def test_rejects_empty_and_out_of_range(self):
        with self.assertRaises(ValueError):
            stats.percentile([], 50)
        with self.assertRaises(ValueError):
            stats.percentile([1, 2], 101)

    def test_order_does_not_matter(self):
        xs = [5, 3, 9, 1, 7]
        self.assertEqual(stats.percentile(xs, 75), stats.percentile(sorted(xs), 75))


class FailureCountTest(unittest.TestCase):
    def test_share(self):
        self.assertEqual(stats.failed_share(200, 0), 0.0)
        self.assertEqual(stats.failed_share(200, 5), 0.025)

    def test_rejects_impossible_counts(self):
        with self.assertRaises(ValueError):
            stats.failed_share(0, 0)
        with self.assertRaises(ValueError):
            stats.failed_share(10, 11)
        with self.assertRaises(ValueError):
            stats.failed_share(10, -1)


class MetricValueTest(unittest.TestCase):
    RAW = {
        "scalars": {"throughput_rps": 2.5},
        "series": {
            "query_ms": [30.0, 10.0, 20.0],
            "request_ms": list(map(float, range(1, 11))),
            "setup_s": [9.0, 3.0, 4.0],
        },
    }

    def test_scalar_wins(self):
        self.assertEqual(stats.metric_value("throughput_rps", self.RAW), 2.5)

    def test_route_p50_reads_route_samples(self):
        self.assertEqual(stats.metric_value("query_p50_ms", self.RAW), 20.0)

    def test_request_p90_pools_requests(self):
        self.assertAlmostEqual(stats.metric_value("request_p90_ms", self.RAW), 9.1)

    def test_series_median(self):
        self.assertEqual(stats.metric_value("setup_s", self.RAW), 4.0)

    def test_missing_is_none(self):
        self.assertIsNone(stats.metric_value("hashtag_p50_ms", self.RAW))


if __name__ == "__main__":
    unittest.main()
