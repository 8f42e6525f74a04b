"""Unit tests for the benchmark's accounting rules (perfbench/stats.py).

    python3 -m unittest discover -s perfbench/tests
"""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import stats  # noqa: E402


class PercentileRule(unittest.TestCase):
    def test_nearest_rank(self):
        xs = list(range(1, 101))
        self.assertEqual(stats.percentile(xs, 0.5), 50)
        self.assertEqual(stats.percentile(xs, 0.95), 95)
        self.assertEqual(stats.percentile(xs, 0.99), 99)
        self.assertEqual(stats.percentile(xs, 1.0), 100)
        self.assertEqual(stats.percentile([7.0], 0.99), 7.0)

    def test_order_does_not_matter(self):
        self.assertEqual(stats.percentile([5, 1, 4, 2, 3], 0.5), 3)

    def test_highest_supported_leaves_ten_beyond(self):
        self.assertIsNone(stats.highest_supported(10))
        self.assertAlmostEqual(stats.highest_supported(200), 0.95)
        self.assertAlmostEqual(stats.highest_supported(1000), 0.99)
        self.assertAlmostEqual(stats.highest_supported(20), 0.5)

    def test_supported(self):
        # p95 needs 200 samples, p99 needs 1000
        self.assertTrue(stats.supported(0.95, 200))
        self.assertFalse(stats.supported(0.95, 199))
        self.assertTrue(stats.supported(0.99, 1000))
        self.assertFalse(stats.supported(0.99, 999))
        self.assertFalse(stats.supported(0.5, 10))

    def test_summary_reports_sample_count(self):
        s = stats.summary(list(range(300)), (0.5, 0.95, 0.99))
        self.assertEqual(s["n"], 300)
        self.assertTrue(s["p95_supported"])
        self.assertFalse(s["p99_supported"])
        # 290 of 300: exactly ten samples lie beyond it
        self.assertEqual(s["at_highest_supported"], 289)
        self.assertEqual(sum(1 for x in range(300) if x > 289), 10)
        self.assertIsNone(stats.summary([1.0] * 5, (0.5,))["at_highest_supported"])

    def test_tail_over_medians(self):
        # one slow execution is the pooled p95 of 12 samples, but not the
        # p95 over the per-query medians
        walls = [100, 101, 102, 200, 201, 202, 300, 301, 302, 400, 401, 900]
        s = stats.tail_over_medians(stats.summary(walls, (0.5, 0.95)), [101, 201, 301, 401], 0.95)
        self.assertEqual(s["p95"], 401)
        self.assertEqual(s["p95_over_item_medians"], 4)
        self.assertFalse(s["p95_supported"])
        self.assertEqual(s["p50"], 202)  # the pooled p50 is kept
        self.assertEqual(s["n"], 12)

    def test_empty_raises(self):
        with self.assertRaises(ValueError):
            stats.percentile([], 0.5)


def row(tid, due, sent, emit, count=1):
    return (tid, due, sent, emit, count)


class OpenLoop(unittest.TestCase):
    def test_latency_runs_from_due_time(self):
        # sent 3 ms late, emitted 10 ms after due: latency is 10 ms, not 7
        a = stats.open_loop([row(0, 1_000_000, 4_000_000, 11_000_000)])
        self.assertEqual(a["emit_ms"], [10.0])
        self.assertEqual(a["late_ms"], [3.0])

    def test_backlog_events_have_no_latency(self):
        a = stats.open_loop([row(0, -1, -1, 5_000_000), row(1, 0, 0, 2_000_000)])
        self.assertEqual(a["emit_ms"], [2.0])
        self.assertEqual(a["late_ms"], [0.0])
        self.assertEqual(a["events"], 2)

    def test_warm_in_is_not_measured_but_still_counted(self):
        rows = [row(0, 0, 0, 1_000_000), row(1, 5_000_000, 5_000_000, 6_000_000),
                row(2, 1_000_000, 1_000_000, -1, 0)]
        a = stats.open_loop(rows, measure_from_ns=5_000_000)
        self.assertEqual(a["emit_ms"], [1.0])
        self.assertEqual(a["missing"], 1)

    def test_late_generator_cannot_hide_queueing(self):
        # a burst sent 50 ms late and emitted at once still reads 50 ms late
        rows = [row(i, i * 200_000, 50_000_000, 50_000_000) for i in range(5)]
        a = stats.open_loop(rows)
        self.assertEqual(a["emit_ms"], [50.0, 49.8, 49.6, 49.4, 49.2])
        self.assertEqual(max(a["late_ms"]), 50.0)


class ErrorRate(unittest.TestCase):
    def test_rate(self):
        self.assertEqual(stats.error_rate(200, 0), 0.0)
        self.assertEqual(stats.error_rate(200, 3), 0.015)

    def test_rejects_impossible_counts(self):
        with self.assertRaises(ValueError):
            stats.error_rate(0, 0)
        with self.assertRaises(ValueError):
            stats.error_rate(5, 6)

    def test_dropped_stream_event_counts_once(self):
        rows = [row(i, i, i, i + 10) for i in range(9)] + [row(9, 9, 9, -1, 0)]
        a = stats.open_loop(rows)
        self.assertEqual(a["missing"], 1)
        failed = stats.stream_failures(a, value_mismatches=0, late_dropped=0)
        self.assertEqual(failed, 1)
        self.assertEqual(stats.error_rate(a["events"], failed), 0.1)

    def test_duplicated_stream_event_counts_once(self):
        rows = [row(i, i, i, i + 10) for i in range(9)] + [row(9, 9, 9, 19, 2)]
        a = stats.open_loop(rows)
        self.assertEqual(a["duplicated"], 1)
        self.assertEqual(stats.stream_failures(a, 0, 0), 1)

    def test_wrong_values_and_late_drops_count(self):
        a = stats.open_loop([row(i, i, i, i + 1) for i in range(10)])
        self.assertEqual(stats.stream_failures(a, value_mismatches=2, late_dropped=1), 3)
        self.assertEqual(stats.stream_failures(a, value_mismatches=20, late_dropped=0), 10)

    def test_digest_failures(self):
        want = {"a": "1", "b": "2", "c": "3"}
        got = {"a": "1", "b": "x"}
        self.assertEqual(stats.digest_failures(want, got), ["b", "c"])
        self.assertEqual(stats.digest_failures(want, dict(want)), [])


if __name__ == "__main__":
    unittest.main()
