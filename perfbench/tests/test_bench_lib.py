"""Tests of the benchmark's own helpers.

    python3 -m unittest discover -s perfbench/tests
"""
import json
import os
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import bench_lib as bl  # noqa: E402


class PercentileRule(unittest.TestCase):
    def test_nearest_rank(self):
        xs = list(range(1, 101))
        self.assertEqual(bl.percentile(xs, 50), 50)
        self.assertEqual(bl.percentile(xs, 99), 99)
        self.assertEqual(bl.percentile(xs, 100), 100)
        self.assertEqual(bl.median([3, 1, 2, 4]), 2.5)

    def test_ten_samples_beyond(self):
        self.assertTrue(bl.reportable(1000, 99))
        self.assertFalse(bl.reportable(999, 99))
        self.assertTrue(bl.reportable(20, 50))
        self.assertFalse(bl.reportable(19, 50))

    def test_tail_picks_highest_allowed(self):
        self.assertEqual(bl.tail(list(range(1000)))[0], 99.0)
        self.assertEqual(bl.tail(list(range(500)))[0], 95.0)
        self.assertEqual(bl.tail(list(range(100)))[0], 90.0)
        self.assertIsNone(bl.tail(list(range(15))))


class ResultLine(unittest.TestCase):
    def test_exact_keys_and_units(self):
        led = bl.Ledger(attempted=3)
        line = bl.result_line(led, {"latency_s": bl.metric(1.25, "s"),
                                    "mem_peak_mb": bl.metric(900, "MB")})
        self.assertNotIn("\n", line)
        doc = json.loads(line)
        self.assertEqual(set(doc), {"correct", "attempted", "failed",
                                    "metrics"})
        self.assertEqual(doc["metrics"]["latency_s"],
                         {"value": 1.25, "unit": "s"})
        self.assertTrue(doc["correct"])
        self.assertEqual((doc["attempted"], doc["failed"]), (3, 0))

    def test_rejects_unitless_or_non_finite(self):
        with self.assertRaises(ValueError):
            bl.result_line(bl.Ledger(1), {"x": {"value": 1.0}})
        with self.assertRaises(ValueError):
            bl.metric(float("nan"), "s")


class FailureAccounting(unittest.TestCase):
    def test_injected_failure_raises_error_rate(self):
        led = bl.Ledger(attempted=9)
        self.assertEqual(led.error_rate, 0.0)
        led.check("check.injected", False, "ValueError: injected")
        self.assertEqual(led.failed, 1)
        self.assertAlmostEqual(led.error_rate, 0.1)
        doc = json.loads(bl.result_line(led, {"x": bl.metric(1, "s")}))
        self.assertFalse(doc["correct"])
        self.assertEqual(doc["failed"], 1)
        self.assertEqual(led.failures[0]["error"], "ValueError: injected")

    def test_lost_event_fails_the_stream_check(self):
        """A pipeline that drops one event fails the exactly-once check."""
        import pyarrow as pa
        import pyarrow.parquet as pq
        import run
        with tempfile.TemporaryDirectory() as work:
            ids, due = [10, 11, 12], [100.0, 100.5, 101.0]
            with open(os.path.join(work, "gen_done.json"), "w") as f:
                json.dump({"ids": ids, "due": due, "burst": [False] * 3,
                           "measure_start": 100.0, "late_p99_ms": 1.0}, f)
            snap = os.path.join(work, "out", "processed",
                                "processed_20260101_000000_b0.parquet")
            os.makedirs(snap)
            pq.write_table(pa.table({"id": ["10", "12"]}),
                           os.path.join(snap, "part-0.parquet"))
            stats = os.path.join(work, "out", "subreddit_stats")
            os.makedirs(stats)
            pq.write_table(pa.table({"post_count": pa.array([2], pa.int64())}),
                           os.path.join(stats, "part-0.parquet"))
            res = {"cpu_window_s": 1.0, "progress": [
                {"batch": 0, "start_ms": 101000, "rows": 3,
                 "duration_ms": {"triggerExecution": 500}}]}
            led = bl.Ledger(attempted=1)
            run.stream_metrics(res, work, led)
            self.assertEqual(led.failed, 2)
            self.assertGreater(led.error_rate, 0.0)
            self.assertIn("1 missing", led.failures[0]["error"])

    def test_steal_share(self):
        import run
        before = [100, 0, 50, 800, 0, 0, 0, 50, 0, 0]
        after = [190, 0, 60, 880, 0, 0, 0, 70, 0, 0]
        self.assertAlmostEqual(run.steal_pct(before, after), 10.0)
        self.assertEqual(run.steal_pct(None, after), 0.0)

    def test_frames_equal(self):
        import pandas as pd
        a = pd.DataFrame({"k": [2, 1], "v": [0.5, 0.25]})
        self.assertTrue(bl.frames_equal(a, a[["v", "k"]].iloc[::-1])[0])
        ok, why = bl.frames_equal(a, pd.DataFrame({"k": [1, 2],
                                                   "v": [0.25, 0.75]}))
        self.assertFalse(ok)
        self.assertIn("col v", why)


if __name__ == "__main__":
    unittest.main()
