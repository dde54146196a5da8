"""Tests of the benchmark's percentile and latency-join code.

Run: python3 -m unittest discover -s perfbench/tests
"""
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import stats  # noqa: E402


class PercentileTest(unittest.TestCase):
    def test_nearest_rank(self):
        xs = list(range(1, 101))  # 1..100
        self.assertEqual(stats.percentile(xs, 50), 50)
        self.assertEqual(stats.percentile(xs, 99), 99)
        self.assertEqual(stats.percentile(xs, 100), 100)
        self.assertEqual(stats.percentile([7], 99), 7)
        self.assertIsNone(stats.percentile([], 50))

    def test_order_does_not_matter(self):
        self.assertEqual(stats.percentile([5, 1, 4, 2, 3], 50), 3)

    def test_samples_beyond(self):
        self.assertEqual(stats.beyond(1000, 99), 10)
        self.assertEqual(stats.beyond(100, 99), 1)
        self.assertEqual(stats.beyond(0, 50), 0)

    def test_supported_tail_needs_ten_beyond(self):
        self.assertEqual(stats.supported_tail(10000), 99.9)
        self.assertEqual(stats.supported_tail(1000), 99.0)
        self.assertEqual(stats.supported_tail(999), 95.0)
        self.assertEqual(stats.supported_tail(40), 75.0)
        self.assertIsNone(stats.supported_tail(39))

    def test_summarize_states_sample_count(self):
        s = stats.summarize(list(range(200)), (50, 99))
        self.assertEqual(s["n"], 200)
        self.assertEqual(s["p50"], 99)
        self.assertEqual(s["p99_beyond"], 2)


class LatencyJoinTest(unittest.TestCase):
    files = [
        {"file": "f-0.json", "stamps": [[1000, 2], [1050, 1]]},
        {"file": "f-1.json", "stamps": [[1100, 3]]},
        {"file": "f-2.json", "stamps": [[1200, 1]]},
    ]

    def test_each_trade_joins_its_files_batch_commit(self):
        batch_of = {"f-0.json": 0, "f-1.json": 1, "f-2.json": 1}
        commit_of = {0: 2000, 1: 3000}
        samples, missing = stats.joint_latencies(self.files, [(batch_of, commit_of)])
        self.assertEqual(sorted(samples), [950, 1000, 1000, 1800, 1900, 1900, 1900])
        self.assertEqual(missing, 0)

    def test_latest_of_several_queries_counts(self):
        q1 = ({"f-0.json": 0, "f-1.json": 0, "f-2.json": 0}, {0: 1500})
        q2 = ({"f-0.json": 0, "f-1.json": 1, "f-2.json": 1}, {0: 1400, 1: 2500})
        samples, _ = stats.joint_latencies(self.files, [q1, q2])
        self.assertEqual(sorted(samples), [450, 500, 500, 1300, 1400, 1400, 1400])

    def test_warmup_trades_are_excluded(self):
        batch_of = {"f-0.json": 0, "f-1.json": 0, "f-2.json": 0}
        samples, _ = stats.joint_latencies(self.files, [(batch_of, {0: 2000})], since_ms=1050)
        self.assertEqual(sorted(samples), [800, 900, 900, 900, 950])

    def test_unread_or_uncommitted_files_count_as_missing(self):
        batch_of = {"f-0.json": 0, "f-1.json": 1}
        samples, missing = stats.joint_latencies(self.files, [(batch_of, {0: 2000})])
        self.assertEqual(len(samples), 3)
        self.assertEqual(missing, 4)

    def test_origin_replaces_creation_stamp(self):
        files = [{"file": "b-0.json", "stamps": [[0, 4]]}]
        samples, _ = stats.joint_latencies(files, [({"b-0.json": 2}, {2: 9000})], origin=5000)
        self.assertEqual(samples, [4000] * 4)


class CheckpointLogTest(unittest.TestCase):
    def test_file_batches_reads_plain_and_compacted_logs(self):
        with tempfile.TemporaryDirectory() as d:
            with open(os.path.join(d, "9.compact"), "w") as f:
                f.write('v1\n{"path":"file:///in/f-0.json","timestamp":1,"batchId":3}\n')
            with open(os.path.join(d, "10"), "w") as f:
                f.write('v1\n{"path":"file:///in/f-1.json","timestamp":2,"batchId":10}\n')
            with open(os.path.join(d, ".10.crc"), "w") as f:
                f.write("x")
            self.assertEqual(stats.file_batches(d), {"f-0.json": 3, "f-1.json": 10})

    def test_commit_time_is_trigger_start_plus_duration(self):
        p = [{"batchId": 4, "timestamp": "2026-01-01T00:00:01.250Z",
              "durationMs": {"addBatch": 10, "triggerExecution": 300}},
             {"batchId": 5, "timestamp": "2026-01-01T00:00:02.000Z",
              "durationMs": {"latestOffset": 1, "triggerExecution": 2}}]
        base = stats.parse_ts_ms("2026-01-01T00:00:00.000Z")
        self.assertEqual(stats.commit_times(p), {4: base + 1550})
        self.assertEqual(stats.start_times(p), {4: base + 1250})


class SelfTimeTest(unittest.TestCase):
    def test_children_are_subtracted_once(self):
        spans = [
            {"id": "q", "parent": None, "name": "query", "start": 0, "end": 100},
            {"id": "a", "parent": "q", "name": "job", "start": 10, "end": 40},
            {"id": "b", "parent": "q", "name": "job", "start": 30, "end": 60},
            {"id": "s", "parent": "a", "name": "stage", "start": 10, "end": 20},
        ]
        self.assertEqual(stats.self_times(spans), {"query": 50, "job": 50, "stage": 10})


if __name__ == "__main__":
    unittest.main()
