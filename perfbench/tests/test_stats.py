"""Unit tests for the benchmark's arithmetic.

    python3 -m unittest discover -s perfbench/tests
"""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import run  # noqa: E402
import stats  # noqa: E402

MS = 1_000_000  # span times are epoch nanoseconds


class PercentileTest(unittest.TestCase):
    def test_interpolates_and_counts(self):
        self.assertEqual(stats.percentile([4, 1, 3, 2], 50), (2.5, 4))
        self.assertEqual(stats.percentile(range(1, 11), 90), (9.1, 10))

    def test_ends_and_single_sample(self):
        xs = [5.0, 1.0, 9.0]
        self.assertEqual(stats.percentile(xs, 0), (1.0, 3))
        self.assertEqual(stats.percentile(xs, 100), (9.0, 3))
        self.assertEqual(stats.percentile([7.0], 90), (7.0, 1))

    def test_empty_sample(self):
        value, n = stats.percentile([], 50)
        self.assertNotEqual(value, value)  # nan
        self.assertEqual(n, 0)


class SelfTimeTest(unittest.TestCase):
    def test_children_are_subtracted_once(self):
        spans = [
            [1, "bench:op", 0, 100 * MS, -1, 1],
            [2, "api.GraftBus:include", 10 * MS, 90 * MS, 1, 1],
            # listener spans: parent found by containment, overlap counted once
            [3, "catalyst:analysis", 20 * MS, 30 * MS, -1, -1],
            [4, "exec:job", 40 * MS, 70 * MS, -1, -1],
            [5, "exec:job", 60 * MS, 80 * MS, -1, -1],
        ]
        got = stats.self_times_ms(spans)
        self.assertAlmostEqual(got["bench"], 20.0)
        self.assertAlmostEqual(got["api.GraftBus"], 80.0 - 10.0 - 40.0)
        self.assertAlmostEqual(got["catalyst"], 10.0)
        self.assertAlmostEqual(got["exec"], 50.0)

    def test_innermost_container_wins(self):
        spans = [
            [1, "bench:key", 0, 100 * MS, -1, 1],
            [2, "operators:build", 0, 50 * MS, 1, 1],
            [3, "exec:job", 10 * MS, 20 * MS, -1, -1],
            [4, "exec:job", 60 * MS, 70 * MS, -1, -1],
        ]
        parents = stats.assign_parents(spans)
        self.assertEqual(parents[3], 2)
        self.assertEqual(parents[4], 1)
        got = stats.self_times_ms(spans)
        self.assertAlmostEqual(got["operators"], 40.0)
        self.assertAlmostEqual(got["bench"], 40.0)

    def test_jobs_inside_a_micro_batch(self):
        spans = [
            [1, "streaming.ConsumerPipeline:batch", 0, 100 * MS, -1, -1],
            [2, "exec:job", 30 * MS, 60 * MS, -1, -1],
        ]
        got = stats.self_times_ms(spans)
        self.assertAlmostEqual(got["streaming.ConsumerPipeline"], 70.0)
        self.assertAlmostEqual(got["exec"], 30.0)


class LatencyTest(unittest.TestCase):
    BATCHES = [
        {"end_ms": 1000, "end_offsets": {"0": 100, "1": 50}},
        {"end_ms": 1500, "end_offsets": {"0": 100, "1": 120}},
        {"end_ms": 2100, "end_offsets": {"0": 300, "1": 120}},
    ]

    def test_first_batch_reaching_the_end_byte(self):
        events = [(900, 0, 100),   # ends exactly at batch 0's offset
                  (950, 1, 51),    # one byte past batch 0 in partition 1
                  (1200, 0, 101),  # only batch 2 reaches it
                  (1300, 1, 120)]
        self.assertEqual(stats.attribute_latency(events, self.BATCHES),
                         [100, 550, 900, 200])

    def test_uncovered_events_are_none(self):
        events = [(2000, 0, 301), (2000, 3, 1)]
        self.assertEqual(stats.attribute_latency(events, self.BATCHES), [None, None])

    def test_partitions_missing_from_a_batch_keep_their_offset(self):
        batches = [{"end_ms": 10, "end_offsets": {"0": 5}},
                   {"end_ms": 20, "end_offsets": {"0": 5, "1": 9}}]
        self.assertEqual(stats.attribute_latency([(0, 1, 9), (0, 0, 5)], batches), [20, 10])


class BacklogTest(unittest.TestCase):
    @staticmethod
    def batch(start_ms, pending):
        return {"start_ms": start_ms, "end_offsets": {"0": 1000},
                "latest_offsets": {"0": 1000 + pending}}

    def test_steady_consumer(self):
        batches = [self.batch(t, 500) for t in range(0, 10000, 500)]
        self.assertFalse(stats.backlog_grew(batches, 0, 10000, floor_bytes=1000))

    def test_falling_behind(self):
        batches = [self.batch(t, 100 + t) for t in range(0, 10000, 500)]
        self.assertTrue(stats.backlog_grew(batches, 0, 10000, floor_bytes=1000))

    def test_small_backlog_is_noise(self):
        batches = [self.batch(t, 10 + t // 1000) for t in range(0, 10000, 500)]
        self.assertFalse(stats.backlog_grew(batches, 0, 10000, floor_bytes=1000))


def topic_result(batches, backlog_ends, events=()):
    return {"batches": batches, "backlog_ends": backlog_ends, "events": list(events),
            "backlog_events": 20, "backlog_bytes": 2000, "live_start_ms": 5000,
            "rate_eps": 10.0}


def batch(batch_id, start_ms, end_ms, offsets):
    return {"batch_id": batch_id, "start_ms": start_ms, "end_ms": end_ms,
            "end_offsets": offsets, "latest_offsets": offsets}


class DrainTest(unittest.TestCase):
    def test_drain_starts_at_the_first_batch(self):
        # query start-up before batch 0 (at 1000 ms) is not drain time
        t = topic_result([batch(1, 2000, 3000, {"0": 1000, "1": 1000}),
                          batch(0, 1000, 2000, {"0": 1000, "1": 500})],
                         {"0": 1000, "1": 1000, "2": 0})
        got = stats.topic_summary(t)
        self.assertTrue(got["drained"])
        self.assertEqual(got["drain_s"], 2.0)
        self.assertEqual(got["drain_eps"], 10.0)

    def test_undrained_backlog(self):
        t = topic_result([batch(0, 1000, 2000, {"0": 1000, "1": 500})],
                         {"0": 1000, "1": 1000}, events=[(5000, 1, 1100)])
        got = stats.topic_summary(t)
        self.assertFalse(got["drained"])
        self.assertEqual((got["drain_s"], got["drain_eps"]), (0.0, 0.0))
        self.assertEqual(got["uncovered"], 1)


class EndToEndTest(unittest.TestCase):
    SETUP = {"jvm_boot_s": 1.0, "session_s": 2.0, "warmup_s": 0.5, "peak_rss_mb": 100.0}

    def test_every_key_failed(self):
        res = dict(self.SETUP, keys=[])
        vals, n = run.end_to_end(res, {"workload": "corpus"})
        self.assertEqual(n, 0)
        self.assertEqual(vals["setup_s"], 3.5)
        self.assertEqual((vals["op_p50_ms"], vals["ops_per_s"], vals["batch_wall_s"]),
                         (0.0, 0.0, 0.0))

    def test_one_cold_pass(self):
        res = dict(self.SETUP, keys=[["a", 2.0, 1], ["b", 6.0, 1]])
        vals, n = run.end_to_end(res, {"workload": "corpus"})
        self.assertEqual((n, vals["batch_wall_s"], vals["ops_per_s"]), (2, 8.0, 0.25))
        self.assertEqual((vals["op_p50_ms"], vals["op_p90_ms"]), (4000.0, 5600.0))

    def test_undrained_topic(self):
        t = topic_result([], {"0": 1000})
        res = dict(self.SETUP, _topic=stats.topic_summary(t))
        vals, n = run.end_to_end(res, {"workload": "topic_consume"})
        self.assertEqual(n, 0)
        # every value is a finite number, so the result line stays valid JSON
        self.assertEqual([v for v in vals.values() if v != v or abs(v) == float("inf")], [])
        self.assertEqual(vals["ops_per_s"], 0.0)


if __name__ == "__main__":
    unittest.main()
