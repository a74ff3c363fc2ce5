"""Unit tests of the benchmark's own arithmetic.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import json
import os
import unittest

import numpy as np

import metrics


class PercentileRule(unittest.TestCase):
    def test_highest_percentile_with_ten_samples_beyond(self):
        self.assertEqual(metrics.supported_percentile(19), 0.0)
        self.assertEqual(metrics.supported_percentile(20), 50.0)
        self.assertEqual(metrics.supported_percentile(99), 50.0)
        self.assertEqual(metrics.supported_percentile(100), 90.0)
        self.assertEqual(metrics.supported_percentile(999), 90.0)
        self.assertEqual(metrics.supported_percentile(1000), 99.0)
        self.assertEqual(metrics.supported_percentile(10000), 99.9)


class SchedulerGap(unittest.TestCase):
    def test_overlapping_intervals_count_once(self):
        # two Par.run legs overlapping in [150, 200], a third disjoint job
        jobs = [(100, 200), (150, 300), (400, 450)]
        self.assertEqual(metrics.union_ms(jobs), 250)
        self.assertAlmostEqual(metrics.sched_gap_s(0.5, 0, 500, jobs), 0.25)

    def test_nested_and_touching_intervals(self):
        self.assertEqual(metrics.union_ms([(0, 100), (10, 20), (100, 150)]), 150)

    def test_jobs_are_clipped_to_the_call(self):
        self.assertEqual(metrics.union_ms([(0, 100), (80, 200)], lo=50, hi=120), 70)
        self.assertEqual(metrics.sched_gap_s(0.1, 1000, 1100, []), 0.1)
        self.assertEqual(metrics.sched_gap_s(0.1, 1000, 1100, [(990, 1200)]), 0.0)


class Freshness(unittest.TestCase):
    # 1000 events/s: event j is scheduled at t0 + j ms
    T0, RATE = 10_000, 1000.0
    CHUNKS = [(0, 0, 10, 10_010), (1, 10, 10, 10_020), (2, 20, 10, 10_030)]

    def test_one_layer_from_offsets_and_send_times(self):
        l1 = [{"batch": 1, "from": -1, "to": 1, "start_ms": 10_020, "dur_ms": 80},
              {"batch": 2, "from": 1, "to": 2, "start_ms": 10_100, "dur_ms": 50}]
        fr, done, served = metrics.freshness(self.CHUNKS, self.RATE, self.T0, l1)
        np.testing.assert_allclose(fr[:20], 100 - np.arange(20))
        np.testing.assert_allclose(fr[20:], 150 - np.arange(20, 30))
        self.assertEqual(done, [10_100, 10_100, 10_150])
        self.assertEqual(served, {1, 2})
        self.assertEqual(metrics.backlog(self.CHUNKS, done), [10, 20, 30])

    def test_two_layers_follow_the_hop(self):
        l1 = [{"batch": 5, "from": -1, "to": 2, "start_ms": 10_030, "dur_ms": 20}]
        hops = [(5, 0, 3.0)]
        l2 = [{"batch": 9, "from": -1, "to": 0, "start_ms": 10_060, "dur_ms": 40}]
        fr, done, served = metrics.freshness(self.CHUNKS, self.RATE, self.T0, l1, hops, l2)
        np.testing.assert_allclose(fr, 100 - np.arange(30))
        self.assertEqual(served, {9})

    def test_unreflected_chunks_have_no_freshness(self):
        l1 = [{"batch": 1, "from": -1, "to": 0, "start_ms": 10_010, "dur_ms": 10}]
        fr, done, _ = metrics.freshness(self.CHUNKS, self.RATE, self.T0, l1)
        self.assertEqual(len(fr), 10)
        self.assertEqual(done, [10_020, None, None])

    def test_backlog_growth_flag(self):
        t = list(range(0, 120, 10))
        ramp_then_flat = [0, 20, 40, 60, 80, 100, 90, 110, 95, 105, 100, 98]
        self.assertEqual(metrics.grew(t, ramp_then_flat), 0)
        self.assertEqual(metrics.grew(t, [10 * i for i in range(12)]), 1)


class BenchmarkJson(unittest.TestCase):
    def test_metric_names_and_units_match(self):
        path = os.path.join(os.path.dirname(os.path.abspath(__file__)), "..", "BENCHMARK.json")
        with open(path) as fh:
            doc = json.load(fh)
        self.assertEqual([(m["name"], m["unit"]) for m in doc["end_to_end"]], metrics.END_TO_END)
        self.assertEqual([(m["name"], m["unit"]) for m in doc["per_layer"]], metrics.PER_LAYER)


if __name__ == "__main__":
    unittest.main()
