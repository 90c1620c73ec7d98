"""Tests for the benchmark's own arithmetic.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""

import math
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import metrics  # noqa: E402


def span(i, parent, start, end, name="s", run="rep-1"):
    return {"id": i, "parent": parent, "start_ms": start, "end_ms": end,
            "name": name, "run": run}


def stage(start, end, tasks, task_s=0.0, job=1):
    return {"start_ms": start, "end_ms": end, "tasks": tasks, "task_s": task_s, "job": job}


class TailTest(unittest.TestCase):

    def test_too_few_samples(self):
        self.assertIsNone(metrics.tail(list(range(19))))

    def test_twenty_samples_give_the_median(self):
        value, p, n = metrics.tail([float(x) for x in range(1, 21)])
        self.assertEqual((value, p, n), (10.0, 50.0, 20))

    def test_hundred_samples_give_p90(self):
        value, p, n = metrics.tail([float(x) for x in range(1, 101)])
        self.assertEqual((value, p, n), (90.0, 90.0, 100))

    def test_at_least_ten_beyond(self):
        for n in (20, 39, 40, 199, 200, 1000, 1009, 10000, 123457):
            xs = list(range(n))
            value, p, _ = metrics.tail(xs)
            self.assertGreaterEqual(sum(1 for x in xs if x > value), 10, n)
            # the next higher percentile would leave fewer than ten beyond
            higher = [q for q in metrics.TAIL_PERCENTILES if q > p]
            if higher:
                k = math.ceil(higher[0] * n / 100 - 1e-9)
                self.assertLess(n - k, 10, n)

    def test_order_does_not_matter(self):
        xs = [5.0, 1.0, 3.0] * 10
        self.assertEqual(metrics.tail(xs), metrics.tail(sorted(xs)))


class SelfTimeTest(unittest.TestCase):

    def test_leaf_keeps_its_duration(self):
        self.assertEqual(metrics.self_times([span(1, 0, 0, 10)]), {1: 10})

    def test_nested_children_are_subtracted(self):
        spans = [span(1, 0, 0, 100), span(2, 1, 10, 30), span(3, 1, 50, 60),
                 span(4, 2, 12, 20)]
        got = metrics.self_times(spans)
        self.assertEqual(got[1], 100 - 20 - 10)
        self.assertEqual(got[2], 20 - 8)
        self.assertEqual(got[4], 8)

    def test_overlapping_children_count_once(self):
        # two dispatcher threads under one parent
        spans = [span(1, 0, 0, 100), span(2, 1, 10, 60), span(3, 1, 40, 80)]
        self.assertEqual(metrics.self_times(spans)[1], 100 - 70)

    def test_child_outside_parent_is_clipped(self):
        spans = [span(1, 0, 0, 50), span(2, 1, 40, 70)]
        self.assertEqual(metrics.self_times(spans)[1], 40)


class SparkDerivedTest(unittest.TestCase):

    def test_core_util(self):
        stages = [stage(0, 1000, 4, task_s=2.0), stage(1000, 2000, 4, task_s=2.0)]
        got = metrics.spark_derived(0, 2000, stages, cores=4)
        self.assertAlmostEqual(got["spark.core_util"], 4.0 / (2.0 * 4))

    def test_driver_time_is_wall_without_a_running_stage(self):
        stages = [stage(100, 400, 4), stage(300, 600, 4), stage(900, 1000, 4)]
        got = metrics.spark_derived(0, 1000, stages, cores=4)
        self.assertAlmostEqual(got["spark.driver_s"], (1000 - 500 - 100) / 1000.0)

    def test_narrow_stages_have_fewer_tasks_than_cores(self):
        stages = [stage(0, 500, 1), stage(200, 700, 3), stage(700, 1000, 4),
                  stage(800, 900, 8)]
        got = metrics.spark_derived(0, 1000, stages, cores=4)
        self.assertAlmostEqual(got["spark.narrow_stage_s"], 0.7)

    def test_stages_are_clipped_to_the_span(self):
        got = metrics.spark_derived(1000, 2000, [stage(500, 1500, 1)], cores=4)
        self.assertAlmostEqual(got["spark.driver_s"], 0.5)
        self.assertAlmostEqual(got["spark.narrow_stage_s"], 0.5)


class FailedRatioTest(unittest.TestCase):

    def test_ratio(self):
        self.assertEqual(metrics.failed_ratio(40, 0), 0.0)
        self.assertEqual(metrics.failed_ratio(40, 2), 0.05)

    def test_nothing_attempted_counts_as_failed(self):
        self.assertEqual(metrics.failed_ratio(0, 0), 1.0)

    def test_end_to_end_counts_failed_operations(self):
        record = {"reps": [{"traced": False, "wall_s": 2.0, "units": 100}],
                  "unit": "items", "attempted": 10, "failed": 1, "peak_rss_mb": 500.0,
                  "setup": {"session_s": 1.0, "generate_s": [0.1, 0.3, 0.2], "warmup_s": 2.0},
                  "samples": {}}
        got = metrics.end_to_end(record)
        self.assertEqual(got["failed_ratio"], (0.1, "ratio"))
        self.assertEqual(got["items_per_s"], (50.0, "1/s"))
        self.assertAlmostEqual(got["setup_s"][0], 3.2)


if __name__ == "__main__":
    unittest.main()
