"""Tests for the benchmark's pure parts.

Run from the repository root: python3 -m unittest discover -s perfbench/tests
"""
import os
import sys
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))
import benchlib  # noqa: E402


class PercentileTest(unittest.TestCase):
    def test_interpolates_between_ranks(self):
        self.assertEqual(benchlib.percentile([1, 2, 3, 4], 50), 2.5)
        self.assertEqual(benchlib.percentile([4, 1, 3, 2, 5], 50), 3)
        self.assertEqual(benchlib.percentile(range(1, 41), 75), 30.25)

    def test_samples_beyond(self):
        self.assertEqual(benchlib.samples_beyond(40, 75), 10)
        self.assertEqual(benchlib.samples_beyond(38, 75), 10)
        self.assertEqual(benchlib.samples_beyond(37, 75), 9)
        self.assertEqual(benchlib.samples_beyond(5, 50), 2)

    def test_highest_percentile_with_ten_beyond(self):
        # 45 samples (one etl pass of the full query list): p75 has 11 above
        # it, p90 only 4, so p75 is the highest reportable tail
        self.assertEqual(benchlib.highest_tail_percentile(45), 75)
        self.assertEqual(benchlib.highest_tail_percentile(40), 75)
        self.assertEqual(benchlib.highest_tail_percentile(37), 50)
        self.assertEqual(benchlib.highest_tail_percentile(100), 90)
        self.assertEqual(benchlib.highest_tail_percentile(1000), 99)
        self.assertIsNone(benchlib.highest_tail_percentile(19))


def span(i, parent, start, end):
    return {"id": i, "parent": parent, "start_ms": start, "end_ms": end}


class SelfTimeTest(unittest.TestCase):
    def test_children_are_subtracted(self):
        spans = [span(1, -1, 0, 100), span(2, 1, 10, 30), span(3, 1, 50, 90)]
        self.assertEqual(benchlib.self_times(spans), {1: 40, 2: 20, 3: 40})

    def test_overlapping_children_count_once(self):
        spans = [span(1, -1, 0, 100), span(2, 1, 10, 60), span(3, 1, 40, 80)]
        self.assertEqual(benchlib.self_times(spans)[1], 30)

    def test_grandchildren_belong_to_their_parent(self):
        spans = [span(1, -1, 0, 100), span(2, 1, 0, 50), span(3, 2, 10, 40)]
        self.assertEqual(benchlib.self_times(spans), {1: 50, 2: 20, 3: 30})

    def test_child_outside_parent_is_clipped(self):
        spans = [span(1, -1, 0, 100), span(2, 1, 90, 120)]
        self.assertEqual(benchlib.self_times(spans)[1], 90)

    def test_union(self):
        self.assertEqual(benchlib.union_ms([(0, 10), (5, 15), (20, 30)]), 25)
        self.assertEqual(benchlib.union_ms([]), 0)


class CoreUtilTest(unittest.TestCase):
    def test_share_of_core_time(self):
        self.assertEqual(benchlib.core_util(4000, 1000, 4), 1.0)
        self.assertEqual(benchlib.core_util(1000, 1000, 4), 0.25)
        self.assertEqual(benchlib.core_util(1000, 0, 4), 0.0)


def stage(num_tasks, wall, task_sum, max_task):
    return {"num_tasks": num_tasks, "submitted_ms": 1000, "completed_ms": 1000 + wall,
            "task_sum_ms": task_sum, "max_task_ms": max_task}


class SerialStageTest(unittest.TestCase):
    def test_one_task_carrying_the_stage_is_serial(self):
        self.assertTrue(benchlib.is_serial_stage(stage(1, 2000, 1950, 1950), cores=4))

    def test_wide_stage_is_not(self):
        self.assertFalse(benchlib.is_serial_stage(stage(4, 2000, 7600, 1950), cores=4))

    def test_short_stage_is_below_the_floor(self):
        self.assertFalse(benchlib.is_serial_stage(stage(1, 50, 40, 40), cores=4))

    def test_scheduling_dominated_stage_is_not(self):
        # the one task ran for a small part of the stage's wall time
        self.assertFalse(benchlib.is_serial_stage(stage(1, 2000, 500, 500), cores=4))


class BatchLatencyTest(unittest.TestCase):
    def test_cold_and_steady_from_arrivals(self):
        cold, steady = benchlib.batch_latencies(100.0, [109.0, 113.5, 117.25])
        self.assertEqual(cold, 9.0)
        self.assertEqual(steady, [4500.0, 3750.0])

    def test_no_batch_is_an_error(self):
        with self.assertRaises(ValueError):
            benchlib.batch_latencies(0.0, [])


def result(nproc, wall):
    return {"workload": "etl",
            "host": {"nproc": nproc, "available_processors": nproc,
                     "spark_graft_cpus": str(nproc)},
            "metrics": {"wall_s": {"value": wall, "unit": "s"}}}


class CompareTest(unittest.TestCase):
    def test_same_shape_compares(self):
        lines = benchlib.compare(result(4, 2.0), result(4, 1.0))
        self.assertEqual(len(lines), 1)
        self.assertIn("x0.500", lines[0])

    def test_cross_shape_is_refused(self):
        with self.assertRaises(benchlib.ShapeMismatch):
            benchlib.compare(result(4, 2.0), result(32, 1.0))


if __name__ == "__main__":
    unittest.main()
