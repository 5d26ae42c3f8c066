"""Unit tests for the benchmark's statistics.

    python3 -m unittest discover -s perfbench/tests
"""
import sys
import unittest
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))
import stats  # noqa: E402


class TailTest(unittest.TestCase):
    def test_highest_percentile_with_ten_samples_beyond(self):
        xs = list(range(1, 101))  # 100 samples: rank 90 has 10 beyond it
        value, pct, n = stats.tail(xs)
        self.assertEqual((value, pct, n), (90, 90.0, 100))
        self.assertEqual(sum(1 for x in xs if x > value), 10)

    def test_order_does_not_matter(self):
        xs = [5.0, 1.0, 4.0, 2.0, 3.0] * 5  # 25 samples
        value, pct, n = stats.tail(xs)
        self.assertEqual(n, 25)
        self.assertAlmostEqual(pct, 60.0)
        self.assertGreaterEqual(sum(1 for x in xs if x >= value) - 1, 10)
        self.assertEqual(value, sorted(xs)[14])

    def test_short_runs_report_the_maximum(self):
        self.assertEqual(stats.tail([3.0, 1.0, 2.0]), (3.0, 100.0, 3))
        self.assertEqual(stats.tail([1.0] * 10), (1.0, 100.0, 10))
        self.assertEqual(stats.tail([]), (0.0, 0.0, 0))

    def test_eleven_samples(self):
        self.assertEqual(stats.tail(list(range(11))), (0, 100.0 / 11, 11))


class IntervalTest(unittest.TestCase):
    def test_union_merges_overlapping_and_touching(self):
        self.assertEqual(stats.union([(5, 7), (0, 2), (1, 3), (3, 4), (9, 9)]),
                         [(0, 4), (5, 7)])

    def test_covered_clips_to_window(self):
        jobs = [(0, 4), (2, 6), (8, 12)]
        self.assertEqual(stats.covered(jobs), 10)
        self.assertEqual(stats.covered(jobs, 1, 10), 7)

    def test_driver_gap_is_window_minus_job_union(self):
        # op 0..10 s; jobs overlap at 2..3 and run 8..12 past the window
        self.assertEqual(stats.driver_gap((0, 10), [(1, 3), (2, 4), (8, 12)]), 5)
        self.assertEqual(stats.driver_gap((0, 10), []), 10)
        self.assertEqual(stats.driver_gap((0, 10), [(-1, 11)]), 0)


class SelfTimeTest(unittest.TestCase):
    def test_self_time_subtracts_children_union(self):
        spans = [
            {"id": 0, "parent": None, "start": 0, "end": 100},  # pass
            {"id": 1, "parent": 0, "start": 10, "end": 60},     # op
            {"id": 2, "parent": 1, "start": 10, "end": 20},     # build
            {"id": 3, "parent": 1, "start": 20, "end": 60},     # execute
            {"id": 4, "parent": 3, "start": 25, "end": 40},     # job
            {"id": 5, "parent": 3, "start": 30, "end": 50},     # overlapping job
            {"id": 6, "parent": 4, "start": 25, "end": 35},     # stage
        ]
        self.assertEqual(stats.self_times(spans),
                         {0: 50, 1: 0, 2: 10, 3: 15, 4: 5, 5: 20, 6: 10})

    def test_self_times_sum_to_root_duration_without_overlap(self):
        spans = [{"id": 0, "parent": None, "start": 0, "end": 10},
                 {"id": 1, "parent": 0, "start": 2, "end": 5},
                 {"id": 2, "parent": 1, "start": 3, "end": 4}]
        self.assertEqual(sum(stats.self_times(spans).values()), 10)


if __name__ == "__main__":
    unittest.main()
