"""Tests of the benchmark's own arithmetic.

    python3 -m unittest discover -s perfbench/tests
"""
import os
import sys
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))

import layers  # noqa: E402
import stats  # noqa: E402


class PercentileRule(unittest.TestCase):
    def test_p90_needs_ten_samples_above_it(self):
        xs = list(range(1, 100))  # 99 samples: 9 lie above the nearest-rank p90
        self.assertIsNone(stats.resolved_percentile(xs, 90))
        xs = list(range(1, 101))  # 100 samples: p90 = 90, ten above it
        self.assertEqual(stats.resolved_percentile(xs, 90), 90)

    def test_ties_at_the_percentile_do_not_count_as_beyond(self):
        xs = [1.0] * 90 + [5.0] * 10 + [5.0]
        self.assertIsNone(stats.resolved_percentile(xs, 90))

    def test_highest_resolved_percentile(self):
        self.assertEqual(stats.highest_resolved_percentile(list(range(1, 201))), (95, 190))
        self.assertEqual(stats.highest_resolved_percentile(list(range(1, 21))), (50, 10))
        self.assertIsNone(stats.highest_resolved_percentile(list(range(1, 15))))

    def test_quartile_spread_matches_statistics_quantiles(self):
        q1, med, q3, spread = stats.quartile_spread([1, 2, 3, 4, 5, 6, 7, 8, 9, 10])
        self.assertEqual((q1, med, q3), (2.75, 5.5, 8.25))
        self.assertAlmostEqual(spread, 1.0)


class SelfTime(unittest.TestCase):
    def test_union_merges_overlaps_and_touching_intervals(self):
        self.assertEqual(stats.union([(5, 7), (0, 2), (1, 3), (3, 4), (9, 9)]),
                         [(0, 4), (5, 7)])

    def test_overlapping_children_are_counted_once(self):
        # span 0..100, children 10..40 and 30..60 cover 10..60
        self.assertEqual(stats.self_time(0, 100, [(10, 40), (30, 60)]), 50)

    def test_children_outside_the_span_are_clipped(self):
        self.assertEqual(stats.self_time(10, 20, [(0, 12), (18, 30)]), 6)

    def test_layers_reconcile_with_op_wall(self):
        # op 0..100: io span 10..30 holding a job 15..25; llm span 40..90
        # holding jobs 50..70 and 60..80 (merged) -> every microsecond once
        records = [
            {"kind": "op", "id": 0, "round": 0, "op": "x", "start": 0, "end": 100,
             "pinned_bytes": 0},
            {"kind": "span", "id": 0, "parent": -1, "op": 0, "layer": "bench", "name": "x",
             "start": 0, "end": 100},
            {"kind": "span", "id": 1, "parent": 0, "op": 0, "layer": "io", "name": "load",
             "start": 10, "end": 30},
            {"kind": "span", "id": 2, "parent": 0, "op": 0, "layer": "llm", "name": "submit",
             "start": 40, "end": 90},
            {"kind": "job", "id": 1, "start": 15, "end": 25, "span": 1},
            {"kind": "job", "id": 2, "start": 50, "end": 70, "span": 2},
            {"kind": "job", "id": 3, "start": 60, "end": 80, "span": 2},
        ]
        (_, root, _, _), = layers.op_trees(records)
        st = layers.self_times(root)
        self.assertEqual(dict(st), {"bench": 30, "io": 10, "llm": 20, "spark": 40})
        self.assertEqual(sum(st.values()), 100)


class DriverGap(unittest.TestCase):
    def test_gap_is_wall_not_covered_by_any_job(self):
        self.assertEqual(stats.driver_gap(0, 100, [(10, 30), (20, 40), (70, 80)]), 60)

    def test_jobs_outside_the_window_do_not_count(self):
        self.assertEqual(stats.driver_gap(100, 200, [(50, 120), (190, 260)]), 70)

    def test_no_jobs_means_all_gap(self):
        self.assertEqual(stats.driver_gap(0, 5, []), 5)


if __name__ == "__main__":
    unittest.main()
