"""Tests of the benchmark's arithmetic. Run from the repository root:

    python3 -m unittest discover -s perfbench/tests
"""
import json
import os
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import stats  # noqa: E402


class Median(unittest.TestCase):
    def test_median(self):
        self.assertEqual(stats.median([3, 1, 2]), 2)
        self.assertEqual(stats.median([4, 1, 2, 3]), 2.5)


class IntervalUnion(unittest.TestCase):
    def test_overlaps_count_once(self):
        self.assertAlmostEqual(
            stats.union_length([(0, 2), (1, 3), (5, 6)]), 4.0)

    def test_nested_and_touching(self):
        self.assertAlmostEqual(stats.union_length([(0, 10), (2, 3)]), 10.0)
        self.assertAlmostEqual(stats.union_length([(0, 1), (1, 2)]), 2.0)

    def test_open_and_empty_intervals_ignored(self):
        self.assertEqual(stats.union_length([]), 0.0)
        self.assertAlmostEqual(
            stats.union_length([(0, 1), (2, None), (3, 3), (5, 4)]), 1.0)

    def test_driver_gap_clips_jobs_to_the_span(self):
        # span [10, 20]; jobs cover [9, 12] (clipped to 2 s) and
        # [15, 16] and [15.5, 17] (2 s together): 6 s not covered
        self.assertAlmostEqual(
            stats.driver_gap(10, 20, [(9, 12), (15, 16), (15.5, 17)]), 6.0)
        self.assertAlmostEqual(stats.driver_gap(0, 5, []), 5.0)
        self.assertAlmostEqual(stats.driver_gap(0, 5, [(6, 7)]), 5.0)


def span(i, parent, t0, t1):
    return {"id": i, "parent": parent, "t0": t0, "t1": t1}


class SelfTime(unittest.TestCase):
    spans = [span(1, 0, 0, 10), span(2, 1, 1, 4), span(3, 1, 5, 9),
             span(4, 3, 6, 7)]

    def test_span_minus_direct_children(self):
        own = stats.self_times(self.spans)
        self.assertAlmostEqual(own[1], 10 - 3 - 4)
        self.assertAlmostEqual(own[2], 3)
        self.assertAlmostEqual(own[3], 4 - 1)
        self.assertAlmostEqual(own[4], 1)

    def test_child_cover_drops_with_a_gap_between_child_spans(self):
        # children cover [1, 4] and [5, 9] of the unit's [0, 10]
        self.assertAlmostEqual(stats.child_cover(self.spans)[1], 0.7)
        # children that fill the unit cover all of it
        full = [span(1, 0, 0, 10), span(2, 1, 0, 4), span(3, 1, 4, 10)]
        self.assertAlmostEqual(stats.child_cover(full)[1], 1.0)
        self.assertEqual(set(stats.child_cover(self.spans)), {1})

    def test_descendants(self):
        d = stats.descendants(self.spans)
        self.assertEqual(d[1], {1, 2, 3, 4})
        self.assertEqual(d[3], {3, 4})
        self.assertEqual(d[2], {2})


class Attribution(unittest.TestCase):
    spans = [span(1, 0, 0, 10), span(2, 1, 1, 4), span(3, 0, 20, 30)]

    def test_job_group_wins_while_its_span_is_open(self):
        jobs = [{"id": 0, "group": "2", "t0": 2}, {"id": 1, "group": "1", "t0": 2}]
        self.assertEqual(stats.attribute(jobs, self.spans), {0: 2, 1: 1})

    def test_stale_or_missing_group_falls_back_to_innermost_open_span(self):
        jobs = [{"id": 0, "group": "2", "t0": 21}, {"id": 1, "group": "", "t0": 3},
                {"id": 2, "group": "", "t0": 15}]
        self.assertEqual(stats.attribute(jobs, self.spans), {0: 3, 1: 2})


class BenchmarkFile(unittest.TestCase):
    def test_metric_lists_match_the_runner(self):
        import layers
        import run
        root = os.path.dirname(os.path.dirname(HERE))
        with open(os.path.join(root, "BENCHMARK.json")) as f:
            spec = json.load(f)
        self.assertEqual([(m["name"], m["unit"]) for m in spec["end_to_end"]],
                         list(run.END_TO_END.items()))
        self.assertEqual([(m["name"], m["unit"]) for m in spec["per_layer"]],
                         layers.names())
        self.assertEqual(tuple(w["name"] for w in spec["workloads"]),
                         run.WORKLOADS)


if __name__ == "__main__":
    unittest.main()
