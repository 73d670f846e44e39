import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import stats  # noqa: E402


class PercentileTest(unittest.TestCase):
    def test_nearest_rank(self):
        xs = list(range(1, 101))
        self.assertEqual(stats.percentile(xs, 0.5), 50)
        self.assertEqual(stats.percentile(xs, 0.9), 90)
        self.assertEqual(stats.percentile(list(reversed(xs)), 0.9), 90)
        self.assertEqual(stats.percentile([7.0], 0.9), 7.0)

    def test_ten_samples_beyond_p90_needs_100(self):
        self.assertEqual(stats.beyond(100, 0.9), 10)
        self.assertTrue(stats.supports(100, 0.9))
        self.assertEqual(stats.beyond(99, 0.9), 9)
        self.assertFalse(stats.supports(99, 0.9))
        self.assertFalse(stats.supports(38, 0.9))
        self.assertTrue(stats.supports(20, 0.5))

    def test_failed_operation_counts_as_slowest(self):
        xs = [1.0] * 9 + [float("inf")]
        self.assertEqual(stats.percentile(xs, 0.5), 1.0)
        self.assertEqual(stats.percentile(xs, 0.91), float("inf"))

    def test_geomean_of_medians_weighs_operations_equally(self):
        g = stats.geomean_of_medians({"short": [0.1, 0.1, 5.0], "long": [10.0]})
        self.assertAlmostEqual(g, 1.0)


class SpanTest(unittest.TestCase):
    def test_union_length_merges_overlaps(self):
        self.assertEqual(stats.union_length([]), 0.0)
        self.assertEqual(stats.union_length([(0, 2), (1, 3), (5, 6)]), 4)
        self.assertEqual(stats.union_length([(5, 6), (0, 10)]), 10)

    def test_self_time_of_nested_spans(self):
        spans = [
            {"id": "op", "parent": None, "start": 0.0, "end": 10.0},
            {"id": "construct", "parent": "op", "start": 0.0, "end": 2.0},
            {"id": "plan", "parent": "op", "start": 2.0, "end": 3.0},
            {"id": "execute", "parent": "op", "start": 3.0, "end": 9.5},
            {"id": "job1", "parent": "execute", "start": 3.5, "end": 6.0},
            {"id": "job2", "parent": "execute", "start": 5.0, "end": 8.0},
            {"id": "stage", "parent": "job2", "start": 5.5, "end": 7.0},
        ]
        st = stats.self_times(spans)
        self.assertAlmostEqual(st["op"], 0.5)
        self.assertAlmostEqual(st["construct"], 2.0)
        self.assertAlmostEqual(st["execute"], 6.5 - 4.5)
        self.assertAlmostEqual(st["job1"], 2.5)
        self.assertAlmostEqual(st["job2"], 3.0 - 1.5)
        self.assertAlmostEqual(st["stage"], 1.5)
        # the op's self time and its three phases account for its wall time
        self.assertAlmostEqual(st["op"] + 2.0 + 1.0 + 6.5, 10.0)

    def test_child_outside_parent_is_clipped(self):
        spans = [{"id": "p", "parent": None, "start": 1.0, "end": 2.0},
                 {"id": "c", "parent": "p", "start": 0.0, "end": 1.5}]
        self.assertAlmostEqual(stats.self_times(spans)["p"], 0.5)


if __name__ == "__main__":
    unittest.main()
