import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pb.metrics import Span, clip, quartiles, self_times, union_length  # noqa: E402


class UnionTest(unittest.TestCase):
    def test_disjoint_intervals_add_up(self):
        self.assertAlmostEqual(union_length([(0, 1), (2, 4)]), 3.0)

    def test_overlapping_intervals_count_once(self):
        # two concurrent jobs: their summed durations (3.5) exceed the wall (2.5)
        jobs = [(0.0, 2.0), (0.5, 2.5)]
        self.assertAlmostEqual(union_length(jobs), 2.5)
        wall = 2.5
        self.assertGreaterEqual(wall - union_length(jobs), 0.0)
        self.assertLess(wall - sum(e - s for s, e in jobs), 0.0)

    def test_nested_touching_and_unsorted(self):
        self.assertAlmostEqual(union_length([(5, 6), (0, 10), (2, 3)]), 10.0)
        self.assertAlmostEqual(union_length([(1, 2), (0, 1)]), 2.0)
        self.assertAlmostEqual(union_length([(0, 3), (1, 2), (2.5, 4), (6, 7)]), 5.0)

    def test_empty_and_degenerate(self):
        self.assertEqual(union_length([]), 0.0)
        self.assertEqual(union_length([(1, 1), (3, 2)]), 0.0)

    def test_clip(self):
        self.assertEqual(clip([(0, 5), (6, 9), (9, 12)], 2, 10), [(2, 5), (6, 9), (9, 10)])


class SpanTest(unittest.TestCase):
    def test_self_time_excludes_children_once(self):
        root = Span("run", 0.0, 10.0)
        Span("a", 1.0, 4.0, root)
        Span("b", 3.0, 5.0, root)  # overlaps a
        leaf = Span("c", 6.0, 7.0, root)
        Span("d", 6.2, 6.4, leaf)
        self.assertAlmostEqual(root.self_time(), 10.0 - 4.0 - 1.0)
        st = self_times([root])
        self.assertAlmostEqual(st["c"], 0.8)
        self.assertAlmostEqual(st["a"], 3.0)


class StatsTest(unittest.TestCase):
    def test_quartiles_match_statistics_module(self):
        q1, q2, q3 = quartiles([1, 2, 3, 4, 5, 6, 7, 8, 9, 10])
        self.assertEqual((q1, q2, q3), (2.75, 5.5, 8.25))


if __name__ == "__main__":
    unittest.main()
