"""Unit checks for the benchmark's own arithmetic.

Run from the repository root:  python3 -m unittest discover -s perfbench -p 'test_*.py'
"""

import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import stats  # noqa: E402


class PercentileRule(unittest.TestCase):
    def test_reported_with_ten_beyond(self):
        xs = list(range(1, 101))  # p90 = 90, ten samples (91..100) beyond
        self.assertEqual(stats.percentile(xs, 90), 90)

    def test_withheld_with_nine_beyond(self):
        xs = list(range(1, 91))  # p90 = 81, nine samples beyond
        self.assertIsNone(stats.percentile(xs, 90))

    def test_ties_at_the_percentile_are_not_beyond(self):
        xs = [5.0] * 95 + [9.0] * 5
        self.assertIsNone(stats.percentile(xs, 50))
        xs = [5.0] * 80 + [9.0] * 20
        self.assertEqual(stats.percentile(xs, 50), 5.0)

    def test_median_is_a_percentile_too(self):
        self.assertIsNone(stats.percentile([3, 1, 2], 50))
        self.assertEqual(stats.percentile(range(20), 50), 9)

    def test_empty(self):
        self.assertIsNone(stats.percentile([], 90))


class Median(unittest.TestCase):
    def test_odd_even(self):
        self.assertEqual(stats.median([3, 1, 2]), 2)
        self.assertEqual(stats.median([4, 1, 3, 2]), 2.5)

    def test_empty_raises(self):
        with self.assertRaises(ValueError):
            stats.median([])


class SelfTime(unittest.TestCase):
    def test_no_children(self):
        spans = [dict(id=1, parent=0, start=0, end=10)]
        self.assertEqual(stats.self_times(spans, []), {1: 10})

    def test_disjoint_children(self):
        spans = [dict(id=1, parent=0, start=0, end=10),
                 dict(id=2, parent=1, start=1, end=3),
                 dict(id=3, parent=1, start=5, end=8)]
        self.assertEqual(stats.self_times(spans, [])[1], 5)

    def test_overlapping_children_count_once(self):
        # two concurrent children [2, 6] and [4, 9] cover 7, not 9
        spans = [dict(id=1, parent=0, start=0, end=10),
                 dict(id=2, parent=1, start=2, end=6),
                 dict(id=3, parent=1, start=4, end=9)]
        self.assertEqual(stats.self_times(spans, [])[1], 3)

    def test_jobs_are_children(self):
        spans = [dict(id=1, parent=0, start=0, end=10),
                 dict(id=2, parent=1, start=0, end=4)]
        jobs = [dict(span=2, start=1, end=3), dict(span=1, start=3, end=7)]
        st = stats.self_times(spans, jobs)
        self.assertEqual(st[2], 2)  # 4 minus the job [1, 3]
        self.assertEqual(st[1], 10 - 7)  # child span [0, 4] and job [3, 7] cover [0, 7]

    def test_children_clipped_to_parent(self):
        spans = [dict(id=1, parent=0, start=5, end=10)]
        jobs = [dict(span=1, start=0, end=7), dict(span=1, start=9, end=20)]
        self.assertEqual(stats.self_times(spans, jobs)[1], 5 - 2 - 1)

    def test_nested_grandchildren_not_subtracted_twice(self):
        spans = [dict(id=1, parent=0, start=0, end=10),
                 dict(id=2, parent=1, start=0, end=6),
                 dict(id=3, parent=2, start=1, end=5)]
        st = stats.self_times(spans, [])
        self.assertEqual(st[1], 4)
        self.assertEqual(st[2], 2)
        self.assertEqual(st[3], 4)


if __name__ == "__main__":
    unittest.main()
