"""Tests for the benchmark's statistics helpers.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""

import unittest

import stats


class TailTest(unittest.TestCase):
    def test_keeps_ten_samples_beyond(self):
        values = list(range(1, 101))  # 1..100, shuffled order must not matter
        values.reverse()
        value, pct, beyond = stats.tail(values)
        self.assertEqual(value, 90)
        self.assertEqual(pct, 90.0)
        self.assertEqual(beyond, 10)
        self.assertEqual(sum(v > value for v in values), 10)

    def test_eleven_samples_give_the_lowest(self):
        value, pct, beyond = stats.tail([5, 1, 9, 3, 7, 2, 8, 4, 6, 10, 11])
        self.assertEqual((value, beyond), (1, 10))
        self.assertAlmostEqual(pct, 100 / 11)

    def test_ten_or_fewer_fall_back_to_the_maximum(self):
        self.assertEqual(stats.tail([3.0, 1.0, 2.0]), (3.0, 100.0, 0))
        self.assertEqual(stats.tail(list(range(10))), (9, 100.0, 0))

    def test_no_samples(self):
        with self.assertRaises(ValueError):
            stats.tail([])


class UnionTest(unittest.TestCase):
    def test_overlapping_and_nested_intervals_count_once(self):
        jobs = [(0.0, 2.0), (1.0, 3.0), (1.5, 1.7), (5.0, 6.0)]
        self.assertAlmostEqual(stats.union_length(jobs), 4.0)

    def test_touching_intervals_merge(self):
        self.assertAlmostEqual(stats.union_length([(0, 1), (1, 2)]), 2.0)

    def test_clipped_to_the_window(self):
        jobs = [(-1.0, 1.0), (2.0, 4.0), (9.0, 12.0)]
        self.assertAlmostEqual(stats.union_length(jobs, 0.0, 3.0), 2.0)
        self.assertAlmostEqual(stats.union_length(jobs, 5.0, 8.0), 0.0)

    def test_empty(self):
        self.assertEqual(stats.union_length([]), 0.0)


class SelfTimeTest(unittest.TestCase):
    def span(self, id, parent, start, end):
        return {"id": id, "parent": parent, "start": start, "end": end}

    def test_children_overlap_counted_once(self):
        spans = [self.span(0, -1, 0.0, 10.0),
                 self.span(1, 0, 1.0, 4.0),
                 self.span(2, 0, 3.0, 6.0),
                 self.span(3, 1, 1.0, 2.0)]
        self_time = stats.self_times(spans)
        self.assertAlmostEqual(self_time[0], 5.0)   # 10 - |[1, 6]|
        self.assertAlmostEqual(self_time[1], 2.0)   # 3 - |[1, 2]|
        self.assertAlmostEqual(self_time[2], 3.0)   # leaf
        self.assertAlmostEqual(self_time[3], 1.0)

    def test_child_outside_the_parent_is_clipped(self):
        # listener timestamps have millisecond resolution, so a job can
        # appear to start just before the phase that ran it
        spans = [self.span(0, -1, 1.0, 2.0), self.span(1, 0, 0.999, 1.5)]
        self.assertAlmostEqual(stats.self_times(spans)[0], 0.5)


if __name__ == "__main__":
    unittest.main()
