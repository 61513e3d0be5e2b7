"""Unit tests for the benchmark's metric helpers.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""

import math
import unittest

import stats


class TailTest(unittest.TestCase):
    def test_ten_samples_beyond(self):
        for n in (21, 77, 100, 1000):
            j = stats.tail_index(n)
            self.assertEqual(n - 1 - j, 10, n)

    def test_p90_at_one_hundred(self):
        value, pct = stats.tail([float(i) for i in range(1, 101)])
        self.assertEqual((value, pct), (90.0, 90.0))

    def test_small_runs_fall_back_to_the_median(self):
        for n in range(1, 21):
            self.assertEqual(stats.tail_index(n), n // 2, n)
            xs = [float(i) for i in range(n)]
            self.assertGreaterEqual(stats.tail(xs)[0], stats.median(xs))

    def test_failures_count_as_missing_the_limit(self):
        xs = [1.0] * 20 + [math.inf] * 11
        self.assertEqual(stats.tail(xs)[0], math.inf)
        self.assertEqual(stats.tail(xs[:-1])[0], 1.0)

    def test_no_samples(self):
        with self.assertRaises(ValueError):
            stats.tail([])


class UnionTest(unittest.TestCase):
    def test_overlapping_nested_and_disjoint(self):
        self.assertEqual(stats.union_length([(0, 4), (2, 6), (3, 5), (8, 9)]), 7)

    def test_touching_intervals_merge(self):
        self.assertEqual(stats.union_length([(0, 1), (1, 2)]), 2)

    def test_empty_and_degenerate(self):
        self.assertEqual(stats.union_length([]), 0)
        self.assertEqual(stats.union_length([(3, 3), (5, 4)]), 0)

    def test_order_does_not_matter(self):
        ivs = [(8, 9), (2, 6), (0, 4)]
        self.assertEqual(stats.union_length(ivs), stats.union_length(sorted(ivs)))


class SelfTimeTest(unittest.TestCase):
    def span(self, start, end, depth):
        return {"start": start, "end": end, "depth": depth}

    def test_children_are_subtracted_and_overlaps_split(self):
        spans = [self.span(0, 10, 0), self.span(0, 4, 1), self.span(4, 10, 1),
                 self.span(5, 7, 2), self.span(6, 9, 2)]
        self.assertEqual(stats.self_times(spans), [0.0, 4.0, 2.0, 1.5, 2.5])

    def test_self_times_sum_to_the_root(self):
        spans = [self.span(0.0, 9.7, 0), self.span(0.0, 3.1, 1), self.span(3.1, 9.7, 1),
                 self.span(0.5, 2.0, 2), self.span(1.0, 2.5, 2), self.span(4.0, 9.0, 2),
                 self.span(4.2, 5.0, 3)]
        self.assertAlmostEqual(sum(stats.self_times(spans)), 9.7)

    def test_uncovered_parent_keeps_its_time(self):
        spans = [self.span(0, 10, 0), self.span(2, 3, 1)]
        self.assertEqual(stats.self_times(spans), [9.0, 1.0])


class SpreadTest(unittest.TestCase):
    def test_quartile_spread(self):
        self.assertAlmostEqual(stats.quartile_spread([1, 2, 3, 4, 5, 6, 7, 8, 9, 10]),
                               (8.25 - 2.75) / 5.5)


if __name__ == "__main__":
    unittest.main()
