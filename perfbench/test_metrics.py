"""Unit checks of the benchmark's own arithmetic.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import unittest

from metrics import hd_median, tail, union_length


class UnionLength(unittest.TestCase):
    def test_disjoint_intervals_add(self):
        self.assertEqual(union_length([(0, 1), (2, 4)]), 3)

    def test_overlap_counts_once(self):
        # two jobs on futures overlapping by 2: busy 6, not the sum 8
        self.assertEqual(union_length([(0, 4), (2, 6)]), 6)

    def test_nested_and_touching(self):
        self.assertEqual(union_length([(0, 10), (1, 2), (10, 12)]), 12)

    def test_unsorted_input(self):
        self.assertEqual(union_length([(5, 7), (0, 1), (6, 9)]), 5)

    def test_clip_to_op_window(self):
        self.assertEqual(union_length([(-3, 2), (8, 20)], lo=0, hi=10), 4)

    def test_empty_and_degenerate(self):
        self.assertEqual(union_length([]), 0)
        self.assertEqual(union_length([(3, 3), (5, 4)]), 0)
        self.assertEqual(union_length([(0, 5)], lo=6, hi=9), 0)


class Tail(unittest.TestCase):
    def test_ten_samples_beyond(self):
        xs = list(range(1, 101))          # 100 samples
        value, pct, n = tail(xs)
        self.assertEqual((value, pct, n), (90, 90.0, 100))
        self.assertEqual(sum(1 for x in xs if x > value), 10)

    def test_percentile_follows_sample_count(self):
        value, pct, n = tail(list(range(40)))
        self.assertEqual((value, pct, n), (29, 75.0, 40))

    def test_order_does_not_matter(self):
        self.assertEqual(tail([5, 1, 4, 2, 3] * 4)[0], tail(sorted([5, 1, 4, 2, 3] * 4))[0])

    def test_too_few_samples(self):
        self.assertIsNone(tail(list(range(19))))
        self.assertIsNotNone(tail(list(range(20))))


class HdMedian(unittest.TestCase):
    def test_single_and_symmetric_samples(self):
        self.assertEqual(hd_median([3.0]), 3.0)
        self.assertAlmostEqual(hd_median([1, 2, 3, 4, 5]), 3.0)
        self.assertAlmostEqual(hd_median([4, 1, 3, 2]), 2.5)

    def test_weights_favour_the_middle(self):
        # an outlier moves it a little, never as far as it moves the mean
        xs = [1.0] * 9 + [100.0]
        self.assertLess(hd_median(xs), 1.5)

    def test_smooth_across_a_gap(self):
        # two clusters of six: the sample median sits at 2.0 or 3.0
        # depending on one op; this estimate moves by a fraction of that
        low, high = [1.0] * 5 + [2.0], [3.0] + [4.0] * 5
        a = hd_median(low + high)
        b = hd_median(low[:-1] + [3.0] + high)
        self.assertLess(abs(b - a), 0.5)


if __name__ == "__main__":
    unittest.main()
