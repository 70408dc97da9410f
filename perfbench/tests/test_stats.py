import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
from benchlib import stats  # noqa: E402


class TailTest(unittest.TestCase):
    def test_at_least_ten_beyond(self):
        for n in range(20, 2000, 37):
            xs = list(range(n))
            v, p, beyond, count = stats.tail(xs)
            self.assertEqual(count, n)
            self.assertGreaterEqual(beyond, stats.TAIL_MIN_BEYOND)
            self.assertEqual(beyond, sum(1 for x in xs if x > v))
            higher = [q for q in stats.TAIL_LADDER if q > p]
            for q in higher:  # no higher rung of the ladder has ten beyond it
                rank = -(-int(q * n) // 100)
                self.assertLess(n - rank, stats.TAIL_MIN_BEYOND)

    def test_picks_highest_supported(self):
        self.assertEqual(stats.tail(range(20))[1:3], (50.0, 10))
        self.assertEqual(stats.tail(range(40))[1:3], (75.0, 10))
        self.assertEqual(stats.tail(range(100))[1:3], (90.0, 10))
        self.assertEqual(stats.tail(range(1000))[1:3], (99.0, 10))
        self.assertEqual(stats.tail(range(10000))[1:3], (99.9, 10))

    def test_small_sample_reports_max(self):
        self.assertEqual(stats.tail([3.0, 1.0, 2.0]), (3.0, 100.0, 0, 3))

    def test_unsorted_input(self):
        xs = [float(i % 7) + i / 1000 for i in range(50)]
        v, p, beyond, n = stats.tail(xs)
        self.assertEqual(beyond, sum(1 for x in xs if x > v))


class SelfTimeTest(unittest.TestCase):
    def test_no_children(self):
        self.assertEqual(stats.self_time((0, 10), []), 10)

    def test_disjoint_children(self):
        self.assertEqual(stats.self_time((0, 10), [(1, 3), (5, 6)]), 7)

    def test_overlapping_children_count_once(self):
        self.assertEqual(stats.self_time((0, 10), [(1, 5), (3, 7), (4, 6)]), 4)

    def test_children_clipped_to_span(self):
        self.assertEqual(stats.self_time((0, 10), [(-5, 2), (8, 20), (30, 40)]), 6)

    def test_fully_covered(self):
        self.assertEqual(stats.self_time((2, 4), [(0, 10)]), 0)


if __name__ == "__main__":
    unittest.main()
