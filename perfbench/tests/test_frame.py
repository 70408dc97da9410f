import collections
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
from benchlib import frame  # noqa: E402


class PickTest(unittest.TestCase):
    def setUp(self):
        self.rows = frame.load()

    def test_frame_covers_the_surface(self):
        self.assertEqual(len(self.rows), 360)
        self.assertEqual(sum(1 for r in self.rows if r[1] == "streaming"), 33)

    def test_pick_is_deterministic(self):
        self.assertEqual(frame.pick(self.rows, 10), frame.pick(self.rows, 10))

    def test_pick_is_stratified_by_module(self):
        share = collections.Counter(m for _, m, _ in self.rows)
        for n in (9, 11, 16, 40):
            alloc = frame.allocate(share, n)
            self.assertEqual(sum(alloc.values()), n)
            self.assertTrue(all(v >= 1 for v in alloc.values()))
            picked = frame.pick(self.rows, n)
            self.assertEqual(len(set(picked)), n)
            mods = collections.Counter(m for q, m, _ in self.rows if q in picked)
            self.assertEqual(dict(mods), alloc)

    def test_allocation_is_proportional(self):
        self.assertEqual(frame.allocate({"a": 60, "b": 30, "c": 10}, 13), {"a": 7, "b": 4, "c": 2})
        self.assertEqual(frame.allocate({"a": 60, "b": 30, "c": 10}, 3), {"a": 1, "b": 1, "c": 1})
        with self.assertRaises(ValueError):
            frame.allocate({"a": 1, "b": 1}, 1)

    def test_order_is_a_seeded_permutation(self):
        ops = frame.pick(self.rows, 11)
        self.assertEqual(frame.order(ops, 3), frame.order(ops, 3))
        self.assertEqual(sorted(frame.order(ops, 3)), sorted(ops))
        self.assertGreater(len({tuple(frame.order(ops, s)) for s in range(10)}), 5)


if __name__ == "__main__":
    unittest.main()
