import hashlib
import os
import sys
import tempfile
import unittest

import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
from benchlib import gen  # noqa: E402


def digest(path):
    with open(path, "rb") as f:
        return hashlib.sha256(f.read()).hexdigest()


class PlateTest(unittest.TestCase):
    def setUp(self):
        self.tmp = tempfile.TemporaryDirectory()
        self.addCleanup(self.tmp.cleanup)

    def plate(self, seed, name):
        path = os.path.join(self.tmp.name, name, "plate.parquet")
        params = gen.signal_plate(seed, path, recordings=2, samples=1500)
        return path, params

    def test_same_seed_same_bytes(self):
        a, _ = self.plate(7, "a")
        b, _ = self.plate(7, "b")
        self.assertEqual(digest(a), digest(b))

    def test_other_seed_other_bytes(self):
        a, _ = self.plate(7, "a")
        b, _ = self.plate(8, "b")
        self.assertNotEqual(digest(a), digest(b))

    def test_shape_and_ranges(self):
        path, params = self.plate(3, "a")
        t = pq.read_table(path)
        self.assertEqual(t.column_names, ["experiment_id", "channel", "sample_idx", "t", "y"])
        self.assertEqual(t.num_rows, 2 * gen.CHANNELS * 1500)
        self.assertEqual(len(params), 2 * gen.CHANNELS)
        for r in range(2):
            self.assertEqual(sum(p["flat"] for p in params if p["recording"] == r), 1)
        for p in params:
            for k, (lo, hi) in gen.PLATE_RANGES.items():
                self.assertTrue(lo <= p[k] <= hi, (k, p[k]))


class TablesTest(unittest.TestCase):
    def test_same_seed_same_bytes(self):
        with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b:
            ca = gen.tables(5, a, 0.001)
            cb = gen.tables(5, b, 0.001)
            self.assertEqual(ca, cb)
            for name in ca:
                f = f"{name}.parquet"
                self.assertEqual(digest(os.path.join(a, f)), digest(os.path.join(b, f)), name)


if __name__ == "__main__":
    unittest.main()
