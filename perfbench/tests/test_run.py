import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import run  # noqa: E402


def fake_run(pass_walls):
    """A result with one timed pass per list of operation wall times."""
    passes, ops = [], []
    for i, walls in enumerate(pass_walls):
        passes.append({"kind": "timed", "wall_s": sum(walls), "cpu_s": 1.0})
        ops += [{"pass": i, "kind": "timed", "op": f"q{j}", "wall_s": w, "error": None}
                for j, w in enumerate(walls)]
    res = {"setups_s": [2.0, 1.0], "heap_retained_mb": 100.0, "heap_peak_mb": 200.0,
           "passes": passes, "batches": []}
    return res, passes, ops


class EndToEndTest(unittest.TestCase):
    def test_tail_ignores_passes_beyond_the_minimum(self):
        first = [[0.1, 0.2, 2.0]] * run.MIN_PASSES
        short = run.end_to_end(*fake_run(first), bad={})[0]
        long = run.end_to_end(*fake_run(first + [[0.1, 0.2, 9.0]] * 40), bad={})[0]
        self.assertEqual(short["op_tail_s"], (2.0, "s"))
        self.assertEqual(long["op_tail_s"], short["op_tail_s"])

    def test_medians_use_every_pass(self):
        m = run.end_to_end(*fake_run([[1.0], [2.0], [3.0]]), bad={})[0]
        self.assertEqual(m["pass_wall_s"], (2.0, "s"))
        self.assertEqual(m["op_p50_s"], (2.0, "s"))
        self.assertEqual(m["setup_s"], (1.5, "s"))


if __name__ == "__main__":
    unittest.main()
