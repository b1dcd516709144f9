"""Self-time arithmetic of the trace summarizer."""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import summarize as S  # noqa: E402

JOBS = S.LAYERS["spark.jobs"][1]
CAT = S.LAYERS["catalyst"][1]
BUILD = S.LAYERS["graft.queries"][1]


class SelfTime(unittest.TestCase):
    def test_priority_owns_overlap(self):
        # build 0-600 ms, a catalyst phase 100-300, a job 200-500
        t = S.self_times((0, 1000), [(0, 600, "graft.queries"), (100, 300, "catalyst"),
                                      (200, 500, "spark.jobs")])
        self.assertAlmostEqual(t[JOBS], 0.3)
        self.assertAlmostEqual(t[CAT], 0.1)
        self.assertAlmostEqual(t[BUILD], 0.2)
        self.assertAlmostEqual(t[S.UNATTRIBUTED], 0.4)
        self.assertAlmostEqual(sum(t.values()), 1.0)

    def test_clipped_to_window(self):
        t = S.self_times((100, 200), [(0, 150, "spark.jobs"), (180, 900, "catalyst")])
        self.assertAlmostEqual(t[JOBS], 0.05)
        self.assertAlmostEqual(t[CAT], 0.02)
        self.assertAlmostEqual(t[S.UNATTRIBUTED], 0.03)

    def test_union_of_overlapping_jobs(self):
        self.assertEqual(S.union_ms((0, 100), [(10, 30), (20, 40), (50, 60), (90, 200)]), 50)


if __name__ == "__main__":
    unittest.main()
