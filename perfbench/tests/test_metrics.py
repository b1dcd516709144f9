"""Percentile rule, correctness gate and check.py parsing."""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import metrics as M  # noqa: E402
import workloads as W  # noqa: E402


class PercentileRule(unittest.TestCase):
    def test_needs_ten_samples_beyond(self):
        self.assertIsNone(M.pct(range(19), 0.5))
        self.assertEqual(M.pct(range(20), 0.5), 9.5)
        self.assertIsNone(M.pct(range(99), 0.9))
        self.assertAlmostEqual(M.pct(range(100), 0.9), 89.1)
        self.assertIsNone(M.pct(range(999), 0.99))
        self.assertIsNotNone(M.pct(range(1000), 0.99))

    def test_ignores_missing_samples(self):
        xs = list(range(20)) + [None, float("nan")]
        self.assertEqual(M.pct(xs, 0.5), 9.5)


def ops(n, fp="3:00ff"):
    return [{"name": f"q{i}", "ok": True, "wall_s": 1.0 + i, "fp": fp} for i in range(n)]


class CorrectnessGate(unittest.TestCase):
    wl = W.Workload("t", "pass", 0.01, tuple(f"q{i}" for i in range(20)), "q0")

    def ref(self, n=20, fp="3:00ff", oracle="ok"):
        return {f"q{i}": {"fp": fp, "oracle": oracle} for i in range(n)}

    def raw(self, os_):
        return {"ops": os_, "setup_s": 2.0, "jvm": {"rss_peak_mb": 100.0}}

    def test_clean_pass(self):
        r = M.evaluate(self.wl, self.raw(ops(20)), self.ref())
        self.assertEqual((r["attempted"], r["failed"]), (20, 0))
        self.assertEqual(r["end_to_end"]["setup_s"], 2.0)
        self.assertEqual(r["end_to_end"]["wall_s"], sum(1.0 + i for i in range(20)))

    def test_corrupted_fingerprint_counts_as_failed(self):
        o = ops(20)
        o[3]["fp"] = "3:00fe"
        r = M.evaluate(self.wl, self.raw(o), self.ref())
        self.assertEqual(r["failed"], 1)
        self.assertIn("q3", r["failures"])
        self.assertAlmostEqual(r["figures"]["fail_ratio"], 1 / 20)

    def test_failed_query_keeps_its_wall(self):
        o = ops(20)
        o[5] = {"name": "q5", "ok": False, "wall_s": 6.0, "error": "boom"}
        r = M.evaluate(self.wl, self.raw(o), self.ref())
        self.assertEqual(r["failed"], 1)
        self.assertEqual(r["end_to_end"]["wall_s"], sum(1.0 + i for i in range(20)))

    def test_oracle_mismatch_fails_every_run(self):
        ref = self.ref()
        ref["q7"]["oracle"] = "VALUES: differs"
        r = M.evaluate(self.wl, self.raw(ops(20)), ref)
        self.assertEqual(list(r["failures"]), ["q7"])


def step(lag):
    """A synthetic step: an event due every 10 ms for 2 s, appended on time;
    a commit every 100 ms takes the events due at least lag(due) ms before
    it."""
    due = [10.0 * i for i in range(200)]
    commits = [100.0 * k for k in range(1, 200)]
    com = [next(c for c in commits if c >= d + lag(d)) for d in due]
    batches = [[i, c, 1] for i, c in enumerate(sorted(set(com)))]
    return {"due_ms": due, "appended_ms": due, "commit_ms": com, "batches": batches}


class Backlog(unittest.TestCase):
    def test_steady_lag_does_not_grow(self):
        f = M.step_figures(step(lambda d: 100.0))
        self.assertFalse(f["backlog_grew"])
        self.assertTrue(f["valid"])

    def test_growing_lag_grows(self):
        self.assertTrue(M.step_figures(step(lambda d: 100.0 + d / 2))["backlog_grew"])

    def test_uncommitted_events_count_in_backlog(self):
        s = step(lambda d: 100.0)
        s["commit_ms"][-5:] = [None] * 5
        self.assertGreaterEqual(M.step_figures(s)["backlog_max"], 5)


class CheckParsing(unittest.TestCase):
    def test_parse(self):
        out = M.parse_check("OK      q01_x (4 rows)\nVALUES  q02_y: [x] differ\n"
                            "ROWS    q03_z: spark=1 oracle=2\n\n3 ok, 2 bad\n")
        self.assertEqual(out["q01_x"], "ok")
        self.assertTrue(out["q02_y"].startswith("VALUES"))
        self.assertTrue(out["q03_z"].startswith("ROWS"))
        self.assertEqual(len(out), 3)


if __name__ == "__main__":
    unittest.main()
