"""Seed determinism of the inputs."""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import workloads as W  # noqa: E402


class Generator(unittest.TestCase):
    wl = W.WORKLOADS["stream_live"]

    def test_same_seed_same_events(self):
        self.assertEqual(W.schedule(self.wl, 7, 9), W.schedule(self.wl, 7, 9))

    def test_other_seed_other_events(self):
        self.assertNotEqual(W.schedule(self.wl, 7, 9), W.schedule(self.wl, 8, 9))

    def test_rates_and_order(self):
        ev = W.schedule(self.wl, 3, 30)
        for i, rate in enumerate(self.wl.rates):
            due = [e[1] for e in ev if e[0] == i]
            self.assertEqual(due, sorted(due))
            self.assertAlmostEqual(len(due) / 10.0, rate, delta=0.15 * rate + 5)

    def test_pass_order_is_a_seeded_permutation(self):
        wl = W.WORKLOADS["registry_pass"]
        self.assertEqual(W.order(wl, 1), W.order(wl, 1))
        self.assertNotEqual(W.order(wl, 1), W.order(wl, 2))
        self.assertEqual(sorted(W.order(wl, 2)), sorted(wl.queries))


if __name__ == "__main__":
    unittest.main()
