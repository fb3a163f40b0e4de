"""Self-test of the benchmark's statistics on synthetic samples.

    python3 kgbench/test_stats.py
"""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import stats  # noqa: E402


class TailRule(unittest.TestCase):
    def test_ten_samples_beyond(self):
        xs = list(range(1, 101))  # 100 samples
        v, p, beyond = stats.tail(xs)
        self.assertEqual(p, 90.0)
        self.assertEqual(beyond, 10)
        self.assertAlmostEqual(v, 90.1)

    def test_percentile_grows_with_samples(self):
        _, p60, _ = stats.tail(list(range(60)))
        _, p200, _ = stats.tail(list(range(200)))
        self.assertAlmostEqual(p60, 83.3)
        self.assertEqual(p200, 95.0)
        self.assertLess(p60, p200)

    def test_always_ten_beyond(self):
        for n in range(20, 400, 7):
            xs = [float(i * i % 97) + i / 1000 for i in range(n)]
            _, _, beyond = stats.tail(xs)
            self.assertGreaterEqual(beyond, 10, n)

    def test_few_samples_report_the_maximum(self):
        self.assertEqual(stats.tail([3.0, 1.0, 2.0]), (3.0, 100.0, 0))
        self.assertEqual(stats.tail([5.0])[0], 5.0)

    def test_bimodal_tail_lands_in_the_slow_mode(self):
        # one miss (1000 ms) per four requests, three hits (150 ms)
        xs = [1000.0 if i % 4 == 0 else 150.0 + i % 7 for i in range(56)]
        v, _, _ = stats.tail(xs)
        self.assertEqual(v, 1000.0)
        self.assertLess(stats.median(xs), 200.0)


class Median(unittest.TestCase):
    def test_odd_even(self):
        self.assertEqual(stats.median([3, 1, 2]), 2)
        self.assertEqual(stats.median([4, 1, 3, 2]), 2.5)

    def test_empty(self):
        with self.assertRaises(ValueError):
            stats.median([])

    def test_percentile_interpolates(self):
        self.assertEqual(stats.percentile([0, 10], 50), 5)
        self.assertEqual(stats.percentile([1, 2, 3, 4, 5], 100), 5)


class Agreement(unittest.TestCase):
    def test_spread_is_iqr_over_median(self):
        xs = [10.0] * 5 + [11.0] * 5
        q = stats.spread(xs)
        self.assertGreater(q, 0.0)
        self.assertLess(q, 0.11)
        self.assertEqual(stats.spread([7.0] * 10), 0.0)

    def test_lower_is_better(self):
        base = [100.0, 101.0, 99.0]
        self.assertTrue(stats.agrees(base, [109.0, 110.0, 111.0], 0.1, "lower"))
        self.assertFalse(stats.agrees(base, [112.0, 111.0, 113.0], 0.1, "lower"))
        self.assertTrue(stats.agrees(base, [50.0], 0.1, "lower"))

    def test_higher_is_better(self):
        base = [2.0, 2.0, 2.0]
        self.assertTrue(stats.agrees(base, [1.9], 0.1, "higher"))
        self.assertFalse(stats.agrees(base, [1.7], 0.1, "higher"))
        self.assertTrue(stats.agrees(base, [3.0], 0.1, "higher"))


if __name__ == "__main__":
    unittest.main()
