"""Tests of the repeat runner's statistics: python3 -m unittest discover perfbench/tests"""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import repeat  # noqa: E402


class SummaryTest(unittest.TestCase):
    def test_quartiles_match_the_exclusive_method(self):
        s = repeat.summary([1, 2, 3, 4, 5, 6, 7, 8, 9, 10])
        self.assertEqual(s["median"], 5.5)
        self.assertAlmostEqual(s["q1"], 2.75)
        self.assertAlmostEqual(s["q3"], 8.25)
        self.assertAlmostEqual(s["spread"], 5.5 / 5.5)

    def test_spread_is_the_interquartile_range_over_the_median(self):
        s = repeat.summary([100.0, 101.0, 99.0, 100.0, 102.0, 98.0, 100.0, 100.0])
        self.assertEqual(s["median"], 100.0)
        self.assertAlmostEqual(s["spread"], (s["q3"] - s["q1"]) / 100.0)
        self.assertLess(s["spread"], 0.03)

    def test_order_does_not_matter(self):
        a = repeat.summary([3.0, 9.0, 1.0, 7.0, 5.0])
        b = repeat.summary([9.0, 7.0, 5.0, 3.0, 1.0])
        self.assertEqual(a, b)

    def test_seed_ranges(self):
        self.assertEqual(repeat.seeds_of("1-3,7,10-11"), [1, 2, 3, 7, 10, 11])


if __name__ == "__main__":
    unittest.main()
