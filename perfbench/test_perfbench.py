"""Tests of the benchmark's own Python code.

    python3 -m unittest discover -s perfbench -p 'test_*.py'

The frame generator's tests are Scala: `sbt test` in perfbench/.
"""
import json
import os
import statistics
import tempfile
import unittest

import keys
import stats
import tables

HERE = os.path.dirname(os.path.abspath(__file__))


class StatsTest(unittest.TestCase):
    def test_percentile_interpolates_between_ranks(self):
        self.assertEqual(stats.percentile([4, 1, 3, 2], 50), 2.5)
        self.assertEqual(stats.percentile([4, 1, 3, 2], 0), 1)
        self.assertEqual(stats.percentile([4, 1, 3, 2], 100), 4)
        self.assertAlmostEqual(stats.percentile(range(1, 11), 90), 9.1)
        self.assertEqual(stats.median([7]), 7)
        self.assertRaises(ValueError, stats.percentile, [], 50)

    def test_tail_percentile_leaves_ten_samples_beyond(self):
        self.assertEqual(stats.tail_percentile(50000), 90)
        self.assertAlmostEqual(stats.tail_percentile(100), 90)
        self.assertAlmostEqual(stats.tail_percentile(40), 75)
        self.assertAlmostEqual(stats.tail_percentile(20), 50)
        self.assertEqual(stats.tail_percentile(19), 75)
        values = list(range(1, 31))
        q = stats.tail_percentile(len(values))
        self.assertEqual(sum(v > stats.percentile(values, q) for v in values), 10)

    def test_relative_iqr_uses_statistics_quartiles(self):
        self.assertEqual(statistics.quantiles(range(1, 10), n=4), [2.5, 5.0, 7.5])
        self.assertEqual(stats.relative_iqr(range(1, 10)), 1.0)
        self.assertEqual(stats.relative_iqr([3, 3, 3, 3]), 0.0)


class KeyDrawTest(unittest.TestCase):
    def setUp(self):
        with open(os.path.join(HERE, "workloads.json")) as fh:
            self.q = json.load(fh)["workloads"]["queries"]

    def test_recorded_keys_are_the_draw_of_the_recorded_seed(self):
        self.assertEqual(self.q["keys"], keys.draw(self.q["pool"], self.q["draw_seed"],
                                                   len(self.q["keys"]), self.q["draw_fixed"]))

    def test_draw_is_stable_per_seed_and_varies_across_seeds(self):
        pool = self.q["pool"]
        self.assertEqual(keys.draw(pool, 3, 100), keys.draw(pool, 3, 100))
        self.assertNotEqual(keys.draw(pool, 3, 100), keys.draw(pool, 4, 100))

    def test_draw_always_holds_the_fixed_keys(self):
        pool, fixed = self.q["pool"], self.q["draw_fixed"]
        for seed in range(5):
            self.assertLessEqual(set(fixed), set(keys.draw(pool, seed, 18, fixed)))
        self.assertRaises(ValueError, keys.draw, pool, 1, 4, fixed)

    def test_known_failing_keys_are_in_every_draw(self):
        self.assertLessEqual(set(self.q["known_failing"]), set(self.q["draw_fixed"]))
        self.assertLessEqual(set(self.q["draw_fixed"]), set(self.q["pool"]))

    def test_draw_is_stratified(self):
        drawn = self.q["keys"]
        cost = [self.q["pool"][k] for k in drawn]
        self.assertEqual(len(drawn), 18)
        self.assertEqual(len(set(drawn)), len(drawn))
        self.assertGreater(sum(c < 1.0 for c in cost), len(drawn) / 2)
        self.assertGreaterEqual(sum(c >= 1.5 for c in cost), keys.MIN_TAIL)
        self.assertFalse(any(k.startswith("stream_") for k in drawn))


class TablesTest(unittest.TestCase):
    def test_same_seed_same_tables(self):
        with tempfile.TemporaryDirectory() as d:
            def read(sub, seed):
                tables.generate(os.path.join(d, sub), 0.001, seed)
                return {n: open(os.path.join(d, sub, n + ".parquet"), "rb").read()
                        for n in tables.NAMES}
            a, b, c = read("a", 1), read("b", 1), read("c", 2)
            self.assertEqual(a, b)
            self.assertNotEqual(a["lineitem"], c["lineitem"])


if __name__ == "__main__":
    unittest.main()
