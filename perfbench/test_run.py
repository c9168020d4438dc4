"""Tests of the benchmark's own statistics and input generators.

    python3 -m unittest discover -s perfbench -p 'test_*.py'

Run from the repository root. The generator tests compile the
benchmark (or reuse its build) and call the driver's digest mode.
"""
import os
import subprocess
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import run  # noqa: E402


class StatsTest(unittest.TestCase):

    def test_median(self):
        self.assertEqual(run.median([3.0, 1.0, 2.0]), 2.0)
        self.assertEqual(run.median([4.0, 1.0, 2.0, 3.0]), 2.5)
        self.assertEqual(run.median([]), 0.0)

    def test_tail_picks_highest_percentile_with_ten_beyond(self):
        xs = [float(i) for i in range(1, 101)]       # 100 samples
        self.assertEqual(run.tail(xs), (90.0, 90.0))  # 10 beyond p90
        xs = [float(i) for i in range(1, 1001)]      # 1000 samples
        self.assertEqual(run.tail(xs), (99.0, 990.0))
        xs = [float(i) for i in range(1, 26)]        # 25: only p50 has 10 beyond
        self.assertEqual(run.tail(xs), (50.0, 13.0))

    def test_tail_falls_back_to_the_median(self):
        self.assertEqual(run.tail([5.0, 1.0, 3.0]), (50.0, 3.0))
        self.assertEqual(run.tail([]), (50.0, 0.0))

    def test_tail_is_order_independent(self):
        xs = [float((i * 37) % 101) for i in range(101)]
        self.assertEqual(run.tail(xs), run.tail(sorted(xs)))

    def test_spread_is_iqr_over_median(self):
        # quantiles(n=4) of 1..9 (exclusive method) are 2.5, 5, 7.5
        self.assertAlmostEqual(run.spread([float(i) for i in range(1, 10)]), 1.0)
        self.assertEqual(run.spread([2.0] * 10), 0.0)

    def test_bound_comparison(self):
        self.assertFalse(run.regressed(10.0, 11.0, 0.1, "lower"))
        self.assertTrue(run.regressed(10.0, 11.01, 0.1, "lower"))
        self.assertFalse(run.regressed(10.0, 5.0, 0.1, "lower"))
        self.assertFalse(run.regressed(100.0, 90.0, 0.1, "higher"))
        self.assertTrue(run.regressed(100.0, 89.9, 0.1, "higher"))
        self.assertFalse(run.regressed(100.0, 150.0, 0.1, "higher"))


class GeneratorTest(unittest.TestCase):

    @classmethod
    def setUpClass(cls):
        root = os.getcwd()
        jars = run.spark_jars(root)
        build_dir = os.path.abspath(os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
        classes = run.build(root, build_dir, jars)
        cls.cp = os.pathsep.join([classes, os.path.join(jars, "*")])

    def digest(self, seed):
        r = subprocess.run(["java", "-cp", self.cp, "graftbench.Main", "--digest", str(seed)],
                           capture_output=True, text=True, timeout=300, check=True)
        return r.stdout.strip().splitlines()[-1]

    def test_same_seed_same_inputs(self):
        self.assertEqual(self.digest(7), self.digest(7))

    def test_different_seed_different_inputs(self):
        self.assertNotEqual(self.digest(7), self.digest(8))


if __name__ == "__main__":
    unittest.main()
