"""Tests of the benchmark's own aggregation and checking code.

    python3 -m unittest discover -s perfbench/tests
"""
import os
import statistics
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import stats  # noqa: E402


def sample(op, p, wall, err=None, phase="timed", cpu=1.0, rows=100):
    return {"op": op, "pass": p, "phase": phase, "wall": wall, "cpu": cpu, "rows": rows,
            "err": err}


class QuantileTest(unittest.TestCase):
    def test_median_odd_and_even(self):
        self.assertEqual(stats.median([3.0, 1.0, 2.0]), 2.0)
        self.assertEqual(stats.median([4.0, 1.0, 2.0, 3.0]), 2.5)

    def test_percentiles_interpolate(self):
        xs = [float(i) for i in range(1, 11)]
        self.assertAlmostEqual(stats.quantile(xs, 0.9), 9.1)
        self.assertEqual(stats.quantile(xs, 0.0), 1.0)
        self.assertEqual(stats.quantile(xs, 1.0), 10.0)
        self.assertEqual(stats.quantile([7.0], 0.9), 7.0)

    def test_quartiles_match_statistics_inclusive(self):
        xs = [0.5, 2.0, 1.25, 9.0, 3.5, 0.75, 4.0]
        q1, _, q3 = stats.spread(xs)
        ref = statistics.quantiles(xs, n=4, method="inclusive")
        self.assertAlmostEqual(q1, ref[0])
        self.assertAlmostEqual(q3, ref[2])

    def test_geomean(self):
        self.assertAlmostEqual(stats.geomean([1.0, 4.0, 16.0]), 4.0)
        self.assertAlmostEqual(stats.geomean([2.5]), 2.5)


class TimingTest(unittest.TestCase):
    def test_aggregates(self):
        s = [sample("a", 1, 1.0), sample("b", 1, 3.0), sample("a", 2, 2.0),
             sample("b", 2, 4.0), sample("a", 0, 99.0, phase="cold")]
        t = stats.timing(s, "timed")
        self.assertEqual((t["attempted"], t["failed"], t["samples"]), (4, 0, 4))
        self.assertEqual(t["pass_s"], 5.0)           # median of 4.0 and 6.0
        self.assertEqual(t["cpu_s"], 2.0)
        self.assertAlmostEqual(t["op_geomean_s"], (1.5 * 3.5) ** 0.5)
        self.assertEqual(t["op_p50_s"], 2.5)
        self.assertEqual(t["rows_per_s"], (200 / 4.0 + 200 / 6.0) / 2)

    def test_failed_op_counts_in_failed_and_in_no_latency(self):
        s = [sample("a", 1, 1.0), sample("slow", 1, 50.0, err="boom"),
             sample("a", 2, 1.0), sample("slow", 2, 60.0)]
        t = stats.timing(s, "timed")
        self.assertEqual(t["attempted"], 4)
        self.assertEqual(t["failed"], 1)
        self.assertEqual(t["failed_ops"], {"slow": "boom"})
        # the op that failed once is left out of every figure, its
        # successful pass too, so each pass sums the same ops
        self.assertEqual(t["pass_s"], 1.0)
        self.assertEqual(t["op_p90_s"], 1.0)
        self.assertEqual(t["op_geomean_s"], 1.0)
        self.assertEqual(t["cpu_s"], 1.0)
        self.assertEqual(t["rows_per_s"], 100.0)
        self.assertEqual(list(t["op_median_s"]), ["a"])

    def test_all_failed_has_no_latency(self):
        t = stats.timing([sample("a", 1, 1.0, err="x")], "timed")
        self.assertEqual((t["attempted"], t["failed"], t["samples"]), (1, 1, 0))
        self.assertNotIn("pass_s", t)


class LayersTest(unittest.TestCase):
    def test_totals_shares_and_overhead(self):
        tr = [{"op": "a", "pass": 1, "m": {"op.wall_s": 1.0, "driver.gap_s": 0.5, "exec.jobs": 2,
                                           "catalyst.plans": 1}},
              {"op": "b", "pass": 1, "m": {"op.wall_s": 3.0, "driver.gap_s": 0.5, "exec.jobs": 4,
                                           "catalyst.plans": 1}},
              {"op": "a", "pass": 3, "m": {"op.wall_s": 1.0, "driver.gap_s": 0.3, "exec.jobs": 2,
                                           "catalyst.plans": 1}},
              {"op": "b", "pass": 3, "m": {"op.wall_s": 3.0, "driver.gap_s": 0.3, "exec.jobs": 4,
                                           "catalyst.plans": 1}}]
        ops, total = stats.layers(tr, [0.1, 0.2, 0.3], timed_pass_s=4.0, traced_pass_s=4.2)
        self.assertAlmostEqual(ops["a"]["driver.gap_share"], 0.4)
        self.assertEqual(total["exec.jobs"], 6)
        self.assertAlmostEqual(total["driver.gap_s"], 0.8)
        self.assertAlmostEqual(total["driver.gap_share"], 0.2)
        self.assertAlmostEqual(total["streaming.trigger_p50_s"], 0.2)
        self.assertAlmostEqual(total["trace.overhead"], 1.05)
        self.assertEqual(stats.uncovered(ops), [])

    def test_uncovered_ops(self):
        ops = {"no_jobs": {"exec.jobs": 0, "catalyst.plans": 3},
               "stream": {"exec.jobs": 5, "catalyst.plans": 0, "streaming.triggers": 6},
               "no_plans": {"exec.jobs": 1, "catalyst.plans": 0}}
        self.assertEqual(stats.uncovered(ops), ["no_jobs", "no_plans"])


if __name__ == "__main__":
    unittest.main()
