"""Tests for the benchmark's statistics and compare logic.

    python3 -m unittest discover -s graftbench/tests

The last test builds the harness (first time only) and runs its check
self-test, which shows each workload's check rejecting wrong answers.
"""
import json
import os
import statistics
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path.insert(0, BENCH)
import compare  # noqa: E402
import stats  # noqa: E402


class TailRule(unittest.TestCase):
    def test_needs_eleven_samples(self):
        self.assertIsNone(stats.tail(list(range(10))))
        self.assertIsNone(stats.tail(list(range(1, 11))))
        v, pct, n = stats.tail(list(range(1, 12)))
        self.assertEqual((v, n), (1, 11))
        self.assertAlmostEqual(pct, 100 / 11)

    def test_leaves_ten_samples_above(self):
        xs = [float(x) for x in range(100, 0, -1)]
        v, pct, n = stats.tail(xs)
        self.assertEqual((v, pct, n), (90.0, 90.0, 100))
        self.assertEqual(sum(1 for x in xs if x > v), 10)


class MedianAndQuartiles(unittest.TestCase):
    def test_median(self):
        self.assertEqual(stats.median([3, 1, 2]), 2)
        self.assertEqual(stats.median([4, 1, 2, 3]), 2.5)
        with self.assertRaises(ValueError):
            stats.median([])

    def test_quartiles_match_statistics_quantiles(self):
        xs = [5.0, 1.0, 9.0, 3.0, 7.0, 2.0, 8.0, 4.0, 6.0, 10.0]
        q = statistics.quantiles(xs, n=4)
        self.assertEqual(stats.quartiles(xs), (q[0], q[2]))

    def test_spread_is_quartile_distance_over_median(self):
        xs = [10.0] * 5 + [11.0] * 5
        q1, q3 = stats.quartiles(xs)
        self.assertAlmostEqual(stats.spread(xs), (q3 - q1) / 10.5)
        self.assertEqual(stats.spread([2.0] * 10), 0.0)


class Bound(unittest.TestCase):
    steady = [1.00, 1.01, 0.99, 1.00, 1.02, 0.98, 1.00, 1.01, 0.99, 1.00]

    def test_within_bound_is_ok(self):
        change = [x * 1.05 for x in self.steady]
        self.assertEqual(stats.verdict(self.steady, change, 0.1, "lower"), "ok")

    def test_worse_than_bound_regresses(self):
        change = [x * 1.2 for x in self.steady]
        self.assertEqual(stats.verdict(self.steady, change, 0.1, "lower"), "regressed")
        self.assertEqual(stats.verdict(change, self.steady, 0.1, "higher"), "regressed")

    def test_direction_matters(self):
        slower = [x * 1.2 for x in self.steady]
        self.assertAlmostEqual(stats.worse_by(1.0, 1.2, "lower"), 0.2)
        self.assertAlmostEqual(stats.worse_by(1.0, 1.2, "higher"), -0.2)
        # higher is better and the change reads higher everywhere: ok
        self.assertEqual(stats.verdict(self.steady, slower, 0.1, "higher"), "ok")

    def test_wide_spread_is_unresolved(self):
        noisy = [0.5, 1.5, 0.7, 1.3, 1.0, 0.6, 1.4, 0.8, 1.2, 1.0]
        change = [x * 1.05 for x in noisy]
        self.assertEqual(stats.verdict(noisy, change, 0.1, "lower"), "unresolved")

    def test_wide_spread_resolves_when_change_wins_every_pair(self):
        noisy = [1.5, 2.5, 1.7, 2.3, 2.0]
        faster = [0.5, 0.6, 0.55, 0.52, 0.58]
        self.assertEqual(stats.verdict(noisy, faster, 0.1, "lower"), "ok")


class PairWins(unittest.TestCase):
    def test_ties_count_for_neither(self):
        self.assertEqual(stats.pair_wins([1, 1, 1, 1], [0.5, 1, 2, 0.5], "lower"), 0.5)

    def test_gain_needs_nine_tenths_and_beyond_spread(self):
        parent = [1.00, 1.01, 0.99, 1.00, 1.02, 0.98, 1.00, 1.01, 0.99, 1.00]
        faster = [x * 0.8 for x in parent]
        self.assertTrue(stats.gain_claimed(parent, faster, "lower"))
        nine = faster[:9] + [1.5]
        self.assertEqual(stats.pair_wins(parent, nine, "lower"), 0.9)
        self.assertTrue(stats.gain_claimed(parent, nine, "lower"))
        eight = faster[:8] + [1.5, 1.5]
        self.assertFalse(stats.gain_claimed(parent, eight, "lower"))
        tiny = [x - 0.001 for x in parent]  # wins every pair, inside the spread
        self.assertFalse(stats.gain_claimed(parent, tiny, "lower"))


class CompareTool(unittest.TestCase):
    def write(self, d, name, values, metric="op_p50_s", workload="ingest"):
        path = os.path.join(d, name)
        with open(path, "w") as fh:
            for v in values:
                fh.write(json.dumps({"workload": workload, "seed": 1, "trace": 0, "correct": True,
                                     "metrics": {metric: {"value": v, "unit": "s"}}}) + "\n")
            fh.write(json.dumps({"workload": workload, "seed": 1, "trace": 0, "correct": False,
                                 "metrics": {metric: {"value": 99.0, "unit": "s"}}}) + "\n")
        return path

    def test_flags_regression_per_metric_and_workload(self):
        specs = {"op_p50_s": {"name": "op_p50_s", "better": "lower", "bound": 0.1}}
        with tempfile.TemporaryDirectory() as d:
            p = compare.load(self.write(d, "p.jsonl", Bound.steady))
            c = compare.load(self.write(d, "c.jsonl", [x * 1.3 for x in Bound.steady]))
        self.assertEqual(len(p[("ingest", "op_p50_s")]), 10)  # incorrect runs dropped
        rows = compare.compare(p, c, specs)
        self.assertEqual([(r["workload"], r["verdict"]) for r in rows], [("ingest", "regressed")])
        self.assertEqual(rows[0]["pair_wins"], 0.0)
        sp = compare.spreads(p, specs)
        self.assertTrue(sp[0]["within_third"])

    def test_spread_check_fails_on_setup_s_too(self):
        with tempfile.TemporaryDirectory() as d:
            wide = self.write(d, "w.jsonl", [10.0, 20.0, 30.0, 40.0], metric="setup_s")
            r = subprocess.run([sys.executable, os.path.join(BENCH, "compare.py"), "--spread", wide],
                               capture_output=True, text=True)
        self.assertEqual(r.returncode, 1, r.stdout + r.stderr)
        self.assertIn("OVER", r.stdout)


class ChecksRejectWrongAnswers(unittest.TestCase):
    def test_selftest(self):
        r = subprocess.run([sys.executable, os.path.join(BENCH, "run.py"), "--selftest"],
                           cwd=os.path.dirname(BENCH), capture_output=True, text=True,
                           timeout=900)
        self.assertEqual(r.returncode, 0, r.stderr[-2000:] + r.stdout[-2000:])
        self.assertIn("selftest ok", r.stdout)


if __name__ == "__main__":
    unittest.main()
