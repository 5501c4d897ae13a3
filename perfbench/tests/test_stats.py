"""Tests of the benchmark's own arithmetic.

    python3 -m unittest discover -s perfbench/tests
"""
import datetime as dt
import decimal
import sys
import unittest
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))
import oracle  # noqa: E402
import stats  # noqa: E402
from workloads import MODULES, WORKLOADS  # noqa: E402


class PercentileTest(unittest.TestCase):
    def test_incomplete_beta(self):
        # I_x(2, 3) = sum_{j=2..4} C(4, j) x^j (1 - x)^(4 - j)
        self.assertAlmostEqual(stats.betainc(2, 3, 0.4), 0.5248)
        self.assertAlmostEqual(stats.betainc(3, 2, 0.6), 1 - 0.5248)
        self.assertEqual(stats.betainc(2, 3, 0.0), 0.0)
        self.assertEqual(stats.betainc(2, 3, 1.0), 1.0)

    def test_harrell_davis_median_of_a_symmetric_sample(self):
        self.assertAlmostEqual(stats.harrell_davis(list(range(1, 12)), 0.5), 6.0)
        self.assertAlmostEqual(stats.harrell_davis([4.0] * 9, 0.9), 4.0)

    def test_harrell_davis_moves_smoothly_across_a_gap(self):
        # two clusters; one sample crossing the gap moves the order-statistic
        # median all the way, the Harrell-Davis median only part of it
        lo = [100.0] * 7 + [200.0] * 7
        a = stats.harrell_davis(lo + [100.0], 0.5)
        b = stats.harrell_davis(lo + [200.0], 0.5)
        self.assertTrue(100 < a < 150 < b < 200)
        self.assertLess(b - a, 100 / 2)

    def test_p90_when_enough_samples_lie_beyond(self):
        xs = list(range(1, 201))  # 200 samples: p90 has 20 beyond it
        v, used = stats.percentile(xs, 0.9, min_beyond=10)
        self.assertEqual(used, 0.9)
        self.assertTrue(180 < v < 182)

    def test_falls_back_to_highest_supported_percentile(self):
        xs = list(range(1, 51))  # 50 samples: only p80 keeps 10 beyond it
        v, used = stats.percentile(xs, 0.9, min_beyond=10)
        self.assertAlmostEqual(used, 0.8)
        self.assertTrue(40 < v < 42)

    def test_short_run_never_falls_below_the_median(self):
        xs = [5, 1, 4, 2, 3, 6]
        v, used = stats.percentile(xs, 0.9, min_beyond=10)
        self.assertEqual(used, 0.5)
        self.assertAlmostEqual(v, 3.5)

    def test_one_sample_beyond(self):
        xs = [1, 2, 3, 4, 5, 6]  # p90 would leave no sample beyond; p83.3 keeps one
        v, used = stats.percentile(xs, 0.9, min_beyond=1)
        self.assertAlmostEqual(used, 5 / 6)
        self.assertTrue(4 < v < 6)
        self.assertEqual(stats.percentile(list(range(1, 11)), 0.9, min_beyond=1)[1], 0.9)

    def test_single_sample(self):
        self.assertEqual(stats.percentile([7.5], 0.9, min_beyond=1), (7.5, 0.5))

    def test_no_samples_is_an_error(self):
        with self.assertRaises(ValueError):
            stats.percentile([], 0.5, min_beyond=1)


class RateTest(unittest.TestCase):
    @staticmethod
    def calls(*spec):
        return [{"op": op, "wall": s * 1e9, "bad": bad} for op, s, bad in spec]

    def test_ops_per_round_over_summed_medians(self):
        cs = self.calls(("a", 1, None), ("a", 2, None), ("a", 9, None), ("b", 1, None), ("b", 1, None))
        self.assertAlmostEqual(stats.rate(cs), 2 / 3)

    def test_a_slow_outlier_does_not_move_it(self):
        base = [("a", 1, None), ("a", 1.1, None), ("a", 1.2, None)]
        self.assertAlmostEqual(stats.rate(self.calls(*base)),
                               stats.rate(self.calls(*base[:2], ("a", 30, None))))

    def test_failed_calls_cost_time_and_count_nothing(self):
        cs = self.calls(("a", 1, None), ("a", 1, "threw"), ("b", 1, None), ("b", 1, None))
        self.assertAlmostEqual(stats.rate(cs), 0.75 * 2 / 2)

    def test_no_calls(self):
        self.assertEqual(stats.rate([]), 0.0)


class ReferenceSpeedTest(unittest.TestCase):
    def test_times_divide_rates_multiply_shares_stay(self):
        m = {"lat": (300.0, "ms"), "setup": (6.0, "s"), "rate": (2.0, "1/s"), "ok": (1.0, "share")}
        self.assertEqual(stats.at_reference_speed(m, 1.5),
                         {"lat": (200.0, "ms"), "setup": (4.0, "s"), "rate": (3.0, "1/s"), "ok": (1.0, "share")})

    def test_reference_host_changes_nothing(self):
        m = {"lat": (300.0, "ms"), "rate": (2.0, "1/s")}
        self.assertEqual(stats.at_reference_speed(m, 1.0), m)


class ErrorTest(unittest.TestCase):
    expected = {"a": {"rows": 2, "digest": "d1"}, "b": {"error": "no oracle SQL"}}

    def call(self, **kw):
        c = {"op": "a", "rows": 2, "digest": "d1", "error": None}
        c.update(kw)
        return c

    def test_matching_answer_is_not_an_error(self):
        self.assertIsNone(stats.call_error(self.call(), self.expected))

    def test_thrown_op_is_an_error(self):
        why = stats.call_error(self.call(error="boom", rows=-1, digest=""), self.expected)
        self.assertTrue(why.startswith("threw"))

    def test_wrong_digest_is_an_error(self):
        self.assertIn("digest", stats.call_error(self.call(digest="d2"), self.expected))

    def test_wrong_row_count_is_an_error(self):
        self.assertIn("rows", stats.call_error(self.call(rows=3), self.expected))

    def test_op_without_oracle_is_an_error(self):
        self.assertIn("no oracle", stats.call_error(self.call(op="b"), self.expected))
        self.assertIn("no oracle", stats.call_error(self.call(op="c"), self.expected))


class SpanTest(unittest.TestCase):
    def test_self_time_without_children_is_duration(self):
        self.assertEqual(stats.self_time((0, 10), []), 10)

    def test_self_time_subtracts_children(self):
        self.assertEqual(stats.self_time((0, 10), [(1, 3), (5, 6)]), 7)

    def test_overlapping_children_count_once(self):
        self.assertEqual(stats.self_time((0, 10), [(1, 4), (2, 6), (5, 7)]), 4)

    def test_children_are_clipped_to_the_span(self):
        self.assertEqual(stats.self_time((0, 10), [(-5, 2), (8, 20), (30, 40)]), 6)

    def test_child_covering_everything_leaves_nothing(self):
        self.assertEqual(stats.self_time((2, 4), [(0, 10)]), 0)


class SequenceTest(unittest.TestCase):
    ops = ["a", "b", "c", "d", "e"]

    def test_same_seed_same_sequence(self):
        self.assertEqual(stats.sequence(self.ops, 7, 50), stats.sequence(self.ops, 7, 50))

    def test_other_seed_other_order(self):
        self.assertNotEqual(stats.sequence(self.ops, 7, 50), stats.sequence(self.ops, 8, 50))

    def test_every_round_holds_every_op_once(self):
        seq = stats.sequence(self.ops, 3, 20)
        self.assertEqual(len(seq), 100)
        for r in range(20):
            self.assertEqual(sorted(seq[5 * r:5 * r + 5]), self.ops)


class DigestTest(unittest.TestCase):
    def test_numbers_digest_by_value(self):
        self.assertEqual(oracle.encode(3), oracle.encode(3.0))
        self.assertEqual(oracle.encode(3), oracle.encode(decimal.Decimal("3.00")))
        self.assertEqual(oracle.encode(0.5), "n:0.5")
        self.assertEqual(oracle.encode(-0.0), oracle.encode(0))
        self.assertNotEqual(oracle.encode(0.1), oracle.encode(decimal.Decimal("0.1")))

    def test_times(self):
        self.assertEqual(oracle.encode(dt.datetime(1970, 1, 1, 0, 0, 1, 5)), "t:1000005")
        self.assertEqual(oracle.encode(dt.date(1970, 1, 11)), "d:10")
        aware = dt.datetime(1970, 1, 1, 1, 0, tzinfo=dt.timezone(dt.timedelta(hours=1)))
        self.assertEqual(oracle.encode(aware), "t:0")

    def test_row_order_does_not_matter_but_content_does(self):
        a = oracle.digest(["x", "y"], [(1, "p"), (2, "q")])
        self.assertEqual(a, oracle.digest(["y", "x"], [("q", 2), ("p", 1)]))
        self.assertNotEqual(a, oracle.digest(["x", "y"], [(1, "p"), (2, "r")]))
        self.assertNotEqual(a, oracle.digest(["x", "z"], [(1, "p"), (2, "q")]))

    def test_cells_cannot_run_together(self):
        self.assertNotEqual(oracle.digest(["x", "y"], [("ab", "c")]),
                            oracle.digest(["x", "y"], [("a", "bc")]))


class WorkloadTest(unittest.TestCase):
    def test_every_op_has_a_module(self):
        for w in WORKLOADS.values():
            for op in w["ops"]:
                self.assertIn(op, MODULES)


if __name__ == "__main__":
    unittest.main()
