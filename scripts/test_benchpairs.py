"""Tests of benchpairs.py's verdicts on canned numbers. Runs no benchmark.

    python3 -m unittest scripts/test_benchpairs.py
"""
import sys
import unittest
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

import benchpairs  # noqa: E402

SPEC = {"end_to_end": [
    {"name": "setup_s", "better": "lower", "bound": 0.25},
    {"name": "wall_s", "better": "lower", "bound": 0.25},
    {"name": "op_s_p50", "better": "lower", "bound": 0.25}]}


def result(setup, wall, op, correct=True, failed=0):
    return {"correct": correct, "attempted": 8, "failed": failed,
            "metrics": {"setup_s": {"value": setup, "unit": "s"},
                        "wall_s": {"value": wall, "unit": "s"},
                        "op_s_p50": {"value": op, "unit": "s"}}}


class Schedule(unittest.TestCase):
    def test_seed_range_is_inclusive(self):
        self.assertEqual(benchpairs.parse_seeds("2-5"), [2, 3, 4, 5])
        self.assertEqual(benchpairs.parse_seeds("7"), [7])
        with self.assertRaises(ValueError):
            benchpairs.parse_seeds("5-2")

    def test_order_alternates_and_seeds_wrap(self):
        s = benchpairs.schedule(5, [2, 3])
        self.assertEqual([seed for seed, _ in s], [2, 3, 2, 3, 2])
        self.assertEqual([order[0] for _, order in s],
                         ["parent", "change", "parent", "change", "parent"])


class Verdicts(unittest.TestCase):
    parent = [0.27, 0.28, 0.29, 0.30, 0.31, 0.26, 0.28, 0.29, 0.30, 0.27]

    def test_quartiles(self):
        self.assertEqual(benchpairs.quartiles([1.0, 2.0, 3.0, 4.0, 5.0]),
                         (2.0, 3.0, 4.0))
        self.assertEqual(benchpairs.quartiles([4.0]), (4.0, 4.0, 4.0))

    def test_claim_met_on_ten_wins_and_wide_gap(self):
        change = [v - 0.09 for v in self.parent]
        met, w, gap, iqr = benchpairs.claim_verdict(self.parent, change, "lower", 10)
        self.assertTrue(met)
        self.assertEqual(w, 10)
        self.assertAlmostEqual(gap, 0.09)
        self.assertAlmostEqual(iqr, 0.2975 - 0.2725)

    def test_claim_needs_nine_of_ten_wins(self):
        change = [v - 0.09 for v in self.parent]
        change[0] = change[1] = 0.40  # two losses
        met, w, _, _ = benchpairs.claim_verdict(self.parent, change, "lower", 10)
        self.assertEqual(w, 8)
        self.assertFalse(met)
        change[1] = self.parent[1]  # a tie counts for neither side
        met, w, _, _ = benchpairs.claim_verdict(self.parent, change, "lower", 10)
        self.assertEqual(w, 8)
        self.assertFalse(met)

    def test_claim_needs_gap_wider_than_parent_iqr(self):
        change = [v - 0.01 for v in self.parent]
        met, w, gap, iqr = benchpairs.claim_verdict(self.parent, change, "lower", 10)
        self.assertEqual(w, 10)
        self.assertLess(gap, iqr)
        self.assertFalse(met)

    def test_claim_needs_ten_pairs(self):
        few = self.parent[:3]
        met, w, gap, iqr = benchpairs.claim_verdict(
            few, [v - 0.09 for v in few], "lower", 3)
        self.assertEqual(w, 3)
        self.assertGreater(gap, iqr)
        self.assertFalse(met)

    def test_claim_counts_dropped_pairs_as_losses(self):
        # 9 complete pairs, all won, out of 10 run: 9/10 wins is enough ...
        kept = self.parent[:9]
        change = [v - 0.09 for v in kept]
        met, w, _, _ = benchpairs.claim_verdict(kept, change, "lower", 10)
        self.assertEqual(w, 9)
        self.assertTrue(met)
        # ... 8 of 10 is not, though every complete pair was won
        met, w, _, _ = benchpairs.claim_verdict(kept[:8], change[:8],
                                                "lower", 10)
        self.assertEqual(w, 8)
        self.assertFalse(met)

    def test_claim_direction_higher(self):
        change = [v + 0.09 for v in self.parent]
        met, w, _, _ = benchpairs.claim_verdict(self.parent, change, "higher", 10)
        self.assertTrue(met)
        self.assertEqual(w, 10)

    def test_regression_against_bound(self):
        rv = benchpairs.regression_verdict
        self.assertEqual(rv(self.parent, [v * 1.05 for v in self.parent],
                            "lower", 0.25), "ok")
        self.assertEqual(rv(self.parent, [v * 1.30 for v in self.parent],
                            "lower", 0.25), "regressed")
        self.assertEqual(rv(self.parent, [v * 0.70 for v in self.parent],
                            "higher", 0.25), "regressed")

    def test_spread_wider_than_bound_is_unresolved(self):
        wide = [1.0, 2.0, 1.0, 2.0, 1.5, 1.0, 2.0, 1.0, 2.0, 1.5]
        self.assertEqual(benchpairs.regression_verdict(
            [1.5] * 10, wide, "lower", 0.25), "unresolved")
        # ... unless every change run beats every parent run
        self.assertEqual(benchpairs.regression_verdict(
            [3.0, 4.0] * 5, wide, "lower", 0.25), "ok")


class Report(unittest.TestCase):
    def test_claim_and_regression_lines(self):
        runs = [{"parent": result(2.4, 2.7, 0.29 + i / 1000),
                 "change": result(1.7, 2.2, 0.20 + i / 1000)} for i in range(10)]
        lines, ok = benchpairs.report(runs, SPEC, "op_s_p50")
        self.assertTrue(ok)
        text = "\n".join(lines)
        self.assertIn("10 of 10 pairs complete", text)
        op = next(l for l in lines if l.startswith("op_s_p50"))
        self.assertIn("10/10", op)
        self.assertIn("claim MET", op)
        self.assertIn("ok (bound 25%", next(l for l in lines if l.startswith("wall_s")))

    def test_regression_fails_the_report(self):
        runs = [{"parent": result(2.0, 2.7, 0.29), "change": result(3.0, 2.7, 0.29)}
                for _ in range(4)]
        lines, ok = benchpairs.report(runs, SPEC, "op_s_p50")
        self.assertFalse(ok)
        self.assertIn("regressed", next(l for l in lines if l.startswith("setup_s")))
        self.assertIn("claim NOT MET", next(l for l in lines if l.startswith("op_s_p50")))

    def test_incorrect_or_missing_runs_drop_their_pair(self):
        runs = [{"parent": result(2.0, 2.7, 0.29), "change": result(2.0, 2.7, 0.20)},
                {"parent": result(2.0, 2.7, 0.29), "change": result(2.0, 2.7, 0.20, failed=1)},
                {"parent": None, "change": result(2.0, 2.7, 0.20)}]
        lines, ok = benchpairs.report(runs, SPEC, "op_s_p50")
        self.assertFalse(ok)
        text = "\n".join(lines)
        self.assertIn("pair 1: change run not correct", text)
        self.assertIn("pair 2: parent run not correct", text)
        self.assertIn("1 of 3 pairs complete", text)

    def test_dropped_pairs_count_against_the_claim(self):
        runs = [{"parent": result(2.4, 2.7, 0.29 + i / 1000),
                 "change": result(1.7, 2.2, 0.20 + i / 1000)} for i in range(10)]
        runs[3]["change"] = result(1.7, 2.2, 0.20, correct=False)
        runs[7]["change"] = None
        lines, ok = benchpairs.report(runs, SPEC, "op_s_p50")
        self.assertFalse(ok)
        op = next(l for l in lines if l.startswith("op_s_p50"))
        self.assertIn(" 8/10", op)
        self.assertIn("claim NOT MET", op)

    def test_last_json_skips_trailing_noise(self):
        self.assertEqual(benchpairs.last_json('{"a": 1}\n{"b": 2}\nnoise\n'), {"b": 2})
        self.assertIsNone(benchpairs.last_json("no json here"))


if __name__ == "__main__":
    unittest.main()
