"""Unit tests of paired_bench's comparison over synthetic runs.

Run with: python3 -m unittest discover -s tools
"""
import contextlib
import io
import unittest

import paired_bench as pb

METRICS = [{"name": "read_ms", "better": "lower", "bound": 0.2},
           {"name": "triggers", "better": "higher", "bound": 0.2}]


def runs_of(parent, change, name="read_ms"):
    """One parent and one change run per seed, each with `name` at the given value."""
    out = []
    for seed, (a, b) in enumerate(zip(parent, change)):
        for side, v in (("parent", a), ("change", b)):
            out.append({"side": side, "seed": seed, "exit": 0,
                        "result": {"correct": True, "failed": 0, "metrics": {name: {"value": v}}}})
    return out


def summary_of(runs):
    with contextlib.redirect_stdout(io.StringIO()):
        return pb.report(runs, METRICS)


class Verdict(unittest.TestCase):
    def test_gain_needs_nine_in_ten_wins_and_a_gap_past_the_iqr(self):
        parent = [100, 101, 102, 103, 104, 105, 106, 107, 108, 109]
        self.assertEqual(pb.verdict(parent, [v - 20 for v in parent], 0.2, True), "gain")
        # 8 wins of 10
        change = [v - 20 for v in parent[:8]] + [200, 200]
        self.assertNotEqual(pb.verdict(parent, change, 0.2, True), "gain")
        # every pair won, but by less than the parent's IQR
        self.assertEqual(pb.verdict(parent, [v - 1 for v in parent], 0.2, True), "no worse")

    def test_ties_count_for_neither_side(self):
        parent = [100] * 10
        change = [80] * 8 + [100, 100]
        self.assertEqual(pb.verdict(parent, change, 0.2, True), "no worse")

    def test_worse_past_the_bound(self):
        parent = [100, 101, 102, 103, 104, 105, 106, 107, 108, 109]
        self.assertEqual(pb.verdict(parent, [v * 1.3 for v in parent], 0.2, True), "WORSE")
        self.assertEqual(pb.verdict(parent, [v * 1.1 for v in parent], 0.2, True), "no worse")

    def test_higher_is_better(self):
        parent = [100, 101, 102, 103, 104, 105, 106, 107, 108, 109]
        self.assertEqual(pb.verdict(parent, [v + 20 for v in parent], 0.2, False), "gain")
        self.assertEqual(pb.verdict(parent, [v * 0.7 for v in parent], 0.2, False), "WORSE")

    def test_unresolved_when_the_parent_spreads_past_the_bound(self):
        parent = [50, 60, 70, 80, 100, 120, 130, 140, 150, 160]
        self.assertEqual(pb.verdict(parent, list(parent), 0.2, True), "unresolved")
        # unless every change run beats every parent run
        self.assertEqual(pb.verdict(parent, [40 + i for i in range(10)], 0.2, True), "gain")
        # every run better, by less than the parent's IQR
        self.assertEqual(pb.verdict(parent, [45] * 5 + [49] * 5, 0.2, True), "no worse")
        self.assertEqual(pb.verdict(parent, [49] * 9 + [200], 0.2, True), "unresolved")


class Report(unittest.TestCase):
    def test_summary_carries_the_verdict(self):
        summary, failures = summary_of(runs_of([100 + i for i in range(10)], [80 + i for i in range(10)]))
        self.assertEqual(failures, [])
        self.assertEqual(summary["read_ms"]["verdict"], "gain")
        self.assertEqual(summary["read_ms"]["wins"], 10)
        self.assertNotIn("triggers", summary)

    def test_failed_runs_leave_their_pair_out(self):
        runs = runs_of([100 + i for i in range(10)], [100 + i for i in range(10)])
        runs[1]["result"]["failed"] = 2
        runs[2]["exit"] = 1
        summary, failures = summary_of(runs)
        self.assertEqual(len(failures), 2)
        self.assertEqual(summary["read_ms"]["pairs"], 8)


if __name__ == "__main__":
    unittest.main()
