"""Self-tests of the benchmark's metric rules.

    python3 -m unittest discover -s perfbench/tests
"""
import math
import sys
import unittest
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE.parent))

import metrics  # noqa: E402


def op(kind, t, ok=True, **kw):
    return {"kind": kind, "t_s": t, "ok": ok, **kw}


class TailPercentile(unittest.TestCase):
    def test_highest_percentile_with_ten_samples_beyond(self):
        for n in range(11, 400):
            values = list(range(1, n + 1))
            p, v = metrics.tail_percentile(values)
            beyond = sum(1 for x in values if x > v)
            self.assertGreaterEqual(beyond, 10, n)
            # one percentile higher, by the same nearest-rank rule, leaves fewer
            rank = math.ceil((p + 1) * n / 100)
            self.assertLess(n - rank, 10, n)

    def test_known_points(self):
        self.assertEqual(metrics.tail_percentile(list(range(1, 101))), (90, 90))
        self.assertEqual(metrics.tail_percentile(list(range(1, 21))), (50, 10))
        self.assertEqual(metrics.tail_percentile([3.0, 1.0, 2.0]), (100, 3.0))

    def test_order_of_samples_does_not_matter(self):
        xs = [0.5, 0.1, 0.9, 0.3] * 10
        self.assertEqual(metrics.tail_percentile(xs), metrics.tail_percentile(sorted(xs)))


class Failures(unittest.TestCase):
    def test_failures_count_against_attempted(self):
        ops = [op("q1", 0.1), op("q1", 0.1, ok=False), op("q2", 0.2), op("q3", 0.3)]
        # q2's output failed its check: both raised and mismatched ops fail
        self.assertEqual(metrics.fail_counts(ops, {"q2": "mismatch"}), (4, 2))
        self.assertEqual(metrics.fail_counts(ops), (4, 1))

    def test_fail_ratio_includes_extracts(self):
        seg_ops = [op("reload:nps", 0.5, rows_out=10), op("extract:nps", 0.01, ok=False),
                   op("reload:nps", 0.5, rows_out=10), op("extract:nps", 0.01, ok=False)]
        record = {"setup": [{"total_s": 1.0}],
                  "segments": [{"ns": "timed", "passes": 2, "ops": seg_ops}],
                  "postcheck": {"stored_bytes": 100, "live_rows": 10}}
        e2e, facts = metrics.end_to_end(record, "survey", {}, {})
        self.assertEqual((facts["attempted"], facts["failed"]), (2, 0))
        self.assertEqual((facts["other_attempted"], facts["other_failed"]), (2, 2))
        self.assertEqual(e2e["fail_ratio"], 0.5)
        self.assertEqual(e2e["rows_loaded_per_s"], 20.0)
        self.assertEqual(e2e["stored_bytes_per_row"], 10.0)


class Geomean(unittest.TestCase):
    def test_only_baseline_queries_count(self):
        g, used, total = metrics.geomean_vs({"a": 2.0, "b": 8.0, "c": 5.0},
                                            {"a": 1.0, "b": 2.0})
        self.assertAlmostEqual(g, math.sqrt(2.0 * 4.0))
        self.assertEqual((used, total), (2, 3))

    def test_count_is_reported(self):
        ops = [op("a", 2.0), op("a", 4.0), op("b", 8.0)]
        record = {"setup": [{"total_s": 1.0}, {"total_s": 3.0}],
                  "segments": [{"ns": "timed", "passes": 2, "ops": ops}]}
        e2e, facts = metrics.end_to_end(record, "catalog", {}, {"a": 1.5})
        self.assertAlmostEqual(e2e["geomean_vs_duckdb"], 2.0)  # median(a) = 3.0
        self.assertEqual((facts["geomean_queries"], facts["geomean_of"]), (1, 2))
        self.assertEqual(e2e["setup_s"], 2.0)
        self.assertEqual(e2e["suite_s"], 11.0)


class PerPass(unittest.TestCase):
    def test_sum_of_per_kind_medians(self):
        ops = [op("a", 1.0), op("a", 3.0), op("a", 2.0), op("b", 10.0)]
        self.assertEqual(metrics.per_pass(ops, "t_s"), 12.0)
        self.assertEqual(metrics.per_pass(ops, "t_s", {"b"}), 10.0)


if __name__ == "__main__":
    unittest.main()
