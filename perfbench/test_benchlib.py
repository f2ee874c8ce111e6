"""Tests of the benchmark's own math: python3 -m unittest discover perfbench"""
import unittest

import benchlib as bl
import run


class Percentile(unittest.TestCase):
    def test_highest_percentile_with_ten_beyond(self):
        self.assertEqual(bl.tail_percentile(list(range(1, 101))), (90, 90, 100))
        self.assertEqual(bl.tail_percentile(list(range(20, 0, -1))), (50, 10, 20))

    def test_too_few_samples_gives_max(self):
        self.assertEqual(bl.tail_percentile([3.0, 1.0, 2.0]), (None, 3.0, 3))
        self.assertEqual(bl.tail_percentile([]), (None, 0.0, 0))


class Intervals(unittest.TestCase):
    def test_union_merges_overlaps_and_touching(self):
        self.assertEqual(bl.union([(5, 6), (0, 2), (1, 3), (6, 7), (8, 8)]),
                         [(0, 3), (5, 7)])

    def test_covered_counts_parallel_jobs_once_and_clips(self):
        jobs = [(0, 4), (1, 3), (2, 6), (10, 12)]
        self.assertEqual(bl.covered(jobs), 8)
        self.assertEqual(bl.covered(jobs, 3, 11), 4)

    def test_self_time_subtracts_covered_children(self):
        self.assertEqual(bl.self_time((0, 10), [(1, 3), (2, 4), (8, 12)]), 5)
        self.assertEqual(bl.self_time((0, 10), []), 10)


class Failures(unittest.TestCase):
    def test_failed_frac(self):
        self.assertEqual(bl.failed_frac(0, 7), 0.0)
        self.assertEqual(bl.failed_frac(2, 8), 0.25)
        with self.assertRaises(ValueError):
            bl.failed_frac(0, 0)
        with self.assertRaises(ValueError):
            bl.failed_frac(3, 2)

    def test_thrown_and_wrong_answers_both_count(self):
        rec = {"workload": "llm_batch", "checks": {}, "ops": [
            {"name": "a", "pass": 0, "ok": True, "fingerprint": "1:aa"},
            {"name": "b", "pass": 0, "ok": True, "fingerprint": "1:bb"},
            {"name": "a", "pass": 1, "ok": False, "error": "java.lang.IllegalStateException: x"}]}
        failures, attempted = run.check(rec, {"a": "1:aa", "b": "1:cc"})
        self.assertEqual(attempted, 3)
        self.assertEqual([(f["op"], f["pass"]) for f in failures], [("b", 0), ("a", 1)])
        self.assertIn("IllegalStateException", failures[1]["cause"])

    def test_serde_checks_counts_and_decoded_sums(self):
        n = 4
        ok = {"totalMensagens": n, "mensagensSucesso": n}
        summary = {"rows": n, "ok": n, "seq_sum": 10}
        rec = {"workload": "serde", "ops": [
            {"name": "produce_avro", "pass": 0, "ok": True, "report": ok},
            {"name": "consume_json", "pass": 0, "ok": True,
             "report": {"totalMensagens": n, "mensagensSucesso": n - 1}},
            {"name": "layer_generate", "pass": 0, "ok": True}],
            "checks": {"messages": n, "avro": summary, "json": dict(summary, seq_sum=9)}}
        failures, attempted = run.check(rec, {})
        self.assertEqual(attempted, 4)  # two legs and two decode checks; probes excluded
        self.assertEqual([f["op"] for f in failures], ["consume_json", "check_json"])


def verdict(a, b, better, bound):
    return bl.verdict(a, b, bl.win_rate(a, b, better), better, bound)


class Compare(unittest.TestCase):
    def test_same_runs_are_no_change(self):
        a = [10.0, 10.5, 9.8, 10.2, 10.1]
        self.assertEqual(verdict(a, list(a), "lower", 0.1), "no change")
        self.assertEqual(bl.win_rate(a, a, "lower"), 0.0)

    def test_gain_and_regression(self):
        a = [10.0, 10.5, 9.8, 10.2, 10.1]
        self.assertEqual(verdict(a, [x * 0.8 for x in a], "lower", 0.1), "gain")
        self.assertEqual(verdict(a, [x * 1.3 for x in a], "lower", 0.1), "regression")
        self.assertEqual(verdict(a, [x * 1.3 for x in a], "higher", 0.1), "gain")

    def test_wide_parent_spread_is_unresolved(self):
        a = [5.0, 10.0, 15.0, 20.0, 8.0]
        self.assertEqual(verdict(a, [11.0, 9.0, 14.0, 16.0, 7.0], "lower", 0.1), "unresolved")

    def test_gain_needs_the_paired_win_rate(self):
        a = [10.0, 10.5, 9.8, 10.2, 10.1]
        b = [x * 0.8 for x in a]
        self.assertEqual(bl.verdict(a, b, 0.6, "lower", 0.1), "no change")
        self.assertEqual(bl.verdict(a, b, 0.9, "lower", 0.1), "gain")


if __name__ == "__main__":
    unittest.main()
