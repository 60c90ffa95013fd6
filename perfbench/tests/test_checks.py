"""A wrong result must be counted as a failed operation, never timed as a
success."""

import copy
import os
import sys
import tempfile
import unittest

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import checks  # noqa: E402
import fecgen  # noqa: E402
import run  # noqa: E402


class BulkSummary(unittest.TestCase):
    def setUp(self):
        self.expected = fecgen.FecCorpus(2, 2000).summary()
        self.work = tempfile.TemporaryDirectory()

    def tearDown(self):
        self.work.cleanup()

    def write_summary(self, i, summary):
        with open(os.path.join(self.work.name, f"summary{i}.tsv"), "w") as fh:
            for k, v in checks.flatten_summary(summary).items():
                fh.write(f"{k}\t{v}\n")

    def test_matching_summary_passes(self):
        self.write_summary(0, self.expected)
        ops = [{"name": "run0"}]
        self.assertEqual(run.verify("fec_bulk", 2, self.work.name,
                                    {"summary": self.expected}, ops), (1, 0, []))

    def test_wrong_expectation_is_a_failed_operation(self):
        self.write_summary(0, self.expected)
        wrong = copy.deepcopy(self.expected)
        wrong["graphVertices"]["Donor"] += 1  # a deliberately wrong prediction
        attempted, failed, problems = run.verify(
            "fec_bulk", 2, self.work.name, {"summary": wrong},
            [{"name": "run0"}])
        self.assertEqual((attempted, failed), (1, 1))
        self.assertIn("graphVertices.Donor", problems[0])

    def test_missing_count_is_caught(self):
        got = checks.flatten_summary(self.expected)
        del got["graphEdges.SPENT"]
        self.assertEqual(checks.summary_diff(self.expected, got), ["graphEdges.SPENT"])


class AmendmentReadBack(unittest.TestCase):
    expect = {"11": (25.0, "A"), "12": (50.0, "N")}

    def test_committed_batch_passes(self):
        lines = ["11\t25.0\tA", "12\t50.0\tN"]
        self.assertEqual(checks.amend_batch_errors(self.expect, lines), [])

    def test_stale_amendment_and_lost_contribution_are_caught(self):
        errs = checks.amend_batch_errors(self.expect, ["11\t20.0\tN"])
        self.assertEqual(len(errs), 2)  # stale amount and indicator, missing 12

    def test_end_state(self):
        want = {"11": 25.0, "12": 50.0}
        self.assertEqual(checks.end_state_errors(want, ["11\t25.0", "12\t50.0"]), [])
        self.assertTrue(checks.end_state_errors(want, ["11\t24.0", "12\t50.0"]))
        self.assertTrue(checks.end_state_errors(want, ["11\t25.0"]))
        self.assertTrue(checks.end_state_errors(want, ["11\t25.0", "12\t50.0", "13\t1.0"]))


class QueryResults(unittest.TestCase):
    def test_same_rows_in_any_order_and_column_order_match(self):
        got = (["b", "a"], [[2.0, "x"], [1.0, "y"]])
        exp = (["a", "b"], [("y", 1), ("x", 2)])
        self.assertEqual(checks.result_matches(got, exp), (True, ""))

    def test_wrong_value_is_caught(self):
        got = (["a"], [[1.0], [2.5]])
        exp = (["a"], [(1,), (2,)])
        self.assertFalse(checks.result_matches(got, exp)[0])

    def test_float_noise_is_tolerated_but_not_errors(self):
        self.assertTrue(checks.result_matches((["a"], [[0.1 + 0.2]]), (["a"], [(0.3,)]))[0])
        self.assertFalse(checks.result_matches((["a"], [[0.3001]]), (["a"], [(0.3,)]))[0])

    def test_timestamps_and_structs_compare_by_value(self):
        import datetime
        import decimal
        got = (["t", "s"], [["2024-01-01T00:00:11.172425", {"k": 1, "v": "x"}]])
        exp = (["t", "s"], [(datetime.datetime(2024, 1, 1, 0, 0, 11, 172425),
                             {"v": "x", "k": decimal.Decimal("1.00")})])
        self.assertEqual(checks.result_matches(got, exp), (True, ""))

    def test_timed_result_that_differs_from_the_checked_one_fails(self):
        with tempfile.TemporaryDirectory() as work:
            names = [n for n, _ in run.MIX]
            for p, bad in ((0, None), (1, names[3])):
                with open(os.path.join(work, f"digests{p}.tsv"), "w") as fh:
                    for n in names:
                        fh.write(f"{n}\t{'ffff' if n == bad else 'aaaa'}\t1\n")
            with open(os.path.join(work, "passes"), "w") as fh:
                fh.write("2")
            ops = [{"name": f"{n}@pass1"} for n in names]
            real = checks.oracle_check
            checks.oracle_check = lambda *a: {n: (True, "") for n in names}
            try:
                attempted, failed, problems = run.verify(
                    "catalog_mix", 0, work, {"tables": work}, ops)
            finally:
                checks.oracle_check = real
            self.assertEqual((attempted, failed), (len(names), 1))
            self.assertIn(names[3], problems[0])


if __name__ == "__main__":
    unittest.main()
