"""oracle_check's command line (DuckDB options become SETs) and its final
JSON summary line."""
import io
import json
import sys
import unittest
from contextlib import redirect_stderr
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))
import oracle_check  # noqa: E402


class ArgsTest(unittest.TestCase):
    def test_positionals_only_sets_nothing(self):
        args = oracle_check.parse_args(["/sf", "/out"])
        self.assertEqual((args.sf_dir, args.out_dir), ("/sf", "/out"))
        self.assertEqual(oracle_check.duckdb_sets(args), [])

    def test_options_become_sets(self):
        args = oracle_check.parse_args(
            ["/sf", "/out", "--memory-limit", "4GB", "--threads", "2", "--temp-dir", "/tmp/d"])
        self.assertEqual(oracle_check.duckdb_sets(args), [
            "SET memory_limit = '4GB'", "SET threads = 2", "SET temp_directory = '/tmp/d'"])

    def test_a_quote_in_a_value_is_escaped(self):
        args = oracle_check.parse_args(["/sf", "/out", "--temp-dir", "/tmp/it's"])
        self.assertEqual(oracle_check.duckdb_sets(args), ["SET temp_directory = '/tmp/it''s'"])

    def test_bad_threads_and_missing_positionals_are_refused(self):
        for argv in (["/sf", "/out", "--threads", "0"], ["/sf", "/out", "--threads", "x"], ["/sf"]):
            with redirect_stderr(io.StringIO()), self.assertRaises(SystemExit):
                oracle_check.parse_args(argv)


class SummaryTest(unittest.TestCase):
    def test_counts_and_slowest_first(self):
        results = [("a", True, 0.5), ("b", False, 2.0), ("c", True, 1.25), ("d", True, 0.1),
                   ("e", True, 0.2), ("f", True, 3.0), ("g", True, 0.0)]
        line = json.loads(oracle_check.summary_line(results))
        self.assertEqual((line["ok"], line["bad"]), (6, 1))
        self.assertEqual([s["query"] for s in line["slowest"]], ["f", "b", "c", "a", "e"])
        self.assertEqual(line["slowest"][0], {"query": "f", "s": 3.0})

    def test_ties_break_by_name_and_empty_is_zero(self):
        line = json.loads(oracle_check.summary_line([("z", True, 1.0), ("y", True, 1.0)]))
        self.assertEqual([s["query"] for s in line["slowest"]], ["y", "z"])
        self.assertEqual(json.loads(oracle_check.summary_line([])),
                         {"ok": 0, "bad": 0, "slowest": []})


if __name__ == "__main__":
    unittest.main()
