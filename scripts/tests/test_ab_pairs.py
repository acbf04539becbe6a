"""The A/B summary: quartiles per side, pairs won, metric direction,
the verdict, runs without a result, and the correct/failed counts."""
import sys
import unittest
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))
import ab_pairs  # noqa: E402


def res(correct=True, failed=0, attempted=10, **metrics):
    return {"correct": correct, "failed": failed, "attempted": attempted,
            "metrics": {k: {"value": v, "unit": "s"} for k, v in metrics.items()}}


class SummaryTest(unittest.TestCase):
    def test_quartiles_and_wins(self):
        pairs = [{"rev": res(pass_s=r), "tree": res(pass_s=t)}
                 for r, t in [(2.0, 1.5), (3.0, 2.5), (4.0, 4.0), (5.0, 5.5), (6.0, 1.0)]]
        (row,) = ab_pairs.summarize(pairs)
        self.assertEqual(row["metric"], "pass_s")
        self.assertEqual(row["pairs"], 5)
        self.assertEqual(row["rev"], (3.0, 4.0, 5.0))
        self.assertEqual(row["tree"], (1.5, 2.5, 4.0))
        self.assertAlmostEqual(row["change"], -0.375)
        # a tie counts for neither side, a slower pair against the tree
        self.assertEqual(row["tree_won"], 3)

    def test_higher_is_better_flips_the_win(self):
        pairs = [{"rev": res(util=0.2), "tree": res(util=0.3)},
                 {"rev": res(util=0.4), "tree": res(util=0.1)}]
        (low,) = ab_pairs.summarize(pairs)
        (high,) = ab_pairs.summarize(pairs, higher_better={"util"})
        self.assertEqual((low["tree_won"], high["tree_won"]), (1, 1))
        pairs.append({"rev": res(util=0.5), "tree": res(util=0.9)})
        self.assertEqual(ab_pairs.summarize(pairs)[0]["tree_won"], 1)
        self.assertEqual(ab_pairs.summarize(pairs, higher_better={"util"})[0]["tree_won"], 2)

    def test_a_pair_missing_a_side_is_left_out_and_counted(self):
        pairs = [{"rev": res(pass_s=2.0), "tree": None},
                 {"rev": res(pass_s=2.0, failed=1, correct=False), "tree": res(pass_s=1.0)}]
        (row,) = ab_pairs.summarize(pairs)
        self.assertEqual((row["pairs"], row["tree_won"]), (1, 1))
        self.assertEqual(row["rev"], (2.0, 2.0, 2.0))
        out = ab_pairs.outcome(pairs)
        self.assertEqual(out["rev"], {"runs": 2, "results": 2, "correct": 1,
                                      "failed": 1, "attempted": 20})
        self.assertEqual(out["tree"], {"runs": 2, "results": 1, "correct": 1,
                                       "failed": 0, "attempted": 10})
        text = ab_pairs.render([row], out, "HEAD")
        self.assertIn("1/1", text)
        self.assertIn("1 runs gave no result", text)

    def test_gain_needs_nine_of_ten_and_a_gap_beyond_the_parent_iqr(self):
        rev = [10.0, 10.2, 10.4, 10.6, 10.8, 11.0, 11.2, 11.4, 11.6, 11.8]
        # every pair won, median 10.9 -> 9.9 against a parent IQR of 0.9
        self.assertEqual(ab_pairs.verdict(rev, [r - 1.0 for r in rev], bound=0.25), "gain")
        # the same gap with two pairs lost is not a gain
        tree = [r - 1.0 for r in rev[:8]] + [12.0, 12.5]
        self.assertEqual(ab_pairs.verdict(rev, tree, bound=0.25), "unchanged")
        # all ten won, but by less than the parent's IQR
        self.assertEqual(ab_pairs.verdict(rev, [r - 0.5 for r in rev], bound=0.25),
                         "unchanged")
        # no bound: a gain is still a gain
        self.assertEqual(ab_pairs.verdict(rev, [r - 1.0 for r in rev]), "gain")

    def test_worse_is_a_median_beyond_the_bound_in_the_bad_direction(self):
        rev = [1.0] * 10
        self.assertEqual(ab_pairs.verdict(rev, [1.3] * 10, bound=0.25), "worse")
        self.assertEqual(ab_pairs.verdict(rev, [1.2] * 10, bound=0.25), "unchanged")
        # higher is better: a fall is the bad direction
        self.assertEqual(ab_pairs.verdict(rev, [0.7] * 10, higher=True, bound=0.25), "worse")
        self.assertEqual(ab_pairs.verdict(rev, [1.3] * 10, higher=True, bound=0.25), "gain")
        # no bound: never worse
        self.assertEqual(ab_pairs.verdict(rev, [2.0] * 10), "unchanged")

    def test_unresolved_is_a_parent_spread_beyond_the_bound(self):
        rev = [1.0, 1.0, 1.0, 2.0, 2.0, 2.0, 2.0, 3.0, 3.0, 3.0]  # IQR 1.75 on 2.0
        tree = [2.0] * 10
        self.assertEqual(ab_pairs.verdict(rev, tree, bound=0.25), "unresolved")
        self.assertEqual(ab_pairs.verdict(rev, tree), "unchanged")
        # every change run beats every parent run: resolved despite the
        # spread, and a gain only once the gap passes the IQR (1.5)
        self.assertEqual(ab_pairs.verdict(rev, [0.9] * 10, bound=0.25), "unchanged")
        self.assertEqual(ab_pairs.verdict(rev, [0.4] * 10, bound=0.25), "gain")
        self.assertEqual(ab_pairs.verdict(rev, [0.5 * r for r in rev], bound=0.25),
                         "unresolved")

    def test_summary_rows_carry_the_verdict_and_bounds_come_from_the_benchmark(self):
        pairs = [{"rev": res(pass_s=1.0, util=0.5), "tree": res(pass_s=1.5, util=0.5)}
                 for _ in range(3)]
        rows = {r["metric"]: r for r in ab_pairs.summarize(
            pairs, higher_better={"util"}, bounds={"pass_s": 0.25})}
        self.assertEqual(rows["pass_s"]["verdict"], "worse")
        self.assertEqual(rows["util"]["verdict"], "unchanged")
        self.assertIn("worse", ab_pairs.render(list(rows.values()),
                                               ab_pairs.outcome(pairs), "HEAD"))
        higher, bounds = ab_pairs.directions(Path(__file__).resolve().parents[2])
        self.assertIn("exec.core_util", higher)
        self.assertEqual(bounds["pass_s"], 0.25)
        self.assertNotIn("exec.jobs", bounds)

    def test_result_line_is_the_last_json_line(self):
        out = '# env {"a": 1}\n{"correct": true, "metrics": {}}\n'
        self.assertEqual(ab_pairs.result_line(out), {"correct": True, "metrics": {}})
        self.assertIsNone(ab_pairs.result_line("no result\n"))


class QueryMediansTest(unittest.TestCase):
    def test_each_side_reads_the_median_of_its_runs_medians(self):
        pairs = [
            {"queries": {"rev": {"q1": [1.0, 3.0, 2.0], "q2": [0.5]},
                         "tree": {"q1": [1.0, 1.5, 2.0], "q2": [0.5]}}},
            {"queries": {"rev": {"q1": [4.0, 4.0, 4.0], "q2": [0.7]},
                         "tree": {"q1": [2.0], "q2": [0.6]}}},
            {"queries": {"rev": {"q1": [3.0], "q2": [0.6]}, "tree": {}}},
        ]
        rows = {r["query"]: r for r in ab_pairs.query_medians(pairs)}
        self.assertEqual(rows["q1"]["rev"], 3.0)      # run medians 2, 4, 3
        self.assertEqual(rows["q1"]["tree"], 1.75)    # 1.5, 2; the third gave none
        self.assertAlmostEqual(rows["q1"]["change"], (1.75 - 3.0) / 3.0)
        self.assertEqual(rows["q2"]["rev"], 0.6)
        text = ab_pairs.render_queries(list(rows.values()), "HEAD")
        self.assertIn("q1", text)
        self.assertIn("-41.7%", text)

    def test_a_query_one_side_lacks_reads_na(self):
        (row,) = ab_pairs.query_medians([{"queries": {"rev": {"q": [1.0]}, "tree": {}}}])
        self.assertEqual((row["rev"], row["tree"], row["change"]), (1.0, None, None))
        self.assertIn("n/a", ab_pairs.render_queries([row], "HEAD"))
        self.assertEqual(ab_pairs.query_medians([{"rev": None, "tree": None}]), [])

    def test_latencies_come_from_the_runs_full_result_file(self):
        import json
        import tempfile
        with tempfile.TemporaryDirectory() as tmp:
            root = Path(tmp)
            self.assertEqual(ab_pairs.query_latencies(root, "wordcount", 3, 0), {})
            results = root / ".bench_build" / "graft" / "results"
            results.mkdir(parents=True)
            (results / "wordcount-3-trace0.json").write_text(
                json.dumps({"queries": {"wordcount_topk": [0.4, 0.5]}, "metrics": {}}))
            self.assertEqual(ab_pairs.query_latencies(root, "wordcount", 3, 0),
                             {"wordcount_topk": [0.4, 0.5]})
            self.assertEqual(ab_pairs.query_latencies(root, "wordcount", 3, 1), {})


if __name__ == "__main__":
    unittest.main()
