"""The A/B summary: quartiles per side, pairs won, metric direction,
runs without a result, and the correct/failed counts."""
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

    def test_result_line_is_the_last_json_line(self):
        out = '# env {"a": 1}\n{"correct": true, "metrics": {}}\n'
        self.assertEqual(ab_pairs.result_line(out), {"correct": True, "metrics": {}})
        self.assertIsNone(ab_pairs.result_line("no result\n"))


if __name__ == "__main__":
    unittest.main()
