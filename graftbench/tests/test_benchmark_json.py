"""BENCHMARK.json names exactly the metrics and workloads the runner
reports, within the limits the file format sets."""
import json
import re
import sys
import unittest
from pathlib import Path

HERE = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(HERE))
import layers  # noqa: E402
import run  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

BENCH = json.loads((HERE.parent / "BENCHMARK.json").read_text())
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


class BenchmarkJsonTest(unittest.TestCase):
    def test_metrics_match_the_runner(self):
        self.assertEqual([m["name"] for m in BENCH["end_to_end"]], list(run.END_TO_END))
        self.assertEqual([m["name"] for m in BENCH["per_layer"]], list(layers.PER_LAYER))
        for m in BENCH["end_to_end"]:
            self.assertEqual(m["unit"], run.END_TO_END[m["name"]])
        for m in BENCH["per_layer"]:
            self.assertEqual(m["unit"], layers.PER_LAYER[m["name"]])

    def test_workloads_are_defined(self):
        for w in BENCH["workloads"]:
            self.assertIn(w["name"], WORKLOADS)
            self.assertLessEqual(len(w["why"]), 200)

    def test_format_limits(self):
        names = [m["name"] for k in ("end_to_end", "per_layer") for m in BENCH[k]]
        names += [w["name"] for w in BENCH["workloads"]]
        self.assertEqual(len(names), len(set(names)))
        for n in names:
            self.assertRegex(n, NAME)
        for m in BENCH["end_to_end"] + BENCH["per_layer"]:
            self.assertRegex(m["unit"], UNIT)
            self.assertIn(m["better"], ("lower", "higher"))
        for m in BENCH["end_to_end"]:
            self.assertLessEqual(m["bound"], 0.25)
        setup = next(m for m in BENCH["end_to_end"] if m["name"] == "setup_s")
        self.assertEqual((setup["unit"], setup["better"]), ("s", "lower"))
        self.assertEqual(setup["bound"], max(m["bound"] for m in BENCH["end_to_end"]))
        self.assertTrue(1 <= BENCH["run_seconds"] <= 60)


if __name__ == "__main__":
    unittest.main()
