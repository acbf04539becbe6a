"""The seeded generators: the same seed gives identical bytes, a different
seed a different corpus with the same stated properties.

    python3 -m unittest discover -s graftbench/tests
"""
import json
import sys
import tempfile
import unittest
from pathlib import Path

import pyarrow.parquet as pq

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))
import datagen  # noqa: E402

PARAMS = {"docs": 600, "vocab": 20000, "mean_words": 120, "row_groups": 4}


class CorpusTest(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        cls.tmp = tempfile.TemporaryDirectory()
        root = Path(cls.tmp.name)
        cls.a = datagen.corpus(7, root / "a", **PARAMS)
        cls.b = datagen.corpus(7, root / "b", **PARAMS)
        cls.c = datagen.corpus(8, root / "c", **PARAMS)
        cls.root = root

    @classmethod
    def tearDownClass(cls):
        cls.tmp.cleanup()

    def test_same_seed_same_bytes(self):
        a = (self.root / "a" / "documents.parquet").read_bytes()
        b = (self.root / "b" / "documents.parquet").read_bytes()
        self.assertEqual(a, b)
        self.assertEqual(self.a, self.b)

    def test_other_seed_other_corpus(self):
        self.assertNotEqual(self.a["sha256"], self.c["sha256"])

    def test_stated_properties_hold_for_every_seed(self):
        for p in (self.a, self.c):
            self.assertEqual(p["docs"], PARAMS["docs"])
            self.assertEqual(p["row_groups"], PARAMS["row_groups"])
            self.assertAlmostEqual(p["dropped_share"], 0.05, delta=0.01)
        for key in ("text_mb", "distinct_words", "tokens"):
            self.assertAlmostEqual(self.a[key] / self.c[key], 1.0, delta=0.1, msg=key)

    def test_properties_describe_the_file(self):
        path = self.root / "a" / "documents.parquet"
        table = pq.read_table(path)
        self.assertEqual(table.num_rows, self.a["docs"])
        self.assertEqual(pq.ParquetFile(path).metadata.num_row_groups, self.a["row_groups"])
        tokens = [t for text in table.column("text").to_pylist() for t in text.replace("\n", " ").split(" ")]
        kept = [t for t in tokens if "a" <= t[0] <= "z"]
        self.assertEqual(len(tokens), self.a["tokens"])
        self.assertEqual(len(set(kept)), self.a["distinct_words"])
        on_disk = json.loads((self.root / "a" / "properties.json").read_text())
        self.assertEqual(on_disk, self.a)

    def test_word_frequencies_are_zipf_like(self):
        table = pq.read_table(self.root / "a" / "documents.parquet")
        counts = {}
        for text in table.column("text").to_pylist():
            for t in text.replace("\n", " ").split(" "):
                counts[t] = counts.get(t, 0) + 1
        top = sorted(counts.values(), reverse=True)
        # rank 1 vs rank 10 under s = 1.1 is 10^1.1 ~ 12.6
        self.assertGreater(top[0] / top[9], 6)
        self.assertLess(top[0] / top[9], 25)


class StarTest(unittest.TestCase):
    def test_same_seed_same_bytes_and_schemas(self):
        with tempfile.TemporaryDirectory() as d:
            a = datagen.star(3, Path(d) / "a", sf=0.001)
            b = datagen.star(3, Path(d) / "b", sf=0.001)
            self.assertEqual(a, b)
            self.assertEqual(a["rows"]["lineitem"], 6000)
            schema = pq.read_schema(Path(d) / "a" / "orders.parquet")
            self.assertEqual(schema.names, ["o_orderkey", "o_custkey", "o_orderstatus",
                                            "o_totalprice", "o_orderdate", "o_orderpriority"])


if __name__ == "__main__":
    unittest.main()
