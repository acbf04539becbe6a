"""Seeded input generators for the benchmark. They run in their own process,
apart from the engine under test, and write parquet tables that the
engine's queries read from one directory (`<dir>/<table>.parquet`).

* `corpus` writes the word-count corpus: a `documents` table of
  Zipf-distributed words over a large vocabulary, with a share of tokens
  that the word count must drop (not matching `^[a-z]`). The vocabulary
  and its Zipf ranks are fixed; the seed draws the documents from them, so
  every seed gives a different corpus of the same text volume.
* `star` writes the star schema plus the events, documents and
  embeddings tables, with the schemas and value domains of the engine's
  test fixtures (FIXTURES.md), at a given scale factor.

The same seed and parameters give identical bytes; each call records the
stated properties of what it wrote in `<dir>/properties.json`.
`run.py` calls them with each workload's parameters (workloads.py).
"""
import datetime as dt
import hashlib
import json
import math
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

LETTERS = np.array(list("abcdefghijklmnopqrstuvwxyz"))
VOCABULARY_SEED = 1


def _write(table: pa.Table, path: Path, row_groups: int = 1) -> None:
    size = max(1, math.ceil(table.num_rows / row_groups))
    # pyarrow writes no timestamp into the file, so equal tables give
    # equal bytes
    pq.write_table(table, path, row_group_size=size, compression="snappy")


def _sha256(path: Path) -> str:
    return hashlib.sha256(path.read_bytes()).hexdigest()


def _vocabulary(rng: np.random.Generator, size: int) -> np.ndarray:
    """`size` distinct lowercase words, 2 to 10 letters."""
    words: dict = {}
    while len(words) < size:
        n = int((size - len(words)) * 1.2) + 16
        lengths = rng.integers(2, 11, n)
        letters = LETTERS[rng.integers(0, 26, (n, 10))]
        for row, k in zip(letters, lengths):
            words.setdefault("".join(row[:k]), None)
            if len(words) == size:
                break
    return np.array(list(words), dtype=object)


def _mark_dropped(rng, tokens: np.ndarray, share: float) -> np.ndarray:
    """Rewrites `share` of the tokens so they no longer match ^[a-z]:
    capitalised, digit-led or punctuation-led variants."""
    picks = np.flatnonzero(rng.random(len(tokens)) < share)
    kinds = rng.integers(0, 3, len(picks))
    digits = rng.integers(0, 100, len(picks))
    puncts = np.array(list("!(\"'#-_.,"))[rng.integers(0, 9, len(picks))]
    out = tokens.copy()
    for i, k, d, p in zip(picks, kinds, digits, puncts):
        w = tokens[i]
        out[i] = w.capitalize() if k == 0 else (f"{d}{w}" if k == 1 else p + w)
    return out


def corpus(seed: int, out: Path, docs: int = 10000, vocab: int = 200000,
           zipf_s: float = 1.1, dropped: float = 0.05, mean_words: int = 180,
           row_groups: int = 8) -> dict:
    """Writes `out/documents.parquet`; returns its stated properties."""
    # a fixed vocabulary: the lengths of the most frequent words set most
    # of the text volume, so they must not change with the seed
    words = _vocabulary(np.random.default_rng(VOCABULARY_SEED), vocab)
    rng = np.random.default_rng([seed, 1])
    # Zipf over ranks 1..vocab by inverse CDF; the rank→word map is
    # itself shuffled so frequent words are not the short ones
    cdf = np.cumsum(np.arange(1, vocab + 1, dtype=np.float64) ** -zipf_s)
    cdf /= cdf[-1]
    lengths = rng.integers(mean_words // 4, mean_words * 7 // 4 + 1, docs)
    total = int(lengths.sum())
    ranks = np.minimum(np.searchsorted(cdf, rng.random(total)), vocab - 1)
    tokens = _mark_dropped(rng, words[ranks], dropped)
    # separators: mostly spaces, some newlines (the tokenizer splits on both)
    newline = rng.random(total) < 1 / 12
    seps = np.where(newline, "\n", " ")
    texts = []
    pos = 0
    for n in lengths:
        seg_t, seg_s = tokens[pos:pos + n], seps[pos:pos + n - 1]
        parts = [None] * (2 * n - 1)
        parts[0::2] = seg_t
        parts[1::2] = seg_s
        texts.append("".join(parts))
        pos += n
    langs = np.array(["en", "en", "de", "fr", "es", "zh"], dtype=object)[rng.integers(0, 6, docs)]
    ids = np.arange(docs, dtype=np.int64)
    table = pa.table({
        "doc_id": pa.array(ids),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(langs, pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(docs)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    out.mkdir(parents=True, exist_ok=True)
    path = out / "documents.parquet"
    _write(table, path, row_groups)
    kept = [t for t in tokens if "a" <= t[0] <= "z"]
    props = {
        "kind": "corpus", "seed": seed, "docs": docs, "tokens": total,
        "kept_tokens": len(kept), "distinct_words": len(set(kept)),
        "dropped_share": round(1 - len(kept) / total, 4),
        "text_mb": round(sum(len(t) for t in texts) / 1e6, 3),
        "file_mb": round(path.stat().st_size / 1e6, 3),
        "row_groups": pq.ParquetFile(path).metadata.num_row_groups,
        "vocabulary": vocab, "zipf_s": zipf_s,
        "sha256": {"documents": _sha256(path)},
    }
    (out / "properties.json").write_text(json.dumps(props, indent=1, sort_keys=True))
    return props


# --- star schema ----------------------------------------------------------

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["cold", "hot", "large", "new", "old", "red", "small", "blue"]
PART_NOUN = ["anvil", "bolt", "gear", "plate", "ring", "rod", "widget", "spring"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
DOC_WORDS = ["a", "agg", "batch", "big", "column", "customer", "data", "fast", "filter",
             "group", "hash", "join", "key", "line", "merge", "order", "part", "query",
             "row", "scan", "small", "slow", "sort", "spark", "stream", "table", "the",
             "value", "vector", "window"]


def _days(rng, n, first: dt.date, last: dt.date) -> np.ndarray:
    span = (last - first).days + 1
    base = np.datetime64(first.isoformat(), "us")
    return base + rng.integers(0, span, n).astype("timedelta64[D]")


def _documents(rng, n: int) -> pa.Table:
    vocab = np.array(DOC_WORDS, dtype=object)
    lengths = rng.integers(10, 101, n)
    texts = [" ".join(vocab[rng.integers(0, len(vocab), k)]) for k in lengths]
    # ~5% near-duplicates of another document (marked with a trailing
    # token) and a few exact copies, for the dedup operators
    for i in np.flatnonzero(rng.random(n) < 0.05):
        texts[i] = texts[int(rng.integers(0, n))] + " dup"
    for i in np.flatnonzero(rng.random(n) < 0.002):
        texts[i] = texts[int(rng.integers(0, n))]
    # 40% en, 15% each of de, fr, es, zh
    langs = np.array(["en"] * 8 + ["de", "fr", "es", "zh"] * 3, dtype=object)
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(langs[rng.integers(0, len(langs), n)], pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def star(seed: int, out: Path, sf: float = 0.01) -> dict:
    """Writes the ten fixture tables at scale factor `sf` (sf 1 has 6 M
    lineitem rows); returns their stated properties."""
    rng = np.random.default_rng([seed, 2])
    n_cust, n_supp, n_part = int(150000 * sf), max(10, int(10000 * sf)), int(200000 * sf)
    n_ord, n_line = int(1500000 * sf), int(6000000 * sf)
    n_events, n_users = int(1000000 * sf), max(15, int(15000 * sf))
    n_docs, n_vecs = int(50000 * sf), max(500, int(20000 * sf))

    def money(lo, hi, n):
        return np.round(rng.uniform(lo, hi, n), 2)

    def pick(values, n):
        return pa.array(np.array(values, dtype=object)[rng.integers(0, len(values), n)], pa.string())

    tables = {}
    tables["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": pa.array(REGIONS, pa.string())})
    tables["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)], pa.string()),
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5)})
    tables["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)], pa.string()),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": pa.array(money(-999.99, 9999.99, n_cust)),
        "c_mktsegment": pick(SEGMENTS, n_cust)})
    tables["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)], pa.string()),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
        "s_acctbal": pa.array(money(-999.99, 9999.99, n_supp))})
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    keys = np.arange(n_part, dtype=np.int64)
    tables["part"] = pa.table({
        "p_partkey": pa.array(keys),
        "p_name": pick(names, n_part),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)], pa.string()),
        "p_type": pick(PART_TYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
        "p_retailprice": pa.array(np.round(900 + (keys % 1000) * 0.1, 1))})
    tables["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord).astype(np.int64)),
        "o_orderstatus": pick(["F", "O", "P"], n_ord),
        "o_totalprice": pa.array(money(1000, 500000, n_ord)),
        "o_orderdate": pa.array(_days(rng, n_ord, dt.date(1995, 1, 1), dt.date(2001, 8, 1))),
        "o_orderpriority": pick(PRIORITIES, n_ord)})
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    tables["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line).astype(np.int64)),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line).astype(np.int64)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line).astype(np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line).astype(np.int32)),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(np.round(qty * rng.uniform(900, 2100, n_line), 2)),
        "l_discount": pa.array(rng.integers(0, 11, n_line) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_line) / 100.0),
        "l_returnflag": pick(["A", "N", "R"], n_line),
        "l_linestatus": pick(["F", "O"], n_line),
        "l_shipdate": pa.array(_days(rng, n_line, dt.date(1995, 1, 2), dt.date(2001, 11, 4)))})
    start = np.datetime64("2024-01-01T00:00:00", "us")
    offsets = np.sort(rng.integers(0, 30 * 86400 * 10**6, n_events))
    tables["events"] = pa.table({
        "event_id": pa.array(np.arange(n_events, dtype=np.int64)),
        "ts": pa.array(start + offsets.astype("timedelta64[us]")),
        "user_id": pa.array(rng.integers(0, n_users, n_events).astype(np.int64)),
        "event_type": pick(EVENT_TYPES, n_events),
        "value": pa.array(np.round(rng.exponential(50.0, n_events), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)], pa.string())})
    tables["documents"] = _documents(rng, n_docs)
    vecs = rng.standard_normal((n_vecs, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    tables["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_vecs, dtype=np.int64)),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_vecs).astype(np.int32))})
    out.mkdir(parents=True, exist_ok=True)
    sha = {}
    for name, table in tables.items():
        path = out / f"{name}.parquet"
        _write(table, path)
        sha[name] = _sha256(path)
    props = {"kind": "star", "seed": seed, "sf": sf,
             "rows": {k: v.num_rows for k, v in tables.items()},
             "file_mb": round(sum((out / f"{k}.parquet").stat().st_size for k in tables) / 1e6, 3),
             "sha256": sha}
    (out / "properties.json").write_text(json.dumps(props, indent=1, sort_keys=True))
    return props

