"""Expected query results from the engine's DuckDB oracle SQL
(`SparkEntry.oracleSql`), cached per (query, data fingerprint), and the
compare of the engine's outputs against them.

Both sides are normalised as scripts/oracle_check.py does: columns sorted by
name, floats rounded to 6 decimals, every value compared as its string
form, rows in the order the query produced them.
"""
import glob
import json
import time
from pathlib import Path

import duckdb
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def normalise(df: pd.DataFrame) -> dict:
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if df[c].dtype.kind == "f":
            df[c] = df[c].round(6)
    df = df.reset_index(drop=True)
    return {"columns": list(df.columns), "rows": df.astype(str).values.tolist()}


def expected(cache: Path, data: Path, fingerprint: str, oracle_sql: dict, log=print) -> dict:
    """Expected normalised result of every query in `oracle_sql`, computing
    only those not yet cached for this data fingerprint."""
    out, todo = {}, []
    for name in oracle_sql:
        path = cache / fingerprint / f"{name}.json"
        if path.exists():
            out[name] = json.loads(path.read_text())
        else:
            todo.append(name)
    if todo:
        con = duckdb.connect()
        for t in TABLES:
            p = data / f"{t}.parquet"
            if p.exists():
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
        (cache / fingerprint).mkdir(parents=True, exist_ok=True)
        for name in todo:
            t0 = time.time()
            result = normalise(con.execute(oracle_sql[name]).df())
            tmp = cache / fingerprint / f"{name}.json.tmp"
            tmp.write_text(json.dumps(result))
            tmp.rename(cache / fingerprint / f"{name}.json")
            out[name] = result
            log(f"[graftbench] oracle {name}: {len(result['rows'])} rows in {time.time() - t0:.1f} s")
        con.close()
    return out


def compare(got_dir: Path, want: dict) -> str:
    """'' when the parquet output in `got_dir` equals `want`, else the reason."""
    files = sorted(glob.glob(f"{got_dir}/*.parquet"))
    if not files:
        return "no output"
    got = normalise(pd.concat([pd.read_parquet(f) for f in files]))
    if got["columns"] != want["columns"]:
        return f"columns {got['columns']} != {want['columns']}"
    if len(got["rows"]) != len(want["rows"]):
        return f"{len(got['rows'])} rows != {len(want['rows'])}"
    for i, (a, b) in enumerate(zip(got["rows"], want["rows"])):
        if a != b:
            return f"row {i}: {a} != {b}"
    return ""
