#!/usr/bin/env python3
"""Local replica of the driver's DuckDB-oracle compare.

Usage: python3 scripts/oracle_check.py <sfDir> <verifyOutDir>
           [--memory-limit 4GB] [--threads 2] [--temp-dir /tmp/duck]

For each query dumped by graft.Verify: load the Spark parquet result,
run the oracle SQL in DuckDB (tables = views over the sf parquet), sort
columns by name, sort rows, compare values. Each query's line ends with
its seconds; the output ends with `== N ok, M bad ==` and one JSON line
with the counts and the slowest queries. `--memory-limit`, `--threads`
and `--temp-dir` are applied as DuckDB `SET`s (DuckDB's own defaults
otherwise: 80% of RAM, one thread per core). Dev-only tool (not part of
the Scala library).
"""
import argparse
import glob
import json
import os
import sys
import time

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

SLOWEST = 5


def parse_args(argv):
    p = argparse.ArgumentParser(description="Compare a graft.Verify dump against its DuckDB oracles.")
    p.add_argument("sf_dir")
    p.add_argument("out_dir")
    p.add_argument("--memory-limit", help="DuckDB memory_limit, e.g. 4GB")
    p.add_argument("--threads", type=int, help="DuckDB threads")
    p.add_argument("--temp-dir", help="DuckDB temp_directory (spill files)")
    args = p.parse_args(argv)
    if args.threads is not None and args.threads < 1:
        p.error("--threads must be at least 1")
    return args


def duckdb_sets(args):
    """The SET statements for the DuckDB options given on the command line."""
    def quoted(v):
        return "'" + str(v).replace("'", "''") + "'"
    sets = []
    if args.memory_limit is not None:
        sets.append(f"SET memory_limit = {quoted(args.memory_limit)}")
    if args.threads is not None:
        sets.append(f"SET threads = {args.threads}")
    if args.temp_dir is not None:
        sets.append(f"SET temp_directory = {quoted(args.temp_dir)}")
    return sets


def summary_line(results):
    """One JSON line from [(query, ok, seconds)]: the ok/bad counts and the
    slowest queries, slowest first."""
    slowest = sorted(results, key=lambda r: (-r[2], r[0]))[:SLOWEST]
    return json.dumps({
        "ok": sum(1 for _, ok, _ in results if ok),
        "bad": sum(1 for _, ok, _ in results if not ok),
        "slowest": [{"query": q, "s": round(s, 3)} for q, _, s in slowest],
    })


def norm(df):
    df = df.reindex(sorted(df.columns), axis=1)
    # canonicalize: floats rounded, everything to str
    for c in df.columns:
        if df[c].dtype.kind == "f":
            df[c] = df[c].round(6)
    return df.reset_index(drop=True)


def check(con, oracle_sql, out_dir, name):
    """(ok, message) for one query."""
    import pandas as pd
    # sort part files: glob order is filesystem-arbitrary, and the
    # ordered compare below relies on the query's total order being
    # preserved across files (Verify writes coalesce(1), but stay
    # robust if that ever changes)
    files = sorted(glob.glob(f"{out_dir}/{name}/*.parquet"))
    if not files:
        return False, f"[MISS] {name}: no spark result"
    got = norm(pd.concat([pd.read_parquet(f) for f in files]))
    try:
        exp = norm(con.execute(oracle_sql).df())
    except Exception as e:
        return False, f"[ORACLE-ERR] {name}: {e}"
    # ordered compare on the sorted-column frame
    ok_cols = list(got.columns) == list(exp.columns)
    g = got.astype(str).values.tolist()
    x = exp.astype(str).values.tolist()
    if ok_cols and g == x:
        return True, f"[OK]   {name}: {len(g)} rows"
    msg = (f"[FAIL] {name}: cols {list(got.columns)} vs {list(exp.columns)}; "
           f"rows {len(g)} vs {len(x)}")
    if ok_cols:
        for i, (a, b) in enumerate(zip(g, x)):
            if a != b:
                msg += f"\n   first diff at row {i}: spark={a} duck={b}"
                break
    return False, msg


def main(argv):
    import duckdb
    args = parse_args(argv)
    con = duckdb.connect()
    for s in duckdb_sets(args):
        con.execute(s)
    for t in TABLES:
        p = f"{args.sf_dir}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    oracle = json.load(open(f"{args.out_dir}/oracle_sql.json"))
    results = []
    for name in sorted(oracle):
        t0 = time.monotonic()
        ok, msg = check(con, oracle[name], args.out_dir, name)
        secs = time.monotonic() - t0
        first, _, rest = msg.partition("\n")
        print(f"{first} ({secs:.2f} s)" + (f"\n{rest}" if rest else ""), flush=True)
        results.append((name, ok, secs))
    n_ok = sum(1 for _, ok, _ in results if ok)
    print(f"== {n_ok} ok, {len(results) - n_ok} bad ==")
    print(summary_line(results))
    return 1 if n_ok < len(results) else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
