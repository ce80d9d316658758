#!/usr/bin/env python3
"""Local replica of the driver's correctness gate.

Run graft.Verify first (dumps <out>/<query>/ parquet + <out>/oracle_sql.json),
then this script re-runs each oracle SQL in DuckDB over the same sf tables
and compares the way the driver does.

Canonicalization (reverse-engineered against CORRECTNESS_r01.json — this
exact scheme reproduces the round-1 driver verdict 43/43, including the 8
hash failures):
  - Spark side is read with pandas/pyarrow (`pd.read_parquet`): parquet
    DECIMAL columns become Python Decimal objects.
  - Oracle side is duckdb `.df()`: DECIMAL columns become float64.
  - Columns sorted by name; every value stringified (`astype(str)`); rows
    sorted; frames compared cell-for-cell.
The asymmetry means a DECIMAL output whose value has a trailing zero
('304.00' vs str(304.0)='304.0') FAILS even when values are equal — so
engine queries must never emit decimal columns; use int64 fixed-point.

The oracles run on a process pool sized from os.cpu_count(), one DuckDB
connection per worker; results print in name order as above, each with
its seconds, then the 10 slowest oracles and the ok/failed totals.

Usage: python3 tools/check_oracle.py <sfDir> <verifyOutDir> [query...]
"""
import json, os, sys, time
from concurrent.futures import ProcessPoolExecutor
import duckdb
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    s = df.astype(str)
    return s.sort_values(by=list(s.columns), ignore_index=True)


_con = None


def connect(sf_dir: str):
    """Pool initializer: this worker's DuckDB connection over the sf tables."""
    global _con
    _con = duckdb.connect()
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        # GenData multiFile layout: <table>.parquet is a DIRECTORY of
        # part files (the engine's natural write); glob it for duckdb
        src = f"{p}/*.parquet" if os.path.isdir(p) else p
        _con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{src}'")


def check(job):
    """(name, sql, out_dir) -> (output lines, ok, seconds)."""
    name, sql, out_dir = job
    t0 = time.monotonic()
    lines, ok = compare(name, sql, out_dir)
    return lines, ok, time.monotonic() - t0


def compare(name, sql, out_dir):
    try:
        got = pd.read_parquet(f"{out_dir}/{name}", engine="pyarrow")
    except Exception as e:
        return [f"FAIL {name}: spark output unreadable: {e}"], False
    try:
        exp = _con.sql(sql).df()
    except Exception as e:
        return [f"FAIL {name}: oracle sql error: {str(e)[:200]}"], False
    g, e = canon(got), canon(exp)
    if list(g.columns) != list(e.columns):
        return [f"FAIL {name}: columns {list(g.columns)} vs {list(e.columns)}"], False
    if len(g) != len(e):
        return [f"FAIL {name}: rows {len(g)} vs {len(e)}"], False
    neq = (g != e)
    if neq.any().any():
        cols = [c for c in g.columns if neq[c].any()]
        lines = [f"FAIL {name}: value mismatch in cols {cols}"]
        for c in cols[:3]:
            idx = neq[c].idxmax()
            lines.append(f"   first diff col={c} row={idx}: spark={g[c][idx]!r} duck={e[c][idx]!r}")
        return lines, False
    return [f"OK   {name} ({len(g)} rows)"], True


def main():
    sf_dir, out_dir = sys.argv[1], sys.argv[2]
    only = set(sys.argv[3:])
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    jobs = [(name, sql, out_dir) for name, sql in sorted(oracle.items())
            if not only or name in only]
    n_ok = n_bad = 0
    seconds = []
    # a worker that dies raises BrokenProcessPool here: the run fails
    # loudly instead of losing that oracle's verdict
    with ProcessPoolExecutor(os.cpu_count(), initializer=connect,
                             initargs=(sf_dir,)) as pool:
        pending = [pool.submit(check, job) for job in jobs]
        for (name, _, _), result in zip(jobs, pending):
            lines, ok, sec = result.result()
            print("\n".join(lines))
            print(f"     {sec:.2f} s", flush=True)
            seconds.append((sec, name))
            if ok:
                n_ok += 1
            else:
                n_bad += 1
    print("\nslowest oracles:")
    for sec, name in sorted(seconds, reverse=True)[:10]:
        print(f"  {sec:8.2f} s  {name}")
    print(f"\n{n_ok} ok, {n_bad} failed")
    sys.exit(1 if n_bad else 0)


if __name__ == "__main__":
    main()
