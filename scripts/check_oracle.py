#!/usr/bin/env python3
"""Local replica of the driver's correctness gate.

Usage: python3 scripts/check_oracle.py <verify_out_dir> <sf_dir> [query...]

Reads each <out_dir>/<name> parquet (written by graft.Verify), runs the
matching oracle SQL from <out_dir>/oracle_sql.json in DuckDB over the sf_dir
parquet tables, and compares: row count, column names, and values (rows and
columns sorted, exact match; tiny float tolerance report included for triage).
Each PASS/FAIL line names the query first, then the oracle's wall time, e.g.
`PASS name (N rows, 12.3 s)` or `FAIL name (12.3 s): rows 5 vs 6`.

DuckDB gets this process's share of the host: CHECK_ORACLE_PROCS (default 1;
scripts/parallel_check.sh sets it to its chunk count) processes split the
cpus and 60% of the RAM, and each spills to its own temp directory under
SPARK_LOCAL_DIRS (else the system temp dir), removed at exit.
"""
import json
import os
import sys
import tempfile
import time

import duckdb
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if str(df[c].dtype).startswith("datetime"):
            df[c] = df[c].astype("datetime64[us]")
        # normalize date-like objects to strings for stable compare
    df = df.sort_values(by=list(df.columns), na_position="first").reset_index(drop=True)
    return df


def connect(spill_dir):
    procs = max(1, int(os.environ.get("CHECK_ORACLE_PROCS", "1")))
    ram = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    con = duckdb.connect()
    con.execute(f"SET threads = {max(1, len(os.sched_getaffinity(0)) // procs)}")
    con.execute(f"SET memory_limit = '{max(1 << 30, int(ram * 0.6) // procs) >> 20}MB'")
    con.execute(f"SET temp_directory = '{spill_dir}'")
    return con


def main():
    out_dir, sf_dir = sys.argv[1], sys.argv[2]
    only = set(sys.argv[3:])
    spill_root = os.environ.get("SPARK_LOCAL_DIRS", "").split(",")[0] or None
    if spill_root:
        os.makedirs(spill_root, exist_ok=True)
    with tempfile.TemporaryDirectory(prefix="duckdb_oracle_", dir=spill_root) as spill:
        con = connect(spill)
        n_fail = check(con, out_dir, sf_dir, only)
        con.close()
    sys.exit(1 if n_fail else 0)


def check(con, out_dir, sf_dir, only):
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    n_pass = n_fail = 0
    for name, sql in sorted(oracle.items()):
        if only and name not in only:
            continue
        try:
            got = pd.read_parquet(f"{out_dir}/{name}")
        except Exception as ex:
            print(f"FAIL {name}: spark output missing ({ex})")
            n_fail += 1
            continue
        t0 = time.monotonic()
        try:
            want = con.execute(sql).df()
        except Exception as ex:
            secs = time.monotonic() - t0
            print(f"FAIL {name} ({secs:.1f} s): oracle sql error: {str(ex)[:300]}")
            n_fail += 1
            continue
        secs = time.monotonic() - t0
        g, w = canon(got), canon(want)
        if list(g.columns) != list(w.columns):
            print(f"FAIL {name} ({secs:.1f} s): columns {list(g.columns)} vs {list(w.columns)}")
            n_fail += 1
            continue
        if len(g) != len(w):
            print(f"FAIL {name} ({secs:.1f} s): rows {len(g)} vs {len(w)}")
            n_fail += 1
            continue
        mismatched = []
        for c in g.columns:
            a, b = g[c], w[c]
            # Canonical-STRING compare on every column, like the driver's
            # hash gate. No numeric branch: a numeric `Decimal == float`
            # compare silently passes when a wider-than-int64 value (e.g.
            # DECIMAL(38,0) ~ 9e21) survives Spark's parquet exactly but
            # degrades to float64 in DuckDB's pandas path — exactly the
            # divergence the driver fails on (round-6 a4c/a4d lesson).
            try:
                if a.dtype.kind == "f" and b.dtype.kind == "f":
                    # BOTH float: float64-normalize so float32 vs float64
                    # repr noise doesn't mask a bit-level compare. One-sided
                    # float (e.g. exact Decimal vs degraded float64) falls
                    # through to the raw string compare and FAILS, as the
                    # driver's gate does.
                    ok = a.astype("float64").astype(str).equals(
                        b.astype("float64").astype(str))
                else:
                    ok = a.astype(str).fillna("\0").equals(b.astype(str).fillna("\0"))
            except Exception:
                ok = a.astype(str).equals(b.astype(str))
            if not ok:
                mismatched.append(c)
        if mismatched:
            print(f"FAIL {name} ({secs:.1f} s): value mismatch in {mismatched}")
            for c in mismatched[:2]:
                diff = g[c].astype(str) != w[c].astype(str)
                idx = diff[diff].index[:3]
                for i in idx:
                    print(f"   [{c}] row {i}: spark={g[c][i]!r} oracle={w[c][i]!r}")
            n_fail += 1
        else:
            print(f"PASS {name} ({len(g)} rows, {secs:.1f} s)")
            n_pass += 1
    print(f"\n{n_pass} pass, {n_fail} fail")
    return n_fail


if __name__ == "__main__":
    main()
