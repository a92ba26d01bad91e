#!/usr/bin/env python3
"""Compare two warehouse directories table by table.

usage: scripts/compare_warehouse.py <dirA> <dirB>

Every subdirectory of a warehouse is one table (the `._GRAFT_*` marker files
and swap residue beside them are skipped). For each table the script prints
its row count and an order-independent content hash on both sides: the sum,
as a 128-bit integer, of DuckDB's hash of each whole row, so row order and
file layout do not matter but every duplicate row does. Hive-partitioned
tables (`<col>=<value>/` subdirectories) are read with their partition
columns. Exits 1 when any table differs or exists on one side only.
"""
import os
import sys

import duckdb


def tables(root):
    return {n for n in os.listdir(root)
            if "._GRAFT_" not in n and os.path.isdir(os.path.join(root, n))}


def digest(con, table_dir):
    """(rows, hash) of the parquet table at `table_dir`."""
    hive = any("=" in n and os.path.isdir(os.path.join(table_dir, n))
               for n in os.listdir(table_dir))
    glob = os.path.join(table_dir, "**/*.parquet" if hive else "*.parquet")
    src = f"read_parquet('{glob}', hive_partitioning = {str(hive).lower()})"
    return con.execute(
        f"SELECT count(*), coalesce(sum(hash(t)::HUGEINT), 0) FROM {src} t").fetchone()


def main(argv):
    if len(argv) != 3:
        print(__doc__.strip().splitlines()[2], file=sys.stderr)
        return 2
    a, b = argv[1], argv[2]
    con = duckdb.connect()
    ta, tb = tables(a), tables(b)
    diffs = 0
    for t in sorted(ta | tb):
        if t not in ta or t not in tb:
            print(f"MISSING {t}: only in {a if t in ta else b}")
            diffs += 1
            continue
        da, db = digest(con, os.path.join(a, t)), digest(con, os.path.join(b, t))
        same = da == db
        diffs += not same
        print(f"{'EQUAL' if same else 'DIFF '} {t}: rows {da[0]} / {db[0]}, "
              f"hash {da[1]} / {db[1]}")
    print(f"{len(ta | tb) - diffs} equal, {diffs} different or missing")
    return 1 if diffs else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
