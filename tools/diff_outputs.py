#!/usr/bin/env python3
"""Compare two graft.Verify output directories query by query.

Usage: diff_outputs.py OLD_OUT NEW_OUT

Reads each query's parquet result on both sides with DuckDB, sorts the
columns by name and the rows with compare_oracle.norm, and compares the
cells with compare_oracle.eq in strict mode (exact float equality, as
`compare_oracle.py --strict`). Prints every query whose output differs
or exists on one side only, then a summary line; exits 1 if there is
any.
"""
import os
import sys

import duckdb

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import compare_oracle  # noqa: E402
from compare_oracle import eq, norm  # noqa: E402


def queries(out_dir):
    return {n for n in os.listdir(out_dir)
            if os.path.isdir(os.path.join(out_dir, n))}


def read(con, path):
    rel = con.sql(f"SELECT * FROM '{path}/*.parquet'")
    cols = sorted(rel.columns)
    return cols, norm(rel.project(", ".join(f'"{c}"' for c in cols))
                      .fetchall())


def diff(con, old_path, new_path):
    """The first difference between two query outputs, or None."""
    old_cols, old = read(con, old_path)
    new_cols, new = read(con, new_path)
    if old_cols != new_cols:
        return f"columns {old_cols} vs {new_cols}"
    if len(old) != len(new):
        return f"rows {len(old)} vs {len(new)}"
    for i, (a, b) in enumerate(zip(old, new)):
        if not all(eq(x, y) for x, y in zip(a, b)):
            return f"row {i}: old {a} new {b}"
    return None


def main(old_dir, new_dir):
    compare_oracle.STRICT = True
    con = duckdb.connect()
    old_q, new_q = queries(old_dir), queries(new_dir)
    n_same = n_diff = 0
    for name in sorted(old_q ^ new_q):
        side = "OLD" if name in old_q else "NEW"
        print(f"MISSING {name}: only in {side}")
    for name in sorted(old_q & new_q):
        d = diff(con, os.path.join(old_dir, name), os.path.join(new_dir, name))
        if d is None:
            n_same += 1
        else:
            print(f"DIFF {name}: {d}")
            n_diff += 1
    n_missing = len(old_q ^ new_q)
    print(f"\n{n_same} same, {n_diff} differ, {n_missing} missing")
    return 1 if n_diff or n_missing else 0


if __name__ == "__main__":
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    sys.exit(main(sys.argv[1], sys.argv[2]))
