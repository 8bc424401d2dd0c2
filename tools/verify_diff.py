#!/usr/bin/env python3
"""Compare two graft.Verify dumps query by query.

Usage: python3 tools/verify_diff.py <outA> <outB> [--exclude=q1,q2,...]

Every query directory present in either dump is compared: the result parquet
is loaded, columns are sorted by name and rows are sorted as in
tools/oracle_check.py (by all columns; None and NaN get a fixed place so the
order is total). Values must be exactly equal; NaN equals NaN. Prints one
line per differing query with the first differing row, then `N/N identical`.
Exit status 1 when any compared query differs.
"""
import math
import os
import sys

import duckdb


def queries(out_dir):
    return {d for d in os.listdir(out_dir)
            if os.path.isdir(os.path.join(out_dir, d)) and d.startswith("q")}


def load(con, out_dir, name):
    t = con.execute(f"SELECT * FROM '{out_dir}/{name}/*.parquet'").fetch_arrow_table()
    cols = sorted(t.column_names)
    return cols, [tuple(r[c] for c in cols) for r in t.to_pylist()]


def canon(v):
    """A sort key giving None, NaN and nested values a total order."""
    if v is None:
        return (0,)
    if isinstance(v, float) and math.isnan(v):
        return (1,)
    if isinstance(v, (list, tuple)):
        return (3, tuple(canon(x) for x in v))
    if isinstance(v, dict):
        return (4, tuple((k, canon(x)) for k, x in sorted(v.items())))
    return (2, type(v).__name__, v)


def same(a, b):
    if isinstance(a, float) and isinstance(b, float) and math.isnan(a) and math.isnan(b):
        return True
    if isinstance(a, (list, tuple)) and isinstance(b, (list, tuple)):
        return len(a) == len(b) and all(same(x, y) for x, y in zip(a, b))
    if isinstance(a, dict) and isinstance(b, dict):
        return a.keys() == b.keys() and all(same(a[k], b[k]) for k in a)
    return type(a) is type(b) and a == b


def diff(con, a_dir, b_dir, name):
    """None when identical, else a description of the first difference."""
    try:
        ca, ra = load(con, a_dir, name)
        cb, rb = load(con, b_dir, name)
    except Exception as e:  # a missing or unreadable dump side
        return f"unreadable: {e}"
    if ca != cb:
        return f"columns differ: {ca} vs {cb}"
    if len(ra) != len(rb):
        return f"rows differ: {len(ra)} vs {len(rb)}"
    ra.sort(key=lambda r: tuple(canon(v) for v in r))
    rb.sort(key=lambda r: tuple(canon(v) for v in r))
    for x, y in zip(ra, rb):
        if not same(x, y):
            bad = sum(1 for p, q in zip(ra, rb) if not same(p, q))
            return f"{bad}/{len(ra)} rows differ\n  A: {x}\n  B: {y}"
    return None


def main(argv):
    args = [a for a in argv if not a.startswith("--exclude")]
    excluded = set()
    for a in argv:
        if a.startswith("--exclude="):
            excluded |= {q for q in a.split("=", 1)[1].split(",") if q}
    if len(args) != 2:
        print(__doc__.strip().splitlines()[2])
        return 2
    a_dir, b_dir = args
    names = sorted((queries(a_dir) | queries(b_dir)) - excluded)
    con = duckdb.connect()
    differing = 0
    for name in names:
        d = diff(con, a_dir, b_dir, name)
        if d is not None:
            differing += 1
            print(f"DIFF {name}: {d}")
    if excluded:
        print(f"excluded: {', '.join(sorted(excluded))}")
    print(f"{len(names) - differing}/{len(names)} identical")
    return 1 if differing else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
