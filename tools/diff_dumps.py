#!/usr/bin/env python3
"""Compare two Verify dump directories row for row.

usage: diff_dumps.py <dirA> <dirB> [row ...]

For each dump (`<dir>/<row>/*.parquet`) present in both dirs, DuckDB runs
EXCEPT ALL both ways over the columns matched by name, so duplicate rows
count and values compare exactly. Differing rows are printed (at most
MAX_SHOWN a direction, after the count). Trailing row names restrict the
compare. Exit 1 if any dump differs in rows or column types, or exists
on one side only; 0 otherwise.
"""
import os
import sys

import duckdb

MAX_SHOWN = 20


def dumps(d):
    return {e for e in os.listdir(d)
            if os.path.isdir(os.path.join(d, e))
            and any(f.endswith(".parquet") for f in os.listdir(os.path.join(d, e)))}


def main():
    if len(sys.argv) < 3:
        sys.exit(__doc__)
    a_dir, b_dir = sys.argv[1], sys.argv[2]
    only = set(sys.argv[3:])
    a, b = dumps(a_dir), dumps(b_dir)
    if only:
        a, b = a & only, b & only
    bad = 0
    for name in sorted(a ^ b):
        print(f"ONLY {a_dir if name in a else b_dir}: {name}")
        bad += 1
    con = duckdb.connect()
    for name in sorted(a & b):
        src = {side: f"read_parquet('{d}/{name}/*.parquet')" for side, d in (("A", a_dir), ("B", b_dir))}
        types = {side: {r[0]: r[1] for r in con.sql(f"DESCRIBE SELECT * FROM {t}").fetchall()}
                 for side, t in src.items()}
        if types["A"] != types["B"]:
            print(f"DIFF {name}: columns A={types['A']} B={types['B']}")
            bad += 1
            continue
        cols = ", ".join('"' + c.replace('"', '""') + '"' for c in sorted(types["A"]))
        diffs = []
        for x, y in (("A", "B"), ("B", "A")):
            rows = con.sql(f"SELECT {cols} FROM {src[x]} EXCEPT ALL SELECT {cols} FROM {src[y]}").fetchall()
            if rows:
                diffs.append((x, rows))
        if not diffs:
            continue
        bad += 1
        print(f"DIFF {name}: " + ", ".join(f"{len(rows)} rows only in {x}" for x, rows in diffs))
        for x, rows in diffs:
            for r in rows[:MAX_SHOWN]:
                print(f"  {x}: {r}")
    n = len(a & b)
    print(f"{n} dumps compared, {bad} differing" if bad else f"{n} dumps compared, 0 differing rows")
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
