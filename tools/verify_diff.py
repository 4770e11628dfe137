#!/usr/bin/env python3
"""Compare two graft.Verify output directories.

Usage: python3 tools/verify_diff.py A B

Checks that
  - oracle_sql.json and gated_by.json are byte-identical (a difference is
    reported per query key: added, removed or changed text, or else the
    key order), and
  - both sides hold the same result directories, each with the same row
    count and the same order-independent content hash (DuckDB
    sum(hash(row)) over the result's parquet files).

Prints every difference and exits 1 if there is any, 0 otherwise.
"""
import json
import os
import sys

import duckdb

JSON_FILES = ("oracle_sql.json", "gated_by.json")


def result_dirs(root):
    return {d for d in os.listdir(root) if os.path.isdir(os.path.join(root, d))}


def json_diffs(name, pa, pb):
    """Per-key differences between two JSON objects of query name -> text."""
    ja, jb = json.load(open(pa)), json.load(open(pb))
    diffs = [f"{name}: {k} only in {'A' if k in ja else 'B'}" for k in sorted(ja.keys() ^ jb.keys())]
    diffs += [f"{name}: {k} text differs" for k in sorted(ja.keys() & jb.keys()) if ja[k] != jb[k]]
    return diffs or [f"{name}: key order differs"]


def digest(con, path):
    glob = os.path.join(path, "*.parquet").replace("'", "''")
    return con.execute(
        f"SELECT count(*), sum(hash(r)) FROM read_parquet('{glob}') r").fetchone()


def main(a, b):
    diffs = []
    for name in JSON_FILES:
        pa, pb = os.path.join(a, name), os.path.join(b, name)
        if not (os.path.isfile(pa) and os.path.isfile(pb)):
            diffs.append(f"{name}: missing on {'A' if not os.path.isfile(pa) else 'B'}")
        elif open(pa, "rb").read() != open(pb, "rb").read():
            diffs += json_diffs(name, pa, pb)
    da, db = result_dirs(a), result_dirs(b)
    for name in sorted(da ^ db):
        diffs.append(f"{name}: result only in {'A' if name in da else 'B'}")
    con = duckdb.connect()
    both = sorted(da & db)
    for name in both:
        try:
            ra, rb = digest(con, os.path.join(a, name)), digest(con, os.path.join(b, name))
        except duckdb.Error as e:
            diffs.append(f"{name}: unreadable ({e})")
            continue
        if ra != rb:
            diffs.append(f"{name}: rows/hash {ra} vs {rb}")
    for d in diffs:
        print(d)
    print(f"{len(both)} results compared, {len(diffs)} differences")
    return 1 if diffs else 0


if __name__ == "__main__":
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    sys.exit(main(sys.argv[1], sys.argv[2]))
