#!/usr/bin/env python3
"""Row-level compare of two graft.Verify dumps.

Usage: python3 tools/dump_diff.py <dirA> <dirB>

Verify's parquet bytes are not reproducible across JVMs (the footer's
per-column-chunk encodings list comes out in hash-set order), so two dumps
of the same rows can differ byte for byte. This compares what the rows
say instead. For every query directory in either dump it checks:
  - the query is present on both sides,
  - the column names and types, in order,
  - the row count,
  - the rows as multisets: DuckDB `EXCEPT ALL` in both directions.
It prints one line per query that differs or is missing, then a summary,
and exits 1 if any query differs or is missing.
"""
import os
import sys

import duckdb


def query_dirs(root):
    return {n for n in os.listdir(root)
            if os.path.isdir(os.path.join(root, n)) and not n.startswith(("_", "."))}


def relation(con, qdir):
    files = sorted(f for f in os.listdir(qdir) if f.endswith(".parquet"))
    if not files:
        return None
    paths = ", ".join("'" + os.path.join(qdir, f).replace("'", "''") + "'"
                      for f in files)
    return f"read_parquet([{paths}])"


def diff_query(con, a, b):
    """None when the two dumps of one query hold the same rows, else why not."""
    ra, rb = relation(con, a), relation(con, b)
    if ra is None or rb is None:
        return None if ra == rb else "no parquet files on one side"
    cols_a = con.sql(f"DESCRIBE SELECT * FROM {ra}").fetchall()
    cols_b = con.sql(f"DESCRIBE SELECT * FROM {rb}").fetchall()
    ca = [(c[0], c[1]) for c in cols_a]
    cb = [(c[0], c[1]) for c in cols_b]
    if ca != cb:
        return f"columns: {ca} vs {cb}"
    na = con.sql(f"SELECT count(*) FROM {ra}").fetchone()[0]
    nb = con.sql(f"SELECT count(*) FROM {rb}").fetchone()[0]
    if na != nb:
        return f"rows: {na} vs {nb}"
    only_a = con.sql(f"SELECT count(*) FROM (SELECT * FROM {ra} "
                     f"EXCEPT ALL SELECT * FROM {rb})").fetchone()[0]
    only_b = con.sql(f"SELECT count(*) FROM (SELECT * FROM {rb} "
                     f"EXCEPT ALL SELECT * FROM {ra})").fetchone()[0]
    if only_a or only_b:
        return f"rows differ: {only_a} only in A, {only_b} only in B"
    return None


def main():
    if len(sys.argv) != 3:
        sys.exit("usage: dump_diff.py <dirA> <dirB>")
    dir_a, dir_b = sys.argv[1], sys.argv[2]
    qa, qb = query_dirs(dir_a), query_dirs(dir_b)
    con = duckdb.connect()
    bad = []
    for q in sorted(qa | qb):
        if q not in qb:
            why = "missing in B"
        elif q not in qa:
            why = "missing in A"
        else:
            try:
                why = diff_query(con, os.path.join(dir_a, q),
                                 os.path.join(dir_b, q))
            except duckdb.Error as e:
                why = f"compare error: {e}"
        if why:
            bad.append(q)
            print(f"DIFF {q}: {why}")
    print(f"{len(qa | qb) - len(bad)}/{len(qa | qb)} queries equal "
          f"({len(qa)} in A, {len(qb)} in B)")
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
