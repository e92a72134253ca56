#!/usr/bin/env python3
# Compare two graft.Verify dumps query by query.
# Usage: python3 scripts/diff_dumps.py <dumpA> <dumpB> [q,...]
#
# Each query's parquet output is read with DuckDB (as check_oracle.py
# does) and compared as an order-insensitive multiset of rows: the same
# column names, and A EXCEPT ALL B and B EXCEPT ALL A both empty. Cells
# compare exactly (no float tolerance). This is what holds the
# rows-only queries, which have no oracle, across a refactor.
#
# The optional third argument is a comma-separated list of queries,
# by full name (q52_knn_ivf) or number (q52); without it every query
# found in either dump is compared. Prints one line per query —
# same / differ / missing — and exits 1 if any query differs or is
# missing from a dump.
#
# A query whose output is nondeterministic shows up as `differ` when
# two dumps of the SAME tree are compared; run that first and leave
# such queries out of the tree-vs-tree list.
import glob
import os
import sys

import duckdb


def queries(dump):
    return {os.path.basename(os.path.dirname(p))
            for p in glob.glob(f"{dump}/*/*.parquet")}


def qnum(name):
    head = name.split("_")[0]
    return (int(head[1:]) if head[1:].isdigit() else 10**9, name)


def wanted(names, spec):
    if spec is None:
        return sorted(names, key=qnum)
    out = []
    for q in spec.split(","):
        hits = [n for n in names if n == q or n.split("_")[0] == q]
        out += hits or [q]
    return sorted(set(out), key=qnum)


def main():
    if len(sys.argv) not in (3, 4):
        sys.exit("usage: diff_dumps.py <dumpA> <dumpB> [q,...]")
    a, b = sys.argv[1], sys.argv[2]
    qa, qb = queries(a), queries(b)
    con = duckdb.connect()
    bad = 0
    for q in wanted(qa | qb, sys.argv[3] if len(sys.argv) == 4 else None):
        if q not in qa or q not in qb:
            where = " or ".join(d for d, qs in (("A", qa), ("B", qb)) if q not in qs)
            print(f"missing {q} (no output in {where})")
            bad += 1
            continue
        con.execute(f"CREATE OR REPLACE VIEW a AS SELECT * FROM read_parquet('{a}/{q}/*.parquet')")
        con.execute(f"CREATE OR REPLACE VIEW b AS SELECT * FROM read_parquet('{b}/{q}/*.parquet')")
        ca = [r[0] for r in con.execute("DESCRIBE a").fetchall()]
        cb = [r[0] for r in con.execute("DESCRIBE b").fetchall()]
        if sorted(ca) != sorted(cb):
            print(f"differ  {q} (columns A={ca} B={cb})")
            bad += 1
            continue
        cols = ", ".join(f'"{c}"' for c in sorted(ca))
        n = con.execute("SELECT count(*) FROM a").fetchone()[0]
        only_a = con.execute(
            f"SELECT count(*) FROM (SELECT {cols} FROM a EXCEPT ALL SELECT {cols} FROM b)").fetchone()[0]
        only_b = con.execute(
            f"SELECT count(*) FROM (SELECT {cols} FROM b EXCEPT ALL SELECT {cols} FROM a)").fetchone()[0]
        if only_a or only_b:
            print(f"differ  {q} (A-only rows {only_a}, B-only rows {only_b})")
            bad += 1
        else:
            print(f"same    {q} ({n} rows)")
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
