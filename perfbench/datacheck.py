#!/usr/bin/env python3
"""Compares `mixdata.py`'s tables with a reference data set, table by table.

    python3 perfbench/datacheck.py REFERENCE_DIR [--seed 42] [--sf 0.01]

REFERENCE_DIR holds one `<table>.parquet` per table, as the repository's
test data does (TESTDATA.md). The generated tables go to a temporary
directory. For every column it prints the share of rows identical to the
reference (row by row) and, for both sides, the distinct count, the mean
and the range (numbers and times) or the mean length (strings); for the
key relations the queries join on, the distribution of lines per order
and events per user.
"""
import argparse
import os
import sys
import tempfile

import duckdb

import mixdata


def profile(con, path, col, kind):
    if kind in ("BIGINT", "INTEGER", "DOUBLE", "FLOAT"):
        q = f"count(DISTINCT {col}), round(avg({col}), 4), min({col}), max({col})"
    elif kind.startswith("TIMESTAMP"):
        q = f"count(DISTINCT {col}), NULL, min({col}), max({col})"
    elif kind == "VARCHAR":
        q = f"count(DISTINCT {col}), round(avg(length({col})), 2), NULL, NULL"
    else:  # lists: mean length and mean of the first element
        q = f"NULL, round(avg(len({col})), 2), min({col}[1]), max({col}[1])"
    return con.execute(f"SELECT {q} FROM read_parquet('{path}')").fetchone()


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("reference")
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--sf", type=float, default=0.01)
    a = ap.parse_args()
    con = duckdb.connect()
    with tempfile.TemporaryDirectory() as gen:
        mixdata.generate(gen, a.seed, a.sf)
        print("| table.column | identical rows | reference: distinct, mean, min, max "
              "| generated: distinct, mean, min, max |")
        print("|---|---|---|---|")
        for f in sorted(os.listdir(gen)):
            ref, got = os.path.join(a.reference, f), os.path.join(gen, f)
            t = f[:-len(".parquet")]
            n_ref, n_got = (con.execute(f"SELECT count(*) FROM read_parquet('{p}')")
                            .fetchone()[0] for p in (ref, got))
            print(f"| {t} (rows) | | {n_ref} | {n_got} |")
            for col, kind, *_ in con.execute(
                    f"DESCRIBE SELECT * FROM read_parquet('{ref}')").fetchall():
                same = con.execute(
                    f"SELECT avg(CASE WHEN a.{col} IS NOT DISTINCT FROM b.{col} "
                    f"THEN 1 ELSE 0 END) FROM "
                    f"(SELECT {col}, row_number() OVER () AS i FROM read_parquet('{ref}')) a "
                    f"JOIN (SELECT {col}, row_number() OVER () AS i FROM read_parquet('{got}')) b "
                    f"USING (i)").fetchone()[0]
                print(f"| {t}.{col} | {same:.3f} | {profile(con, ref, col, kind)} "
                      f"| {profile(con, got, col, kind)} |")
        for what, sql in [
                ("lines per order", "SELECT n, count(*) FROM (SELECT l_orderkey, count(*) n "
                 "FROM read_parquet('{d}/lineitem.parquet') GROUP BY 1) GROUP BY 1 ORDER BY 1"),
                ("events per user (min, max)", "SELECT min(n), max(n) FROM (SELECT user_id, "
                 "count(*) n FROM read_parquet('{d}/events.parquet') GROUP BY 1)"),
                ("near-duplicate documents", "SELECT count(*) FROM "
                 "read_parquet('{d}/documents.parquet') WHERE text LIKE '% dup%'")]:
            print(f"{what}: reference {con.execute(sql.format(d=a.reference)).fetchall()}")
            print(f"{what}: generated {con.execute(sql.format(d=gen)).fetchall()}")
    return 0


if __name__ == "__main__":
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    sys.exit(main())
