#!/usr/bin/env python3
"""Compare two directories of catalog tables row by row.

    python3 perfbench/compare_tables.py <dir_a> <dir_b>

For each of the ten catalog tables, prints the row counts, the distinct
values of each key column, and the number of rows (in file order) that
differ in any column. Exits 1 if any table differs. README.md, "Inputs",
records its output for the generated fixture against the shared test
tables.
"""
import sys

import duckdb

KEYS = {"customer": "c_custkey", "supplier": "s_suppkey", "part": "p_partkey",
        "orders": "o_orderkey", "lineitem": "l_orderkey", "events": "user_id",
        "documents": "text", "embeddings": "label", "nation": "n_nationkey",
        "region": "r_regionkey"}


def main(a, b):
    con = duckdb.connect()
    differ = False
    for t, key in KEYS.items():
        x, y = (f"(SELECT *, row_number() OVER () AS rn FROM read_parquet('{d}/{t}.parquet'))"
                for d in (a, b))
        cols = [c[0] for c in con.execute(f"DESCRIBE SELECT * FROM read_parquet('{a}/{t}.parquet')")
                .fetchall()]
        same = " AND ".join(f"x.{c} IS NOT DISTINCT FROM y.{c}" for c in cols)
        (na, ka), (nb, kb) = (con.execute(f"SELECT count(*), count(DISTINCT {key}) FROM {s}")
                              .fetchone() for s in (x, y))
        bad = con.execute(f"SELECT count(*) FROM {x} x FULL JOIN {y} y USING (rn) "
                          f"WHERE NOT ({same})").fetchone()[0]
        differ |= bad > 0
        print(f"{t:<11} rows {na:>7} / {nb:>7}  distinct {key} {ka:>6} / {kb:>6}  "
              f"rows differing {bad}")
    return 1 if differ else 0


if __name__ == "__main__":
    sys.exit(main(*sys.argv[1:3]))
