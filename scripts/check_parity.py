"""Local replica of the driver's correctness gate: run every queries() entry
on Spark and its oracle_sql() on DuckDB at the same sf dir, compare
row-count, schema (sorted column names), and order-insensitive values.

Usage: python scripts/check_parity.py [sf_dir] [query ...]
"""

import os
import sys
import time

import duckdb
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod
from bluegraph_spark.session import get_session

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def norm(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
    return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    spark = get_session(master="local[8]", shuffle_partitions=16)
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    qs, oracles = entrymod.queries(), entrymod.oracle_sql()
    failures = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            got = fn(spark, sf_dir).toPandas()
        except Exception as e:
            print(f"FAIL {name}: spark error {type(e).__name__}: {e}")
            failures += 1
            continue
        t_spark = time.time() - t0
        if name not in oracles:
            print(f"SKIP {name}: no oracle (rows={len(got)}, {t_spark:.1f}s)")
            continue
        t0 = time.time()
        try:
            want = con.sql(oracles[name]).df()
        except Exception as e:
            print(f"FAIL {name}: duckdb error: {e}")
            failures += 1
            continue
        t_duck = time.time() - t0
        g, w = norm(got), norm(want)
        status = []
        if list(g.columns) != list(w.columns):
            status.append(f"schema {list(g.columns)} != {list(w.columns)}")
        elif len(g) != len(w):
            status.append(f"rows {len(g)} != {len(w)}")
        else:
            neq = (g != w) & ~(g.isna() & w.isna())
            bad = neq.any(axis=1).sum()
            if bad:
                status.append(f"{bad}/{len(g)} rows differ")
                idx = neq.any(axis=1)
                print(g[idx].head(3))
                print(w[idx].head(3))
        if status:
            print(f"FAIL {name}: {'; '.join(status)} (spark {t_spark:.1f}s duck {t_duck:.1f}s)")
            failures += 1
        else:
            print(f"OK   {name}: rows={len(g)} spark={t_spark:.1f}s duck={t_duck:.1f}s")
    print("failures:", failures)
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
