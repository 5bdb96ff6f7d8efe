"""Local stand-in for the driver's correctness gate: run every
queries() entry on Spark at sf0.01 and its oracle_sql() twin on DuckDB,
compare row count, column names, and order-insensitive values (exact
after the queries' own rounding).

Usage: python tools/check_oracles.py [query ...]
"""

from __future__ import annotations

import os
import sys
import time

import duckdb
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as E  # noqa: E402
from drought_t_spark.session import build_session  # noqa: E402

SF_DIR = "/root/testdata/sf0.01"
TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1).copy()
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = df[c].astype("datetime64[us]").astype(str)
        elif df[c].dtype == object:
            df[c] = df[c].astype(str)
    return df.sort_values(list(df.columns)).reset_index(drop=True)


def main(only: list[str]):
    spark = build_session("oracle-check", master="local[8]", shuffle_partitions=16)
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')")

    qs, os_ = E.queries(), E.oracle_sql()
    failed = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            got = fn(spark, SF_DIR).toPandas()
        except Exception as ex:
            print(f"FAIL  {name}: spark error: {ex}")
            failed.append(name)
            continue
        if name not in os_:
            print(f"rows  {name}: {len(got)} rows (no oracle) [{time.time()-t0:.1f}s]")
            continue
        try:
            want = con.sql(os_[name]).df()
        except Exception as ex:
            print(f"FAIL  {name}: duckdb error: {ex}")
            failed.append(name)
            continue
        g, w = normalize(got), normalize(want)
        if list(g.columns) != list(w.columns):
            print(f"FAIL  {name}: columns {list(g.columns)} vs {list(w.columns)}")
            failed.append(name)
            continue
        if len(g) != len(w):
            print(f"FAIL  {name}: rows {len(g)} vs {len(w)}")
            failed.append(name)
            continue
        if not g.equals(w):
            neq = (g != w) & ~(g.isna() & w.isna())
            bad = neq.any(axis=1)
            print(f"FAIL  {name}: {int(bad.sum())}/{len(g)} differing rows; first:")
            print(pd.concat([g[bad].head(3).add_suffix("_spark"),
                             w[bad].head(3).add_suffix("_duck")], axis=1).to_string())
            failed.append(name)
            continue
        print(f"ok    {name}: {len(g)} rows match [{time.time()-t0:.1f}s]")
    print(f"\n{len(failed)} failures: {failed}" if failed else "\nALL MATCH")
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
