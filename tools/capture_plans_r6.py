#!/usr/bin/env python
"""Capture .explain('formatted') for the r6-touched queries into
plans/r06/<query>_<tag>.txt (tag = before|after). Run from the
round-start tree with tag=before and the current tree with tag=after.

Usage: python tools/capture_plans_r6.py <tag> <out_dir> [query ...]
"""
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
TAG = sys.argv[1]
OUT = sys.argv[2]
ONLY = sys.argv[3:]

QUERIES = [
    "asof_join_hourly", "topk_per_group", "text_stats", "runs_events",
    "drought_events_full", "minhash_pairs", "tpch_q1",
]


def main():
    import __spark_entry__ as E
    import bench
    from drought_t_spark.operators import rollup as R
    from drought_t_spark.session import build_session

    spark = build_session("capture-plans", master="local[8]",
                          shuffle_partitions=16)
    os.makedirs(OUT, exist_ok=True)
    qs = E.queries()
    names = ONLY or QUERIES
    for name in names:
        df = qs[name](spark, SF_DIR)
        txt = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        with open(f"{OUT}/{name}_{TAG}.txt", "w") as f:
            f.write(txt)
        print(name, "->", f"{OUT}/{name}_{TAG}.txt", flush=True)

    if not ONLY:
        # the two token-job plans (bench.py shapes, not queries())
        t0dir = bench.write_token_table(spark, bench._sf_of(SF_DIR))
        t1 = R.with_event_time(spark.read.parquet(t0dir))
        pay = R.pack_payloads(t1, "hour")
        hour = R.rollup_hour(t1)
        day = R.cascade(hour, "day")
        month = R.cascade(day, "month")
        u = (hour.select("source", "bucket_start", "n_tok_sum")
             .unionByName(day.select("source", "bucket_start", "n_tok_sum"))
             .unionByName(month.select("source", "bucket_start", "n_tok_sum"))
             .agg(F.count("*").alias("points"), F.sum("n_tok_sum").alias("toks")))
        for name, df in (("token_payload_encode", pay), ("token_rollup_tiers", u)):
            txt = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
            with open(f"{OUT}/{name}_{TAG}.txt", "w") as f:
                f.write(txt)
            print(name, "->", f"{OUT}/{name}_{TAG}.txt", flush=True)
        import shutil
        shutil.rmtree(t0dir, ignore_errors=True)


main()
