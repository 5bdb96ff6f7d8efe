#!/usr/bin/env python
"""Supplemental r6 plan capture for the change that hides behind an
eager localCheckpoint in the final query plans:
  * runs_sm     — the gap-fill→MA(window=1) smoothing subplan
                  (before: Exchange+Sort+Window; after: projection only)
Usage: python tools/capture_plans_r6b.py <tag> <out_dir>
"""
import datetime as dt
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

TAG, OUT = sys.argv[1], sys.argv[2]


def dump(df, name):
    txt = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    with open(f"{OUT}/{name}_{TAG}.txt", "w") as f:
        f.write(txt)
    print(name, "->", f"{OUT}/{name}_{TAG}.txt", flush=True)


def main():
    from drought_t_spark.config import EngineConfig
    from drought_t_spark.operators.gapfill import gap_fill
    from drought_t_spark.operators.smoothing import moving_avg
    from drought_t_spark.session import build_session

    spark = build_session("capture-plans-b", master="local[8]",
                          shuffle_partitions=16)
    os.makedirs(OUT, exist_ok=True)
    cfg = EngineConfig(ma_window=1, gap_fill_mode="none")
    t0 = dt.datetime(2024, 1, 1)
    tier = spark.createDataFrame(
        [("s1", t0 + dt.timedelta(days=i), float(i % 7)) for i in range(30)],
        "source string, bucket_start timestamp, value double",
    )
    dump(moving_avg(gap_fill(tier, "day", cfg), 1), "runs_sm")


main()
