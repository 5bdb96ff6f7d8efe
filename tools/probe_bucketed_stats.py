#!/usr/bin/env python
"""Probe: why does the exchange-free stats union scale inversely with
cores (BENCH/scaling_r5_bucketed.json: 7.8 s at local[2] vs 21.1 s at
local[32])?

Hypothesis: the bench child's lazy `hour -> cascade(day) -> cascade
(month) -> union` DAG is deduped by ReusedExchange in the SHUFFLED
plan (scan+partial agg run once), but the exchange-free bucketed plan
has no exchange to reuse, so the scan + hour aggregation recompute
once per union branch — and the production job never does this (it
WRITES each tier and cascades from the written table,
plans/rollup_job.py), so it is a harness artifact, not an engine one.

Modes, each timed min-of-3 in one JVM at the given core count:
  lazy    — the r5 child's shape verbatim (recompute per branch)
  cached  — hour/day tiers .cache()d (mirrors the job's write+read-back)
  shuffled— same lazy shape over the plain parquet copy of the table

Usage: python tools/probe_bucketed_stats.py <cores> <mode> <root>
"""

from __future__ import annotations

import json
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)


def main() -> None:
    cores, mode, root = int(sys.argv[1]), sys.argv[2], sys.argv[3]
    from pyspark.sql import functions as F

    from drought_t_spark.operators import rollup as R
    from drought_t_spark.session import build_session
    from drought_t_spark.sources import bucketed as B

    spark = build_session(f"probe-{mode}-{cores}", master=f"local[{cores}]",
                          shuffle_partitions=max(8, cores))
    if mode == "shuffled":
        plain = f"{root}/t0_plain"
        if not os.path.exists(plain):
            B.register_bucketed_sequences(spark, f"{root}/t0b", n_buckets=64)
            B.read_bucketed(spark).write.mode("overwrite").parquet(plain)
        t1 = R.with_event_time(spark.read.parquet(plain))
    else:
        B.register_bucketed_sequences(spark, f"{root}/t0b", n_buckets=64)
        t1 = R.with_event_time(B.read_bucketed(spark))

    walls, row, plan = [], None, ""
    for _ in range(3):
        t0 = time.time()
        hour = R.rollup_hour(t1)
        if mode == "cached":
            hour = hour.cache()
        day = R.cascade(hour, "day")
        if mode == "cached":
            day = day.cache()
        month = R.cascade(day, "month")
        u = (
            hour.select("source", "bucket_start", "n_tok_sum")
            .unionByName(day.select("source", "bucket_start", "n_tok_sum"))
            .unionByName(month.select("source", "bucket_start", "n_tok_sum"))
            .agg(F.count("*").alias("points"), F.sum("n_tok_sum").alias("toks"))
        )
        row = u.first()
        walls.append(round(time.time() - t0, 3))
        plan = u._jdf.queryExecution().executedPlan().toString()
        if mode == "cached":
            day.unpersist()
            hour.unpersist()
    print(json.dumps({
        "mode": mode, "cores": cores, "walls": walls, "min": min(walls),
        "points": int(row["points"]), "toks": int(row["toks"]),
        "scans": plan.count("Scan parquet"),
        "exchanges": plan.count("Exchange"),
        "reused": plan.count("ReusedExchange") + plan.count("InMemoryTableScan"),
    }), flush=True)


if __name__ == "__main__":
    main()
