"""Scalar column expressions (SURVEY.md §2.8) — all JVM-side Catalyst
expressions, whole-stage-codegen friendly. No Python UDFs here.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from drought_t_spark.config import TIER_SECONDS

TS_EPOCH_LIT = "timestamp'2024-01-01 00:00:00'"


def seq_index() -> Column:
    """Parse the per-source sequence index from doc_id '<source>/<seq:012d>'."""
    return F.substring_index("doc_id", "/", -1).cast("long").alias("seq")


def seq_timestamp() -> Column:
    """Derived event time: epoch + `seq` minutes (SURVEY.md §1.2 T1)."""
    return F.timestamp_add("MINUTE", F.col("seq"), F.expr(TS_EPOCH_LIT))


def cycle_pos(tier: str) -> Column:
    """Seasonal index of `bucket_start` for the variable threshold
    (SURVEY.md §2.10 TH1): hour tier → hour-of-week (0..167), day →
    day-of-year, month → month."""
    c = F.col("bucket_start")
    if tier == "hour":
        return ((F.dayofweek(c) - 1) * 24 + F.hour(c)).cast("int")
    if tier == "day":
        return F.dayofyear(c).cast("int")
    if tier == "month":
        return F.month(c).cast("int")
    raise ValueError(f"unknown tier {tier}")


def deficit(x_ma: str, x0: str) -> Column:
    """Below-threshold deficit x0 - x_ma of two columns, floored at 0
    (Yevjevich run sums)."""
    return F.greatest(F.col(x0) - F.col(x_ma), F.lit(0.0))


def bucket_count(tier: str, start: Column, end: Column) -> Column:
    """Inclusive bucket count from `start` to `end` at tier granularity.

    Pooled duration d_i + t_i + d_{i+1} equals this for aligned bucket
    timestamps (gap buckets counted), so merged-event durations need no
    per-member bookkeeping."""
    if tier == "month":
        return (F.months_between(end, start).cast("long") + 1)
    sec = TIER_SECONDS[tier]
    return ((end.cast("long") - start.cast("long")) / sec).cast("long") + 1
