"""GF1 gap-fill (SURVEY.md §2.10) — Spark has no implicit calendar
index, so missing buckets are materialized explicitly, with
`value = null, gap_filled = true` for absent buckets.

Fill modes: 'none' (nulls survive; the below-mask treats them as
not-below), 'locf' (J4 as-of fill via last-non-null window — no range
join needed), 'zero'.

Scale: gap_fill is a SINGLE scan of the input — one window pass
(lead(bucket_start) per source) + one explode that emits each observed
row followed by the missing buckets up to its successor. No
min/max aggregation, no self-join: a lazy upstream (e.g. a rollup fed
straight into gap_fill) is computed exactly once, where the previous
calendar-join shape re-executed it per consumer (Spark has no
plan-level CSE). `_calendar`/`missing_buckets` keep the explicit
calendar + anti-join shape (J3) for gap *reporting*.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from drought_t_spark.config import EngineConfig, DEFAULT

_INTERVAL = {"hour": "interval 1 hour", "day": "interval 1 day", "month": "interval 1 month"}


def _calendar(tier_df: DataFrame, tier: str, ts_col: str = "bucket_start") -> DataFrame:
    """Dense per-source bucket calendar spanning each source's range."""
    return (
        tier_df.groupBy("source")
        .agg(F.min(ts_col).alias("lo"), F.max(ts_col).alias("hi"))
        .select(
            "source",
            F.explode(F.expr(f"sequence(lo, hi, {_INTERVAL[tier]})")).alias(ts_col),
        )
    )


def gap_fill(
    tier_df: DataFrame,
    tier: str,
    cfg: EngineConfig = DEFAULT,
    value_cols: tuple[str, ...] = ("n_seq", "n_tok_sum", "n_tok_min", "n_tok_max", "n_tok_avg", "value"),
) -> DataFrame:
    """Materialize missing buckets; flag them; apply the fill mode.

    One window + one explode: row r emits sequence(r.bucket_start,
    next_bucket − interval) — element 0 is the observed row (values
    kept), the rest are the gap buckets up to the successor (values
    null). Buckets are tier-aligned and strictly increasing per source,
    so the sequence is always non-empty and covers min→max exactly."""
    step = _INTERVAL[tier]
    keep = [c for c in value_cols if c in tier_df.columns]
    w = Window.partitionBy("source").orderBy("bucket_start")
    filled = (
        tier_df.withColumn("_nxt", F.lead("bucket_start").over(w))
        .select(
            "source",
            *keep,
            F.posexplode(
                F.expr(f"sequence(bucket_start, coalesce(_nxt - {step}, bucket_start), {step})")
            ).alias("_pos", "bucket_start"),
        )
        .select(
            "source",
            "bucket_start",
            *[F.when(F.col("_pos") == 0, F.col(c)).alias(c) for c in keep],
            (F.col("_pos") > 0).alias("gap_filled"),
        )
    )
    if cfg.gap_fill_mode == "zero":
        filled = filled.withColumn("value", F.coalesce("value", F.lit(0.0)))
    elif cfg.gap_fill_mode == "locf":
        w = (
            Window.partitionBy("source")
            .orderBy("bucket_start")
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        filled = filled.withColumn("value", F.last("value", ignorenulls=True).over(w))
    return filled


def missing_buckets(tier_df: DataFrame, tier: str) -> DataFrame:
    """J3 — calendar anti-join: buckets that SHOULD exist but don't."""
    return _calendar(tier_df, tier).join(
        tier_df.select("source", "bucket_start"), ["source", "bucket_start"], "left_anti"
    )
