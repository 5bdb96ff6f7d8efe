"""TH1/TH2 — threshold derivation (SURVEY.md §2.10; Fleig et al. 2006
§3.1, Tallaksen & van Lanen 2004).

Variable mode: x0(source, cycle_pos) = exact P-th percentile of the
smoothed value over all history sharing that cycle position (day-of-year
for the day tier, hour-of-week for hour, month for month), optionally
smoothed along cycle_pos with wrap-around. Fixed mode: one percentile
per source. Exact `percentile` (not approx) — determinism is part of
the fixture contract.

Scale: the threshold table is tiny (sources × ≤366 cycle positions) —
it is ALWAYS broadcast back (J1), never shuffled.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from drought_t_spark.config import EngineConfig, DEFAULT
from drought_t_spark.functions.scalars import cycle_pos


def variable_threshold(
    df: DataFrame, tier: str, cfg: EngineConfig = DEFAULT, value_col: str = "x_ma"
) -> DataFrame:
    """(source, cycle_pos, x0) — exact percentile per seasonal position."""
    th = (
        df.withColumn("cycle_pos", cycle_pos(tier))
        .groupBy("source", "cycle_pos")
        .agg(F.percentile(value_col, F.lit(cfg.threshold_pct)).alias("x0"))
    )
    if cfg.threshold_ma_window > 1:
        th = _smooth_cyclic(th, cfg.threshold_ma_window)
    return th


def fixed_threshold(
    df: DataFrame, cfg: EngineConfig = DEFAULT, value_col: str = "x_ma"
) -> DataFrame:
    """(source, x0) — one truncation level per source."""
    return df.groupBy("source").agg(
        F.percentile(value_col, F.lit(cfg.threshold_pct)).alias("x0")
    )


def _smooth_cyclic(th: DataFrame, window: int) -> DataFrame:
    """Centered MA over cycle_pos with wrap-around: head/tail cycle
    positions are duplicated beyond the ends so the window sees the
    seasonal neighborhood across the year boundary."""
    k = window // 2
    n = F.max("cycle_pos").over(Window.partitionBy("source"))
    lo = th.withColumn("cp2", F.col("cycle_pos") + n).where(F.col("cycle_pos") <= k)
    hi = th.withColumn("cp2", F.col("cycle_pos") - n).where(F.col("cycle_pos") > n - k)
    ext = (
        th.withColumn("cp2", F.col("cycle_pos"))
        .unionByName(lo)
        .unionByName(hi)
    )
    w = Window.partitionBy("source").orderBy("cp2").rowsBetween(-k, k)
    sm = ext.withColumn("x0s", F.avg("x0").over(w))
    return (
        sm.where(F.col("cp2") == F.col("cycle_pos"))
        .select("source", "cycle_pos", F.col("x0s").alias("x0"))
    )


def attach_threshold(
    df: DataFrame, th: DataFrame, tier: str | None = None, variable: bool = True
) -> DataFrame:
    """J1 — broadcast the (tiny) threshold table back onto the series."""
    if variable:
        keyed = df.withColumn("cycle_pos", cycle_pos(tier))
        return keyed.join(F.broadcast(th), ["source", "cycle_pos"], "left").drop("cycle_pos")
    return df.join(F.broadcast(th), ["source"], "left")
