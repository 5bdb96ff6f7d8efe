"""RL1/RL2/EV1 — below-mask, run segmentation, raw event extraction
(SURVEY.md §2.10; Yevjevich 1967 run theory).

below(t) = x_ma(t) < x0(t), strict, null→false. Runs are maximal
consecutive stretches of equal `below` per source, segmented with the
lag→change-flag→running-sum idiom (W2/W3): a single window pass, no
self-joins. `segment_runs` keeps BOTH below and above runs — pooling
(PL1) needs the above-runs' inter-event time and excess volume.

Scale: one shuffle keyed by source for the window pass; event tables are
tiny afterwards (runs, not buckets).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from drought_t_spark.functions.scalars import deficit


def below_mask(df: DataFrame, x_ma: str = "x_ma", x0: str = "x0") -> DataFrame:
    """RL1 — strict below-threshold flag; null-safe false."""
    return df.withColumn(
        "below",
        F.when(F.col(x_ma) < F.col(x0), F.lit(1)).otherwise(F.lit(0)),
    )


def segment_runs(df: DataFrame, order_col: str = "bucket_start") -> DataFrame:
    """RL2 — run_id per maximal constant-`below` stretch per source."""
    w = Window.partitionBy("source").orderBy(order_col)
    chg = F.when(
        F.lag("below").over(w).isNull() | (F.lag("below").over(w) != F.col("below")),
        F.lit(1),
    ).otherwise(F.lit(0))
    return df.withColumn("chg", chg).withColumn(
        "run_id", F.sum("chg").over(w.rowsBetween(Window.unboundedPreceding, 0))
    ).drop("chg")


def extract_events(runs: DataFrame, order_col: str = "bucket_start") -> DataFrame:
    """EV1 — one row per below-run AND per above-run (gap).

    Below-runs carry (onset, termination, duration, severity, peak);
    above-runs carry (gap_len, gap_excess) = the inter-event time and
    excess volume PL1's pooling criterion needs. Severity uses
    deficit = max(x0 − x_ma, 0); excess is the mirror image.
    """
    d = deficit("x_ma", "x0")
    e = deficit("x0", "x_ma")  # excess above threshold
    return (
        runs.groupBy("source", "run_id")
        .agg(
            F.first("below").alias("below"),
            F.min(order_col).alias("onset"),
            F.max(order_col).alias("termination"),
            F.count("*").cast("long").alias("duration"),
            F.sum(d).alias("severity"),
            F.max(d).alias("peak"),
            F.sum(e).alias("excess"),
        )
    )
