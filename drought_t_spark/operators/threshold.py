"""TH1/TH2 — threshold derivation (SURVEY.md §2.10; Fleig et al. 2006
§3.1, Tallaksen & van Lanen 2004).

Variable mode: x0(source, cycle_pos) = exact P-th percentile of the
smoothed value over all history sharing that cycle position (day-of-year
for the day tier, hour-of-week for hour, month for month). Exact
`percentile` (not approx) — determinism is part of the fixture
contract. The drought kernel computes both modes itself
(`pooling._threshold`); this Spark form serves `runs_events_variable`.

Scale: the threshold table is tiny (sources × ≤366 cycle positions) —
it is ALWAYS broadcast back (J1), never shuffled.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from drought_t_spark.config import EngineConfig, DEFAULT
from drought_t_spark.functions.scalars import cycle_pos


def variable_threshold(df: DataFrame, tier: str, cfg: EngineConfig = DEFAULT) -> DataFrame:
    """(source, cycle_pos, x0) — exact percentile of x_ma per seasonal
    position."""
    return (
        df.withColumn("cycle_pos", cycle_pos(tier))
        .groupBy("source", "cycle_pos")
        .agg(F.percentile("x_ma", F.lit(cfg.threshold_pct)).alias("x0"))
    )


def attach_threshold(df: DataFrame, th: DataFrame, tier: str) -> DataFrame:
    """J1 — broadcast the (tiny) threshold table back onto the series."""
    keyed = df.withColumn("cycle_pos", cycle_pos(tier))
    return keyed.join(F.broadcast(th), ["source", "cycle_pos"], "left").drop("cycle_pos")
