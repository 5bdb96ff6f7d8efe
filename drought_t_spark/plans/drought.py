"""Plan builders — operators are plan-to-plan functions over Catalyst
logical plans (SURVEY.md §3.2); this module composes them into the two
engine jobs: the tier rollup DAG and the drought method.

The drought method is one Spark stage, with no window pass and no
checkpoint: repartition(source) → sortWithinPartitions(source,
bucket_start) → mapInArrow on the `rollup.grouped_stream` scaffold,
whose NumPy kernel (`operators.pooling`) runs gap-fill, MA, threshold,
runs and, last, pooling, numbering and exclusion for every source of a
batch.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from drought_t_spark.config import EngineConfig, DEFAULT
from drought_t_spark.operators import rollup as R
from drought_t_spark.operators.pooling import pool_events


def rollup_tiers(seqs: DataFrame) -> dict[str, DataFrame]:
    """T0 → {hour, day, month} stats tiers; coarser tiers cascade from
    finer partials (never re-read raw) — SURVEY.md §2.4 AG1/AG2."""
    t1 = R.with_event_time(seqs)
    hour = R.rollup_hour(t1)
    day = R.cascade(hour, "day")
    month = R.cascade(day, "month")
    return {"hour": hour, "day": day, "month": month}


def drought_events_for_tier(
    tier_df: DataFrame,
    tier: str,
    cfg: EngineConfig = DEFAULT,
    materialize=None,
) -> DataFrame:
    """The drought method on one rolled-up tier (SURVEY.md §3.2 #2):
    gap-fill → MA → threshold → below-mask → runs → IC pooling fixed
    point → minor exclusion, all per source in `pool_events`' one
    grouped NumPy stage (Exchange + Sort + MapInArrow). Lazy: nothing
    runs until an action. `materialize`, when given, is applied once to
    the event frame (e.g. a write-and-read-back or a checkpoint)."""
    events = pool_events(tier_df, tier, cfg)
    return events if materialize is None else materialize(events)


def series_to_tier(df: DataFrame, site_col: str = "site", ts_col: str = "date") -> DataFrame:
    """Adapt a generic (site, ts, value) observed series — e.g. the F2
    fixture or the driver's events table — to the tier-frame shape the
    drought method consumes."""
    return df.select(
        F.col(site_col).alias("source"),
        F.col(ts_col).cast("timestamp").alias("bucket_start"),
        F.col("value").cast("double").alias("value"),
    )
