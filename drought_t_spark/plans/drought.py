"""Plan builders — operators are plan-to-plan functions over Catalyst
logical plans (SURVEY.md §3.2); this module composes them into the two
engine jobs: the tier rollup DAG and the drought-method DAG.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from drought_t_spark.config import EngineConfig, DEFAULT
from drought_t_spark.operators import rollup as R
from drought_t_spark.operators.gapfill import gap_fill
from drought_t_spark.operators.pooling import pool_events
from drought_t_spark.operators.runs import below_mask, extract_events, segment_runs
from drought_t_spark.operators.smoothing import moving_avg
from drought_t_spark.operators.threshold import attach_threshold, fixed_threshold, variable_threshold


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
    """The drought-method DAG on one rolled-up tier (SURVEY.md §3.2 #2):
    gap-fill → MA → threshold(+broadcast join) → below-mask → runs →
    raw events → IC pooling fixed point → minor exclusion.

    One intermediate is multi-consumer and MUST be materialized (Spark
    recomputes a lazy subtree per consumer — no plan-level CSE): the
    smoothed series `sm`, read once to derive the threshold and once as
    the join left side. Without it, the DAG re-evaluated the full
    gap-fill+MA+percentile pipeline per consumer — measured 353 s vs
    40 s on a 256-site × 10-year fixture. The run table has a single
    consumer, `pool_events` (pooling, numbering and exclusion in one
    grouped NumPy stage), so it stays lazy.

    `materialize` makes that an explicit caller choice: None (default)
    = localCheckpoint(eager) — right for single-job runs, but it
    computes at call time and truncates lineage (an executor loss after
    the checkpoint is unrecoverable on a real cluster); pass
    `lambda df: df` for a fully lazy plan, or a write-to-table-and-
    read-back callback for the production multi-stage path."""
    if materialize is None:
        materialize = lambda df: df.localCheckpoint(eager=True)  # noqa: E731
    filled = gap_fill(tier_df, tier, cfg)
    sm = materialize(moving_avg(filled, cfg.ma_window))
    if cfg.threshold_mode == "variable":
        th = variable_threshold(sm, tier, cfg)
        joined = attach_threshold(sm, th, tier, variable=True)
    else:
        th = fixed_threshold(sm, cfg)
        joined = attach_threshold(sm, th, variable=False)
    runs = segment_runs(below_mask(joined))
    return pool_events(extract_events(runs), cfg)


def series_to_tier(df: DataFrame, site_col: str = "site", ts_col: str = "date",
                   value_col: str = "value") -> DataFrame:
    """Adapt a generic (site, ts, value) observed series — e.g. the F2
    fixture or the driver's events table — to the tier-frame shape the
    drought DAG consumes."""
    return df.select(
        F.col(site_col).alias("source"),
        F.col(ts_col).cast("timestamp").alias("bucket_start"),
        F.col(value_col).cast("double").alias("value"),
    )
