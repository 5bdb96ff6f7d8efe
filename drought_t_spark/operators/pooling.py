"""PL1 — inter-event time-and-volume (IC) pooling to fixed point
(SURVEY.md §2.10; Fleig et al. 2006 §3.2).

Normative semantics (the NumPy oracle in tests/oracle.py implements the
SAME algorithm — this is the executable spec standing in for the empty
reference snapshot):

  repeat until no merge:
    for consecutive events (i, i+1) within a source (onset order):
      mergeable(i) ⇔ gap_t(i) ≤ t_c  AND  gap_v(i) ≤ p_c · s_i
      (gap_t/gap_v = inter-event bucket count / excess volume of the
       above-threshold run between them; s_i = CURRENT severity of the
       left event, i.e. pre-pass value)
    merge maximal chains of mergeable pairs in one pass:
      onset = onset_first, termination = term_last,
      duration = Σ d_members + Σ internal gap_t   (= d_i + t_i + d_{i+1})
      severity = Σ s_members − Σ internal gap_v   (= s_i + s_{i+1} − v_i)

Each pass is one window pass + one aggregation on the (tiny) event
table; severities grow monotonically, so iterating reaches the
sequential-pooling fixed point in ≤ ⌈log₂ max-chain⌉ passes.

Spark shape: lag window → chain-id via running sum (the RL2 idiom
lifted to the event table) → groupBy chain. Driver loop with
localCheckpoint() per pass to keep the plan flat. No per-row Python.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from drought_t_spark.config import EngineConfig, DEFAULT


def events_with_gaps(run_events: DataFrame) -> DataFrame:
    """Attach gap_t/gap_v (the following above-run's length/excess) to
    each below-run event. Trailing gaps (no next event) stay null."""
    gaps = run_events.where(F.col("below") == 0).select(
        "source",
        (F.col("run_id") - 1).alias("run_id"),  # gap follows below-run run_id
        F.col("duration").alias("gap_t"),
        F.col("excess").alias("gap_v"),
    )
    ev = run_events.where(F.col("below") == 1)
    w = Window.partitionBy("source").orderBy("onset")
    return (
        ev.join(gaps, ["source", "run_id"], "left")
        # a trailing above-run is not an inter-event gap: null it out
        .withColumn("gap_t", F.when(F.lead("onset").over(w).isNotNull(), F.col("gap_t")))
        .withColumn("gap_v", F.when(F.lead("onset").over(w).isNotNull(), F.col("gap_v")))
        .select(
            "source", "onset", "termination", "duration", "severity",
            "peak", "gap_t", "gap_v",
        )
        .withColumn("pooled", F.lit(False))
    )


def _pool_pass(ev: DataFrame, cfg: EngineConfig) -> DataFrame:
    w = Window.partitionBy("source").orderBy("onset")
    join_prev = (
        F.lag("gap_t").over(w).isNotNull()
        & (F.lag("gap_t").over(w) <= F.lit(cfg.pool_tc))
        & (F.lag("gap_v").over(w) <= F.lit(cfg.pool_pc) * F.lag("severity").over(w))
    )
    flagged = ev.withColumn("join_prev", F.coalesce(join_prev, F.lit(False)))
    chained = flagged.withColumn(
        "chain",
        F.sum(F.when(F.col("join_prev"), 0).otherwise(1)).over(
            w.rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    # internal gap = gap_after of every chain member except the last.
    # Chains are maximal runs of consecutive rows in (source, onset)
    # order, so "last member" ⇔ the successor row (same window spec as
    # the lag/running-sum above — no second Exchange/Sort for a
    # descending re-sort) starts a different chain or doesn't exist.
    marked = chained.withColumn(
        "is_last",
        F.coalesce(F.lead("chain").over(w) != F.col("chain"), F.lit(True)),
    )
    merged = marked.groupBy("source", "chain").agg(
        F.min("onset").alias("onset"),
        F.max("termination").alias("termination"),
        (
            F.sum("duration")
            + F.coalesce(F.sum(F.when(~F.col("is_last"), F.col("gap_t"))), F.lit(0))
        ).cast("long").alias("duration"),
        (
            F.sum("severity")
            - F.coalesce(F.sum(F.when(~F.col("is_last"), F.col("gap_v"))), F.lit(0.0))
        ).alias("severity"),
        F.max("peak").alias("peak"),
        F.max_by("gap_t", "onset").alias("gap_t"),
        F.max_by("gap_v", "onset").alias("gap_v"),
        (F.max("pooled") | (F.count("*") > 1)).alias("pooled"),
    ).drop("chain")
    return merged


def pool_events(ev_with_gaps: DataFrame, cfg: EngineConfig = DEFAULT) -> DataFrame:
    """Iterate _pool_pass to fixed point (driver-side loop on a tiny
    table; each pass localCheckpoint()ed to keep lineage flat).

    Stops when a pass leaves the row count unchanged — the same rule as
    `local_ref.run_site`. A pass either merges at least one pair (the
    table shrinks) or is the identity (singleton chains re-aggregate to
    the same rows), so the loop terminates, and it never returns an
    unconverged table however long the chain of merges is.

    The input is consumed exactly once (by the first pass) and never
    counted or checkpointed: the convergence baseline is the first
    pass's own count, which saves two Spark jobs per call."""
    if cfg.pooling != "ic":
        return ev_with_gaps
    ev = ev_with_gaps
    n = -1
    while True:
        ev = _pool_pass(ev, cfg).localCheckpoint(eager=True)
        m = ev.count()
        if m == n:
            return ev
        n = m


def finalize_events(ev: DataFrame) -> DataFrame:
    """Event ids + intensity after pooling."""
    w = Window.partitionBy("source").orderBy("onset")
    return (
        ev.withColumn("event_id", F.row_number().over(w).cast("long"))
        .withColumn("intensity", F.col("severity") / F.col("duration"))
        .select(
            "source", "event_id", "onset", "termination", "duration",
            "severity", "intensity", "peak", "pooled",
        )
    )
