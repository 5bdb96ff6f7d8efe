"""Generic as-of (backward) join — for each left row, the latest right
row with `right_ts <= left_ts` within the same partition keys. The
time-series join Spark lacks natively (J4's LOCF fill is the
single-frame special case; this is the two-table operator).

Shape: tag + union + one window pass — the right rows are interleaved
into the left timeline and the last right ROW (one struct, never
independent per-column carries) is carried forward per key. ONE shuffle
keyed by `by` and no range join: a rangeBetween/theta join would
explode to |left| × |matching-window| rows before filtering, which is
the classic as-of scale trap. Ties (right_ts == left_ts) resolve to the
tied right row (inclusive backward join, matching DuckDB/pandas ASOF
semantics).

Match semantics: the carried struct is non-null exactly when an earlier
right row EXISTS, even if every value column of that row is NULL — so
`how='inner'` keeps a left row matched to an all-null right row, and the
output never mixes values from different right rows (both were defects
of a per-column `last(ignorenulls)` carry).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def asof_join_bucketed(
    left: DataFrame,
    right: DataFrame,
    by: list[str],
    left_ts: str = "ts",
    right_ts: str = "ts",
    value_cols: list[str] | None = None,
) -> DataFrame:
    """Backward as-of join specialised for a SMALL, hour-aligned right
    side (every right_ts lies on an hour boundary, e.g. hourly rollup
    buckets): result-identical to ``asof_join(..., how='inner')`` but
    with a completely different physical shape.

    The generic tag+union+window plan shuffles and sorts the ENTIRE
    left side partitioned only by `by` — with a handful of keys that is
    a few giant sorted partitions regardless of cluster size (the J7
    skew trap). Here the right side is densified instead: a per-key
    calendar from min to max right_ts at hour granularity, each slot
    carrying the latest real right row at-or-before it (one lead window
    + explode over the tiny right side). Each left row then equi-joins on
    (by, least(date_trunc('hour', left_ts), max right_ts per key)) — a
    broadcast hash join; the big side is never shuffled or sorted.
    The clamp maps late probes to the final bucket, exactly what
    backward as-of yields there; probes before the first right row find
    no calendar slot and drop, matching how='inner'. Ties are inclusive
    (a probe ON a bucket start matches that bucket) because the slot at
    t carries any real row at t itself.

    The calendar size is span/hour per key — time-bounded, not
    row-bounded, so the broadcast stays small for any rollup-tier right
    side. Do not use for right sides with multi-year gaps or rows off
    the hour lattice (asserted nowhere: caller
    contract, covered by the oracle parity test)."""
    if value_cols is None:
        value_cols = [c for c in right.columns if c not in set(by) | {right_ts}]
    lcols = left.columns
    rv = F.struct(*[F.col(c).alias(c) for c in value_cols]).alias("_rv")
    r = right.select(*by, F.col(right_ts).alias("_rts"), rv)
    # dense per-key slot calendar, built the gap_fill way: each real row
    # emits the slots [its _rts, next _rts) carrying itself — one lead
    # window + one explode over the tiny right side. (The first cut of
    # this operator aggregated per-key bounds, exploded a calendar,
    # re-joined the right side and ran a LOCF window — three more stage
    # barriers for an identical `filled` table; r6 probe: build 0.73 s
    # vs 0.55 s at the bench shape.)
    wlead = Window.partitionBy(*by).orderBy("_rts")
    filled = (
        r.withColumn("_nxt", F.lead("_rts").over(wlead))
        .select(
            *by,
            F.col("_rv").alias("_m"),
            F.explode(
                F.expr(
                    "sequence(_rts, coalesce(_nxt - interval 1 hour, _rts),"
                    " interval 1 hour)"
                )
            ).alias("_slot"),
        )
    )
    # per-key last real bucket (for clamping late probes); max(_rts)
    # equals max(_slot) because the final row emits only its own slot
    maxb = r.groupBy(*by).agg(F.max("_rts").alias("_maxb"))
    out = (
        left.join(F.broadcast(maxb), by)
        .withColumn("_slot", F.least(F.date_trunc("hour", F.col(left_ts)), F.col("_maxb")))
        .join(F.broadcast(filled), [*by, "_slot"])
    )
    return out.select(
        *by,
        *[F.col(c) for c in lcols if c not in by],
        *[F.col("_m").getField(c).alias(c) for c in value_cols],
    )


def asof_join(
    left: DataFrame,
    right: DataFrame,
    by: list[str],
    left_ts: str = "ts",
    right_ts: str = "ts",
    value_cols: list[str] | None = None,
    how: str = "inner",
) -> DataFrame:
    """Backward as-of join. Returns every left column plus `value_cols`
    from the matched right row; `how='inner'` drops left rows with no
    earlier right row, `how='left'` keeps them with nulls."""
    if value_cols is None:
        value_cols = [c for c in right.columns if c not in set(by) | {right_ts}]
    lcols = left.columns
    # ONE struct per right row: its nullness marks "a right row exists
    # here", independent of the value columns' own nullness.
    rv_struct = F.struct(*[F.col(c).alias(c) for c in value_cols])
    rv_type = (
        right.select(rv_struct.alias("_rv")).schema["_rv"].dataType
    )
    r = right.select(
        *by,
        F.col(right_ts).alias("_ats"),
        F.lit(0).alias("_side"),
        rv_struct.alias("_rv"),
        *[F.lit(None).cast(left.schema[c].dataType).alias(c)
          for c in lcols if c not in by],
    )
    l = left.select(
        *by,
        F.col(left_ts).alias("_ats"),
        F.lit(1).alias("_side"),
        F.lit(None).cast(rv_type).alias("_rv"),
        *[F.col(c) for c in lcols if c not in by],
    )
    # right rows sort BEFORE left rows at equal timestamps (side 0 < 1),
    # so an exact-tie right row is visible to the left row — inclusive
    w = (
        Window.partitionBy(*by)
        .orderBy("_ats", "_side")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    carried = r.unionByName(l).withColumn(
        "_m", F.last("_rv", ignorenulls=True).over(w)
    )
    out = carried.where(F.col("_side") == 1)
    if how == "inner":
        out = out.where(F.col("_m").isNotNull())
    return out.select(
        *by,
        *[F.col(c) for c in lcols if c not in by],
        *[F.col("_m").getField(c).alias(c) for c in value_cols],
    )
