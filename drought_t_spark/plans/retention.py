"""Retention + tier-routing read (the "retention engine" half of the
north rule: hourly → daily → monthly tiers with bounded-horizon fine
data).

Two operator families:

* `expire_tier` / `expire_payload_tier` — drop a stats or payload
  tier's buckets older than a cutoff, but ONLY after proving the
  next-coarser tier covers the expired range (refusing is cheaper than
  losing data). Both are thin wrappers over one core: a single
  per-source aggregation answers coverage, counts and the affected
  sources in one action, and `Warehouse.overwrite_partitions` rewrites
  each affected source partition in place (dropping the ones that come
  out empty). On Iceberg with
  `PARTITIONED BY (days(bucket_start), bucket(source, N))` the same
  call is a metadata-only `DELETE WHERE bucket_start < cutoff` +
  `expire_snapshots` — the call site does not change shape.

* `read_series` / `read_payloads` / `read_values` — the continuous-
  aggregate read path: serve a time range from the COARSEST tier that
  fully covers each sub-range (month for the old span, day for the
  middle, hour for the recent tail), so a year-long query touches
  ~12 + ~30 + ~24·30 rows per source instead of 8760. Boundaries are
  bucket-aligned, each tier reads a disjoint [lo, hi) slice, and
  partition pruning applies per tier because the filter is a literal
  range on `bucket_start`.

Expiries record ops rows (lineage/metrics) like every other stage.
"""

from __future__ import annotations

import time
from datetime import datetime
from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from drought_t_spark.ops import checkpoints as CP
from drought_t_spark.sources.warehouse import Warehouse

#: coarser tier that must cover expired buckets of the key tier
COARSER = {"hour": "day", "day": "month"}


class RetentionError(RuntimeError):
    """Refusal to expire data the coarser tier does not cover."""


def _parse_ts(t) -> datetime:
    return t if isinstance(t, datetime) else datetime.fromisoformat(str(t))


def _floor_day(t: datetime) -> datetime:
    return t.replace(hour=0, minute=0, second=0, microsecond=0)


def _floor_month(t: datetime) -> datetime:
    return _floor_day(t).replace(day=1)


#: start of the coarser-tier bucket holding a time
_FLOOR = {"day": _floor_day, "month": _floor_month}


def expire_tier(
    spark: SparkSession,
    wh: Warehouse,
    job_id: str,
    tier: str,
    cutoff,
    archive_values: bool = False,
) -> dict:
    """Expire `tier` buckets with bucket_start < cutoff (tier-aligned).

    Safety invariant: every (source, coarser-bucket) that would lose
    fine rows must already exist in the committed coarser tier; the
    whole call aborts with RetentionError on any uncovered bucket.
    Returns counts.

    The commit's snapshot token covers the rows this cycle REWROTE (the
    kept rows of the source partitions that lost buckets), reported by
    the write itself; a cycle that expires nothing commits "0:0". It
    does not describe the whole tier.

    `archive_values=True` additionally packs the doomed rows' float64
    `value` series into `agg.value_history_<tier>` (one row per
    (source, coarser bucket): minute-offset GZ1 + Gorilla-XOR GZ3
    payloads — operators/value_history.py) BEFORE anything is dropped,
    so the fine-grained series stays recoverable bit-exactly after the
    integer stats have been downsampled away. The archive write is an
    idempotent per-source-partition overwrite, like every other sink."""
    return _expire(
        spark, wh, job_id, tier, cutoff, "tier", ["source", "bucket_start"],
        "retention", "expired_rows", archive_values,
    )


def expire_payload_tier(
    spark: SparkSession,
    wh: Warehouse,
    job_id: str,
    tier: str,
    cutoff,
) -> dict:
    """Expire `agg.payload_<tier>` buckets with bucket_start < cutoff —
    the payload twin of `expire_tier`, with the same two guards: the
    cutoff must sit on a coarser-tier bucket boundary, and every
    (source, coarser-bucket) losing fine payloads must already exist in
    the committed coarser PAYLOAD tier (refusal beats data loss — the
    coarse payload holds the same token stream bit-exactly, so nothing
    is lost once covered). The snapshot token covers the rewritten kept
    payload rows, as in `expire_tier`."""
    return _expire(
        spark, wh, job_id, tier, cutoff, "payload",
        ["source", "bucket_start", "chunk_id"],
        "retention_payload", "expired_payload_rows",
    )


def _expire(
    spark: SparkSession, wh: Warehouse, job_id: str, tier: str, cutoff,
    prefix: str, key_cols: list[str], stage: str, metric: str,
    archive_values: bool = False,
) -> dict:
    """The one expiry of `agg.<prefix>_<tier>`: cutoff alignment, then a
    single per-source aggregation that answers the coverage check, the
    counts and the affected-source set together, then one in-place
    rewrite of the affected source partitions and the commit."""
    noun = "" if prefix == "tier" else " payload"
    coarser = COARSER.get(tier)
    if coarser is None:
        raise ValueError(f"tier {tier!r} has no coarser{noun} tier to retain into")
    # the cutoff must sit on a COARSER-tier bucket boundary: a mid-day /
    # mid-month cutoff would pass the coverage check (the coarse bucket
    # exists) yet expire only part of that bucket's fine rows, leaving
    # the routed reads with a ragged edge inside a partially-expired bucket
    cut_t = _parse_ts(cutoff)
    aligned = _FLOOR[coarser](cut_t)
    if aligned != cut_t:
        ragged = (
            "would break read_series exactness" if prefix == "tier"
            else "would leave read_payloads unable to serve it"
        )
        raise RetentionError(
            f"cutoff {cut_t.isoformat()} is not aligned to a {coarser}-tier "
            f"bucket boundary; expiring part of a {coarser}{noun} bucket "
            f"{ragged} — use {aligned.isoformat()} or the next boundary"
        )
    tbl = f"agg.{prefix}_{tier}"
    t0 = time.perf_counter()  # the commit's wall_s metric starts here
    df = wh.read(spark, tbl)
    is_doomed = F.col("bucket_start") < F.lit(cut_t).cast("timestamp")
    # one row per (source, coarse bucket of its doomed rows); kept rows
    # group under cb = NULL, which never matches the coverage join. The
    # coarser side is distinct: payload tiers hold several chunks per
    # bucket, which would multiply the counts
    per = df.groupBy(
        "source", F.when(is_doomed, F.date_trunc(coarser, "bucket_start")).alias("cb")
    ).agg(F.count(F.lit(1)).alias("n"))
    cover = wh.read(spark, f"agg.{prefix}_{coarser}").select(
        "source", F.col("bucket_start").alias("cb"), F.lit(True).alias("covered")
    ).distinct()
    doomed_grp = F.col("cb").isNotNull()
    n_before, n_doomed, n_uncovered, affected = (
        per.join(cover, ["source", "cb"], "left")
        .agg(
            F.sum("n"),
            F.sum(F.when(doomed_grp, F.col("n"))),
            F.count_if(doomed_grp & F.col("covered").isNull()),
            F.collect_set(F.when(doomed_grp, F.col("source"))),
        )
        .first()
    )
    if n_uncovered:
        raise RetentionError(
            f"{n_uncovered} (source, {coarser}-bucket) groups below the cutoff "
            f"have no committed {coarser}-tier{noun} row; refusing to expire"
        )
    n_before, n_doomed = n_before or 0, n_doomed or 0
    token = "0:0"
    if n_doomed:
        if archive_values:
            _archive_values(spark, wh, tier, coarser, df.where(is_doomed))
        # rewrite only the source partitions that lose rows; a source
        # whose rows are all doomed comes out empty and is dropped
        affected = sorted(affected)
        _, token = wh.overwrite_partitions(
            df.where(F.col("source").isin(affected) & ~is_doomed),
            tbl, "source", affected, key_cols,
        )
    CP.record_commit(
        wh, job_id, f"{stage}_{tier}", [f"{tier}:{stage}"],
        snapshot_id=token,
        rows_in=n_before, rows_out=n_before - n_doomed,
        metrics={metric: float(n_doomed), "wall_s": time.perf_counter() - t0},
    )
    return {"expired": n_doomed, "kept": n_before - n_doomed}


def _archive_values(
    spark: SparkSession, wh: Warehouse, tier: str, coarser: str, doomed: DataFrame
) -> None:
    """Pack the doomed rows' `value` series into `agg.value_history_<tier>`."""
    from drought_t_spark.operators.value_history import (
        pack_value_history,
        unpack_value_history,
    )

    # partitioned by (source, cb=yyyyMMdd of the coarse bucket):
    # successive retention cycles have strictly increasing ALIGNED
    # cutoffs, so each cycle's coarse buckets are NORMALLY disjoint
    # from every earlier cycle's — dynamic overwrite then replaces
    # only THIS cycle's buckets (crash-replay of one cycle stays
    # idempotent) and never destroys previously archived history.
    # Partitioning by source alone did exactly that (one cycle wiped
    # the whole source=X partition, including older cycles' rows).
    # cb is the fixed-width yyyyMMdd string (string order == date
    # order), declared a string (`schemas.VALUE_HISTORY`), so the read
    # path's literal range filter prunes partitions exactly.
    #
    # LATE ARRIVALS break the disjointness: fine rows landing in an
    # already-archived coarse bucket would make dynamic overwrite
    # replace that (source, cb) partition with only the late rows,
    # silently destroying the earlier archive. So overlapping
    # partitions are MERGED: unpack the existing payload, drop any
    # fine bucket the live tier re-supplies (the live row is the
    # most recent computation and wins), union, repack. The overlap
    # probe is one broadcast semi-join against this cycle's key set
    # and the unpack cost is paid only for genuinely overlapping
    # partitions — the common disjoint cycle takes the fast path
    # untouched. Replay-idempotent: re-running a crashed cycle finds
    # its own merged write, subtracts the doomed rows it re-supplies,
    # and repacks identical content.
    hist_tbl = f"agg.value_history_{tier}"
    pack_src = doomed
    cb_expr = F.date_format(F.date_trunc(coarser, "bucket_start"), "yyyyMMdd")
    if wh.exists(hist_tbl):
        cycle_keys = doomed.select("source", cb_expr.alias("cb")).distinct()
        overlap = wh.read(spark, hist_tbl).join(
            F.broadcast(cycle_keys), ["source", "cb"], "left_semi"
        )
        if overlap.limit(1).count():
            old_only = (
                unpack_value_history(overlap)
                .join(
                    doomed.select("source", "bucket_start"),
                    ["source", "bucket_start"],
                    "left_anti",
                )
                .withColumn("gap_filled", F.lit(False))
            )
            pack_src = doomed.select(
                "source", "bucket_start", "value", "gap_filled"
            ).unionByName(
                old_only.select("source", "bucket_start", "value", "gap_filled")
            )
    hist = pack_value_history(pack_src, coarser).withColumn(
        "cb", F.date_format("bucket_start", "yyyyMMdd")
    )
    wh.write_partitioned(hist, hist_tbl, ["source", "cb"])


def read_values(
    spark: SparkSession,
    wh: Warehouse,
    tier: str,
    lo,
    hi,
) -> DataFrame:
    """Fine-grained float64 `value` series of `tier` over [lo, hi) —
    including ranges already EXPIRED behind the retention horizon.

    Rows still in the live tier are served straight from it (non-gap-
    filled, literal range filter → pushdown). The sub-horizon part comes
    from `agg.value_history_<tier>`: the coarse-bucket partitions
    overlapping the range are pruned by the `cb` partition string
    (fixed-width yyyyMMdd — string order == date order, so a literal
    range prunes exactly), unpacked bit-exactly (GZ1 offsets + GZ3 XOR
    floats), then row-filtered to [lo, hi). The two sets are disjoint by
    construction (expire archives exactly what it drops); the
    crash-window overlap (archive written, drop not reached) is closed
    with a dropDuplicates on the key — both copies are bit-identical.
    Output: (source, bucket_start, value)."""
    lo_t, hi_t = _parse_ts(lo), _parse_ts(hi)
    if not lo_t < hi_t:
        raise ValueError(f"read_values needs lo < hi, got [{lo_t}, {hi_t})")
    coarser = COARSER.get(tier)
    lo_lit, hi_lit = F.lit(lo_t).cast("timestamp"), F.lit(hi_t).cast("timestamp")
    in_range = (F.col("bucket_start") >= lo_lit) & (F.col("bucket_start") < hi_lit)

    pieces: list[DataFrame] = []
    if wh.exists(f"agg.tier_{tier}"):
        pieces.append(
            wh.read(spark, f"agg.tier_{tier}")
            .where(~F.col("gap_filled") & in_range)
            .select("source", "bucket_start", "value")
        )
    hist_tbl = f"agg.value_history_{tier}"
    if coarser is not None and wh.exists(hist_tbl):
        from drought_t_spark.operators.value_history import unpack_value_history

        # coarse bucket holding lo: floor to the coarser boundary so the
        # partition range covers fine rows late inside that bucket
        c_lo = _FLOOR[coarser](lo_t)
        hist = wh.read(spark, hist_tbl).where(
            (F.col("cb") >= F.lit(c_lo.strftime("%Y%m%d")))
            & (F.col("cb") <= F.lit(hi_t.strftime("%Y%m%d")))
        )
        pieces.append(unpack_value_history(hist).where(in_range))
    if not pieces:
        raise ValueError(f"no live tier or value-history archive for {tier!r}")
    out = reduce(DataFrame.unionByName, pieces)
    # full-row distinct, NOT dropDuplicates(["source","bucket_start"]):
    # the crash-window duplicates are bit-identical whole rows (GZ3 is
    # exact), so distinct() is equivalent — and a subset-dropDuplicates
    # (first() aggregate) over this Generate plan trips a Spark 4.1
    # binding bug ([INTERNAL_ERROR_ATTRIBUTE_NOT_FOUND]) the moment a
    # downstream exceptAll/aggregate reshapes it
    return out.distinct()


def route_slices(lo_t, hi_t) -> list[tuple[str, object, object]]:
    """Tier routing for [lo, hi): coarsest tier that fully covers each
    sub-range — month for whole months, day for whole days at the
    edges, hour for the ragged hourly tails. Returns ordered DISJOINT
    (tier, a, b) slices partitioning [lo, hi); boundaries are computed
    on the driver so every tier scan downstream gets a LITERAL range
    filter (pushdown + partition pruning). Shared by `read_series` and
    `read_payloads` — one routing, two payloads."""
    from datetime import timedelta

    def _ceil_day(t):
        d = _floor_day(t)
        return d if d == t else d + timedelta(days=1)

    def _ceil_month(t):
        f = _floor_month(t)
        if f == t:
            return f
        return f.replace(year=f.year + (f.month == 12), month=f.month % 12 + 1)

    d_lo, d_hi = min(_ceil_day(lo_t), hi_t), max(_floor_day(hi_t), lo_t)
    m_lo, m_hi = _ceil_month(d_lo), _floor_month(d_hi)
    use_month = m_lo < m_hi
    if not d_lo < d_hi:
        return [("hour", lo_t, hi_t)]
    out = [("hour", lo_t, d_lo)]
    if use_month:
        out += [("day", d_lo, m_lo), ("month", m_lo, m_hi), ("day", m_hi, d_hi)]
    else:
        out.append(("day", d_lo, d_hi))
    out.append(("hour", d_hi, hi_t))
    return [(t, a, b) for (t, a, b) in out if a < b]


def read_series(spark: SparkSession, wh: Warehouse, lo, hi) -> DataFrame:
    """Continuous-aggregate read of [lo, hi): month tier for whole
    months, day tier for whole days at the edges, hour tier for the
    ragged hourly tails. Slices are disjoint and bucket-aligned, so the
    additive columns `n_seq` and `n_tok_sum` sum to exactly the raw
    total. Output: (source, tier, bucket_start, n_seq, n_tok_sum)."""
    lo_t, hi_t = _parse_ts(lo), _parse_ts(hi)
    if not lo_t < hi_t:
        raise ValueError(f"read_series needs lo < hi, got [{lo_t}, {hi_t})")
    pieces: list[DataFrame] = []
    for tier, a, b in route_slices(lo_t, hi_t):
        t = wh.read(spark, f"agg.tier_{tier}").where(
            (F.col("bucket_start") >= F.lit(a)) & (F.col("bucket_start") < F.lit(b))
        )
        pieces.append(
            t.select("source", F.lit(tier).alias("tier"), "bucket_start",
                     "n_seq", "n_tok_sum")
        )
    return reduce(DataFrame.unionByName, pieces)


def read_payloads(
    spark: SparkSession,
    wh: Warehouse,
    lo,
    hi,
    decode: bool = True,
) -> DataFrame:
    """Tier-routed TOKEN read of [lo, hi): the payload twin of
    `read_series`, closing the retention read story — a user
    reconstructing token streams across the retention horizon no longer
    hand-picks payload tiers.

    Routing is `route_slices` verbatim: month payloads for whole
    months, day payloads for whole days at the edges, hour payloads for
    the hourly tails. Each slice is a literal range filter on its
    `agg.payload_<tier>` table (pushdown + pruning); tokens inside a
    bucket are one concatenated stream in (fine bucket, seq) order, and
    the tier invariant (cascade = decode→concat→re-encode, pinned
    bit-exact by test_rollup_tiers) makes concatenating the returned
    rows in (source, bucket_start, chunk_id) order IDENTICAL to
    concatenating the fine tier over the same range.

    After `expire_payload_tier` drops sub-horizon fine payloads the
    routed read keeps working unchanged: sub-horizon spans route to the
    surviving coarse tables by construction (the expiry cutoff must be
    coarse-aligned, so an expired span is always whole coarse buckets).
    `lo`/`hi` must be hour-aligned — tokens are not addressable below
    the finest bucket.

    Output: (source, tier, bucket_start, chunk_id, n_tokens, tokens) —
    `tokens` decoded array<int> when `decode=True` (TSZ1/TSZZ
    auto-detected per payload), else the raw binary payload column."""
    lo_t, hi_t = _parse_ts(lo), _parse_ts(hi)
    if not lo_t < hi_t:
        raise ValueError(f"read_payloads needs lo < hi, got [{lo_t}, {hi_t})")
    if lo_t.minute or lo_t.second or lo_t.microsecond or (
        hi_t.minute or hi_t.second or hi_t.microsecond
    ):
        raise ValueError(
            f"read_payloads boundaries must be hour-aligned, got [{lo_t}, {hi_t})"
        )
    pieces: list[DataFrame] = []
    for tier, a, b in route_slices(lo_t, hi_t):
        tbl = f"agg.payload_{tier}"
        if not wh.exists(tbl):
            raise ValueError(
                f"read_payloads: slice [{a}, {b}) routes to {tbl} which does "
                f"not exist in this warehouse — run the rollup job with "
                f"payloads (the cascade writes day/month payload tiers)"
            )
        t = wh.read(spark, tbl).where(
            (F.col("bucket_start") >= F.lit(a)) & (F.col("bucket_start") < F.lit(b))
        )
        pieces.append(
            t.select("source", F.lit(tier).alias("tier"), "bucket_start",
                     "chunk_id", F.col("payload_n_tokens").alias("n_tokens"),
                     "payload")
        )
    out = reduce(DataFrame.unionByName, pieces)
    if not decode:
        return out
    from drought_t_spark.codec.udfs import decode_tokens_udf

    return out.select(
        "source", "tier", "bucket_start", "chunk_id", "n_tokens",
        decode_tokens_udf("payload").alias("tokens"),
    )
