"""Streaming TOKEN-PAYLOAD ingest (SURVEY.md §2.11, payload twin of
`rollup_stream`): micro-batches of pre-tokenized sequences land as raw
per-batch partials; a seal step folds them into a per-source raw tail;
an event-time-gated pack step encodes COMPLETE hour buckets into the
committed `agg.payload_hour` tier with the exact batch kernel
(`pack_payloads` — TSZ1 mapInArrow), so streamed packing is
bit-identical to batch packing of the same rows.

Why three stages instead of packing inside the batch sink: a bucket's
payload is its member tokens in seq order, which is NOT mergeable —
two partial payloads of one bucket cannot be combined without decode +
re-sort + re-encode. Packing therefore waits until a bucket is
COMPLETE (its end is behind the pack cutoff: by default the tail's
latest event time less two hours), at which point all of its rows
sit in the tail and one deterministic batch pack emits the final
payload. Until then the live view serves the raw tail exactly.

Ingest and seal are the stats ingest's own exactly-once protocol, not
a copy of it: the partials land through `rollup_stream.start_batch_ingest`,
the seal is a `rollup_stream.fold_batches` call (ledger-before-drop;
replayed micro-batch partitions are recognized by
`<stream-id>-<batch_id>` and dropped without re-folding), and the live
view reads the un-sealed partials through `rollup_stream.live_batches`.

Crash window of the pack (parquet shim; on Iceberg the pair is one
transaction):
  * pack: tier-write → tail-rewrite. A crash between the two leaves
    packed rows in the tail; the next pack classifies them as
    already-packed (their bucket is in the tier), drops them from the
    tail and leaves the tier untouched — convergent and exact, though
    the late-drop metric counts them once.

Genuinely LATE rows (bucket already packed) are dropped at pack time
with a metric; the idempotent batch re-pack over the committed t0
table reconciles them. (The stats ingest has no such drop: its
partials are mergeable, so a late row is counted exactly.)
"""

from __future__ import annotations

import datetime as _dt
from functools import reduce

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from drought_t_spark.schemas import STREAM_RAW
from drought_t_spark.streaming.rollup_stream import (
    _read_sequence_stream,
    fold_batches,
    live_batches,
    start_batch_ingest,
)

PAYLOAD_PARTIALS_TBL = "agg.stream_payload_partials"  # raw rows / batch_key
PAYLOAD_TAIL_TBL = "agg.stream_payload_tail"  # sealed raw rows / source

_RAW_COLS = STREAM_RAW.names  # the tail's columns
_SEAL_JOB, _SEAL_SCOPE = "stream-payload-seal", "payload_seal"
_PACK_JOB = "stream-payload-pack"
_WATERMARK_HOURS = 2  # the default pack cutoff's lag behind the tail's event time


def start_payload_ingest(spark: SparkSession, path: str, wh, checkpoint_dir: str,
                         files_per_trigger: int = 1):
    """Each micro-batch's raw rows (with derived event time) land in
    `agg.stream_payload_partials` through the shared batch sink
    (`rollup_stream.start_batch_ingest`)."""
    return start_batch_ingest(_read_sequence_stream(spark, path, files_per_trigger),
                              wh, checkpoint_dir, PAYLOAD_PARTIALS_TBL,
                              lambda batch: batch.select(*_RAW_COLS))


def seal_payload_partials(spark: SparkSession, wh) -> int:
    """Fold raw batch partitions into the per-source tail
    (`rollup_stream.fold_batches`, ledger scope `payload_seal`, under the
    job id `read_stream_tokens` reads). Only source partitions present
    in the partials are rewritten; the commit's `rows_out` is the tail
    rows written for them. Returns the number of batch partitions
    folded."""

    def fold(partials: DataFrame):
        u = partials.select(*_RAW_COLS)
        if wh.exists(PAYLOAD_TAIL_TBL):
            affected = partials.select("source").distinct()
            u = u.unionByName(
                wh.read(spark, PAYLOAD_TAIL_TBL)
                .join(F.broadcast(affected), ["source"], "left_semi")
            )
        # raw rows only — no aggregation, payloads are packed later once
        # their bucket is complete. Every affected source has partial
        # rows, so dynamic overwrite replaces exactly the partitions it
        # reads
        return wh.write_partitioned(
            u, PAYLOAD_TAIL_TBL, ["source"], key_cols=["source", "seq"]
        )

    return fold_batches(spark, wh, PAYLOAD_PARTIALS_TBL, _SEAL_JOB, _SEAL_SCOPE, fold)


def _default_cutoff(spark: SparkSession, wh):
    """max event time in the tail, minus the watermark, floored to the
    hour — the streaming-side stand-in for the query watermark (the
    tail is the post-seal analog of the stream's unexpired state)."""
    hi = wh.read(spark, PAYLOAD_TAIL_TBL).agg(F.max("ts")).first()[0]
    if hi is None:
        return None
    return (hi - _dt.timedelta(hours=_WATERMARK_HOURS)).replace(
        minute=0, second=0, microsecond=0
    )


def pack_complete_buckets(spark: SparkSession, wh, cutoff=None) -> int:
    """Encode every COMPLETE hour bucket (bucket_start < `cutoff`) from
    the tail into `agg.payload_hour` and shrink the tail to the
    incomplete remainder.

    The pack is the batch kernel verbatim (`pack_payloads` over exactly
    the complete rows), so the streamed tier is bit-identical to batch
    packing of the same input — pinned by test_streaming_payload.
    Already-packed buckets reappearing in the tail (genuine late rows,
    or the pack-crash window described in the module docstring) are
    dropped with a `late_rows_dropped` metric, never re-packed: the
    committed payload is immutable from streaming's point of view, and
    the idempotent batch re-pack reconciles genuine late data.

    Only source partitions with complete rows are rewritten in either
    table, each by one in-place overwrite that reads the partitions it
    replaces: the tier write always produces every affected source (its
    new payloads or its pass-through rows), and the tail shrink goes
    through `Warehouse.overwrite_partitions`, which drops a source whose
    tail empties. Returns the number of (source, bucket) payload rows
    committed."""
    from drought_t_spark.operators.rollup import pack_payloads
    from drought_t_spark.ops import checkpoints as CP

    if not wh.exists(PAYLOAD_TAIL_TBL):
        return 0
    if cutoff is None:
        cutoff = _default_cutoff(spark, wh)
    if cutoff is None:
        return 0
    tail = wh.read(spark, PAYLOAD_TAIL_TBL)
    bucket = F.date_trunc("hour", F.col("ts"))
    complete = tail.where(bucket < F.lit(cutoff))
    affected = sorted(
        r.source for r in complete.select("source").distinct().collect()
    )
    if not affected:
        return 0
    in_affected = F.col("source").isin(affected)

    late_dropped = 0
    fresh = complete
    if wh.exists("agg.payload_hour"):
        packed_keys = (
            wh.read(spark, "agg.payload_hour")
            .where(in_affected & (F.col("bucket_start") < F.lit(cutoff)))
            .select("source", "bucket_start").distinct()
        )
        keyed = complete.withColumn("bucket_start", bucket)
        late_dropped = keyed.join(
            packed_keys, ["source", "bucket_start"], "left_semi"
        ).count()
        if late_dropped:
            fresh = keyed.join(
                packed_keys, ["source", "bucket_start"], "left_anti"
            ).drop("bucket_start")

    # the new payloads are counted in flight, so the shuffle+sort+encode
    # runs once, inside the tier write
    pay_obs = Observation()
    out = pack_payloads(fresh.select(*_RAW_COLS), "hour").observe(
        pay_obs, F.count(F.lit(1)).alias("n")
    )
    if wh.exists("agg.payload_hour"):
        # pass-through rows of the affected sources: fresh ∩ packed = ∅
        # by the late split above, so a plain union is duplicate-free
        out = out.unionByName(wh.read(spark, "agg.payload_hour").where(in_affected))
    _, token = wh.write_partitioned(
        out, "agg.payload_hour", ["source"],
        key_cols=["source", "bucket_start", "chunk_id"],
    )
    n_new = pay_obs.get["n"]

    # shrink the tail: rewrite affected sources to their incomplete
    # remainder (a source whose tail empties is dropped)
    wh.overwrite_partitions(
        tail.where(in_affected & (bucket >= F.lit(cutoff))),
        PAYLOAD_TAIL_TBL, "source", affected,
    )

    CP.record_commit(
        wh, _PACK_JOB, "payload_pack", [f"cutoff:{cutoff.isoformat()}"],
        snapshot_id=token,
        rows_in=n_new + late_dropped, rows_out=n_new,
        metrics={
            "late_rows_dropped": float(late_dropped),
            "sources_rewritten": float(len(affected)),
        },
    )
    return n_new


def read_stream_tokens(spark: SparkSession, wh) -> DataFrame:
    """The live exact token view: committed packed buckets (decoded,
    chunks concatenated in chunk_id order) ⊎ the raw in-flight rows
    (tail + un-sealed partials, concatenated in seq order per bucket).
    Raw rows whose bucket is already packed are EXCLUDED — they are
    either the pack-crash window's duplicates or late rows the next
    pack drops, so the view always shows the post-reconciliation state.

    The raw side's per-bucket collect_list is bounded by the watermark
    window (the tail holds at most the last few hours per source), not
    by history — the packed side stays columnar until decode.

    Output: (source, bucket_start, state 'packed'|'raw', n_tokens,
    tokens array<int>)."""
    from drought_t_spark.codec.udfs import decode_tokens_udf

    pieces: list[DataFrame] = []
    packed_keys = None
    if wh.exists("agg.payload_hour"):
        pay = wh.read(spark, "agg.payload_hour")
        packed_keys = pay.select("source", "bucket_start").distinct()
        pieces.append(_bucket_tokens(pay.select(
            "source", "bucket_start", "chunk_id", decode_tokens_udf("payload").alias("tokens"),
        ), "chunk_id", "packed"))

    raw = None
    if wh.exists(PAYLOAD_TAIL_TBL):
        raw = wh.read(spark, PAYLOAD_TAIL_TBL)
    unsealed = live_batches(spark, wh, PAYLOAD_PARTIALS_TBL, _SEAL_JOB, _SEAL_SCOPE)
    if unsealed is not None:
        unsealed = unsealed.select(*_RAW_COLS)
        raw = unsealed if raw is None else raw.unionByName(unsealed)
    if raw is not None:
        r = raw.withColumn("bucket_start", F.date_trunc("hour", "ts"))
        if packed_keys is not None:
            r = r.join(packed_keys, ["source", "bucket_start"], "left_anti")
        pieces.append(_bucket_tokens(r, "seq", "raw"))

    if not pieces:
        raise ValueError("no streamed payload data ingested yet")
    return reduce(DataFrame.unionByName, pieces)


def _bucket_tokens(rows: DataFrame, order: str, state: str) -> DataFrame:
    """One `state` row per (source, bucket_start) of `rows`: their
    `tokens` concatenated in `order` and counted."""
    tokens = F.flatten(F.transform(
        F.array_sort(F.collect_list(F.struct(order, "tokens"))), lambda s: s.tokens))
    return rows.groupBy("source", "bucket_start").agg(tokens.alias("tokens")).select(
        "source", "bucket_start", F.lit(state).alias("state"),
        F.size("tokens").cast("long").alias("n_tokens"), "tokens",
    )
