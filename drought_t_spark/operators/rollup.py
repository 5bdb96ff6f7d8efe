"""Rollup operators AG1/AG2/AG8 + GZ1 payload packing (SURVEY.md §2.4).

Scale posture (§4): stats rollups are algebraic (count/sum/min/max), so
Spark's partial+final hash aggregation already combines map-side — one
shuffle keyed by (source, bucket), and a hot source's rows collapse to
one partial per (map task, bucket) before the shuffle. Tier cascading
(day←hour, month←day) re-aggregates integer partials — never re-reads
raw — and is bit-exact because the equality-bearing stats are integers.

CRITICAL pruning invariant: stats-only rollups must never touch the
`tokens` array column (it dominates I/O); only payload packing reads it.
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import from_arrow_schema

from drought_t_spark.functions.scalars import seq_index, seq_timestamp

_FINER = {"day": "hour", "month": "day"}


def with_event_time(seqs: DataFrame) -> DataFrame:
    """T0 -> T1: attach derived event time (deterministic, pure)."""
    return seqs.withColumn("seq", seq_index()).withColumn("ts", seq_timestamp())


def _stats_agg():
    return [
        F.count("*").alias("n_seq"),
        F.sum("n_tok").cast("long").alias("n_tok_sum"),
        F.min("n_tok").cast("int").alias("n_tok_min"),
        F.max("n_tok").cast("int").alias("n_tok_max"),
    ]


def _merge_stats():
    """Merge of `_stats_agg` partials (sums of sums, min of mins): the
    one partial merge of the tier cascade and the stream's live view and
    compaction."""
    return [
        F.sum("n_seq").alias("n_seq"),
        F.sum("n_tok_sum").alias("n_tok_sum"),
        F.min("n_tok_min").alias("n_tok_min"),
        F.max("n_tok_max").alias("n_tok_max"),
    ]


def _finish(df: DataFrame) -> DataFrame:
    """Derive float stats from integer provenance (no drift across N/4N)."""
    return (
        df.withColumn("n_tok_avg", F.col("n_tok_sum") / F.col("n_seq"))
        .withColumn("value", F.col("n_tok_avg"))
        .withColumn("gap_filled", F.lit(False))
    )


def rollup_hour(seqs_t1: DataFrame) -> DataFrame:
    """AG1 — hourly stats rollup from T1. Never reads `tokens`."""
    base = seqs_t1.select(
        "source", F.date_trunc("hour", "ts").alias("bucket_start"), "n_tok"
    )
    return _finish(base.groupBy("source", "bucket_start").agg(*_stats_agg()))


def cascade(tier_df: DataFrame, to_tier: str) -> DataFrame:
    """AG2 — coarser tier from finer-tier partials (sums of sums,
    min of mins); integer stats make this bit-exact."""
    assert to_tier in _FINER, to_tier
    out = (
        tier_df.where(~F.col("gap_filled"))
        .groupBy("source", F.date_trunc(to_tier, "bucket_start").alias("bucket_start"))
        .agg(*_merge_stats())
    )
    return _finish(out)


# ------------------------------------------------------------ payload --


#: payload_codec column value
_CODEC = "TSZ1"

#: the encode kernel's output; `bucket_start` crosses as epoch seconds
_ENCODE_SCHEMA = pa.schema([
    ("source", pa.string()), ("bs_epoch", pa.int64()), ("chunk_id", pa.int32()),
    ("payload", pa.binary()), ("payload_n_tokens", pa.int64()),
])
_PAYLOAD_SCHEMA = pa.schema([
    ("source", pa.string()), ("bucket_start", pa.timestamp("us", tz="UTC")),
    ("chunk_id", pa.int32()), ("payload", pa.binary()), ("payload_n_tokens", pa.int64()),
])


def grouped_stream(batches, key_cols, emit):
    """The one group scaffold under every per-group kernel (payload
    encode and recode, value-history pack, drought method), for
    mapInArrow: the input arrives partitioned so that each group lies
    in one task and sorted by (key_cols, order cols), so group
    boundaries are the adjacent-change positions of the key columns,
    found vectorized in Arrow compute.

    `emit(rb, starts, ends)` gets a `RecordBatch` holding only complete
    groups [starts[i], ends[i]), contiguous from row 0, and returns one
    `RecordBatch` of output rows (empty ones are dropped). A group that
    may continue into the next batch is carried as zero-copy slices;
    when it ends, only its own slices are concatenated (once, however
    many batches it spans) and emitted alone — concatenating the carry
    with the whole next batch cost ~4% of the encode kernel, and
    re-concatenating it per batch took 5.4 s for one 10^6-row group in
    2048-row batches. This scaffold (vs groupBy().applyInPandas, ~5
    ms/group fixed: one Arrow record batch + two pandas frames per
    group) is the difference measured at 166 s task time vs 15 s CPU
    on the payload stage — see BENCH/BASELINE.md §4."""
    import numpy as np
    import pyarrow.compute as pc

    carry = []  # slices of the one group that may continue

    def emitted(rb, ends):
        out = emit(rb.slice(0, ends[-1]), np.append(0, ends[:-1]), ends)
        if out.num_rows:
            yield out

    def flush():
        rb = carry[0] if len(carry) == 1 else (
            pa.Table.from_batches(carry).combine_chunks().to_batches()[0])
        carry.clear()
        return emitted(rb, np.array([rb.num_rows]))

    for rb in batches:
        n = rb.num_rows
        if n == 0:
            continue
        chg = np.zeros(n - 1, bool)
        for c in key_cols:
            a = rb.column(c)
            chg |= pc.not_equal(a.slice(1), a.slice(0, n - 1)).to_numpy(zero_copy_only=False)
        ends = np.append(np.flatnonzero(chg) + 1, n)
        if carry:
            if all(rb.column(c)[0] == carry[0].column(c)[0] for c in key_cols):
                carry.append(rb.slice(0, ends[0]))  # the carried group goes on
                if len(ends) == 1:
                    continue
                rb, ends = rb.slice(ends[0]), ends[1:] - ends[0]
            yield from flush()
        # the last group may continue in the next batch — carry it
        carry.append(rb.slice(ends[-2] if len(ends) > 1 else 0))
        if len(ends) > 1:
            yield from emitted(rb, ends[:-1])
    if carry:
        yield from flush()


def _encode_arrow_stream(batches):
    """mapInArrow kernel: concat+encode each (source, bs_epoch) group's
    tokens, ordered by seq (the sort key), as chunk 0.

    Arrow, not pandas: the hot input column is `tokens` (list<int32>),
    and Arrow's list layout is ONE contiguous values buffer + offsets —
    a group's flattened token stream is `values[offs[s]:offs[e]]`, a
    single zero-copy slice (`offsets` of a sliced batch already count
    from the slice's start in the unsliced `values`). The pandas route
    materializes every row as its own numpy object then re-concatenates
    per group; measured at sf0.1 that conversion alone cost ~0.9 s of a
    2.3 s stage — more than the codec itself."""
    import numpy as np

    from drought_t_spark.codec import tsz1

    def emit(rb, starts, ends):
        tl = rb.column("tokens")
        offs = tl.offsets.to_numpy()
        vals = tl.values.to_numpy(zero_copy_only=False)
        pays = [tsz1.encode_tokens(vals[s:e].astype(np.int32, copy=False))
                for s, e in zip(offs[starts], offs[ends])]
        return pa.RecordBatch.from_arrays([
            rb.column("source").take(starts),
            rb.column("bs_epoch").take(starts),
            pa.array(np.zeros(len(starts), np.int32)),
            pa.array(pays, pa.binary()),
            pa.array(np.add.reduceat(rb.column("n_tok").to_numpy(), starts, dtype=np.int64)),
        ], schema=_ENCODE_SCHEMA)

    yield from grouped_stream(batches, ["source", "bs_epoch"], emit)


def pack_payloads(seqs_t1: DataFrame, tier: str, pre_partitioned: bool = False) -> DataFrame:
    """AG8+GZ1 — one TSZ1 token payload per (source, bucket).

    ``pre_partitioned=True`` skips the repartition: the caller asserts
    every input partition contains ALL rows of each ``source`` it holds
    (true for a bucketed-by-source scan via ``sources.bucketed.
    read_bucketed``, where one task reads one whole bucket) — the
    engine's biggest shuffle vanishes from the plan and only the
    within-partition sort + Arrow kernel remain. A violated assertion
    splits a group across partitions and yields duplicate
    (source, bucket) rows, which the bit-identity test in
    tests/test_bucketed.py would catch — do not set it for inputs with
    unknown partitioning.

    Tokens of member sequences are ordered by seq (== ts order), then
    flattened and encoded as one payload. Its `chunk_id` is 0: the
    payload tables keep the column, and readers order by it, but the
    engine writes one chunk per bucket, so a group's token count is
    bounded by the bucket's span (SURVEY.md §4).

    Shape: repartition by (source, day bucket) + sortWithinPartitions +
    mapInArrow — ONE plain row shuffle, whole-partition Arrow streams,
    group boundaries found vectorized in NumPy, and each group's token
    stream taken as a single zero-copy slice of the Arrow list-values
    buffer (see `_encode_arrow_stream`; the pandas kernel's per-row
    object materialization cost more than the codec).
    The shuffle key is (source, day) rather than the group key (source,
    bucket). The group key scatters each source's hours over
    every task, so every task wrote a file into nearly every `source=`
    partition of the payload table (107 `payload_hour` files for the
    benchmark's 32 sources on 4 tasks). By (source, day) each
    source-day is one task's, and `payload_hour` gets as many files as
    `payload_day` (41). It is the grouping `cascade_payloads` already
    shuffles the day tier by, so no task holds more of one hot source
    than the day cascade's already does: the job gets no more
    skew-bound than it was. Rejected shapes, both measured on 118M
    tokens at local[8..32]:
      * collect_list→array_sort→flatten→pandas_udf: same data movement
        but builds every group as JVM object trees (ObjectHashAggregate)
        — 4-8× slower wall, ~20× kernel time from the allocation storm;
      * groupBy().applyInPandas: ~5ms/group fixed cost (one Arrow batch
        + two pandas frames per group) — 166s task time at 15s CPU.
    Output:
      (source, bucket_start, chunk_id, payload, payload_codec,
       payload_n_tokens, payload_crc32)
    """
    # bucket_start travels through the Python boundary as epoch seconds
    # (bucket starts are whole seconds) — dodges the Arrow<->Spark
    # timestamp-timezone impedance entirely; cast back after the kernel
    base = seqs_t1.select(
        "source", F.date_trunc(tier, "ts").cast("long").alias("bs_epoch"),
        "tokens", "n_tok", "seq",
    )
    # the UTC day of the bucket start is a function of the group key, so
    # every (source, bucket) group still lands whole in one task
    shuffled = base if pre_partitioned else base.repartition(
        "source", F.floor(F.col("bs_epoch") / 86400)
    )
    # Sort by (source, seq) only: ts := epoch + seq minutes (the T1
    # contract, with_event_time), so bs_epoch is nondecreasing in seq
    # within a source — (source, seq) order IS (source, bs_epoch, seq)
    # order with one comparator key fewer (the radix prefix covers
    # `source`; ties resolve on one long instead of two).
    parts = shuffled.sortWithinPartitions("source", "seq")
    pay = parts.drop("seq").mapInArrow(
        _encode_arrow_stream, from_arrow_schema(_ENCODE_SCHEMA),
    ).select(
        "source",
        F.col("bs_epoch").cast("timestamp").alias("bucket_start"),
        "chunk_id", "payload", "payload_n_tokens",
    )
    return (
        pay.withColumn("payload_codec", F.lit(_CODEC))
        .withColumn("payload_crc32", F.crc32("payload").cast("long"))
        .select(
            "source", "bucket_start", "chunk_id", "payload",
            "payload_codec", "payload_n_tokens", "payload_crc32",
        )
    )


def _recode_stream(batches):
    """mapInArrow kernel for tier cascading: decode each (source,
    coarse bucket_start) group's member payloads in (fine_bucket,
    chunk_id) order — the sort key — concat, re-encode. Same
    `grouped_stream` scaffold as `_encode_arrow_stream` (one Exchange +
    one Sort + one MapInArrow; at 10^5 sources × 365 days ≈ 37M
    day-tier groups the applyInPandas shape would burn ~50 h of
    per-group fixed cost). Decode auto-detects the TSZZ envelope, so a
    zlib-wrapped input cascades too; the output is plain TSZ1."""
    import numpy as np

    from drought_t_spark.codec import tsz1

    def emit(rb, starts, ends):
        pay = rb.column("payload").to_pylist()
        blobs = [tsz1.encode_tokens(np.concatenate(
            [tsz1.decode_tokens(pay[i]) for i in range(s, e)]))
            for s, e in zip(starts, ends)]
        return pa.RecordBatch.from_arrays([
            rb.column("source").take(starts),
            rb.column("bucket_start").take(starts),
            pa.array(np.zeros(len(starts), np.int32)),
            pa.array(blobs, pa.binary()),
            pa.array(np.add.reduceat(
                rb.column("payload_n_tokens").to_numpy(), starts, dtype=np.int64)),
        ], schema=_PAYLOAD_SCHEMA)

    yield from grouped_stream(batches, ["source", "bucket_start"], emit)


def cascade_payloads(payloads: DataFrame, to_tier: str) -> DataFrame:
    """Coarser-tier payloads by decode→concat→re-encode of finer-tier
    payloads — reads the compressed tier, never raw (the 100 TB path:
    month payloads cost one scan of day payloads, ~4× smaller). Same
    repartition + sortWithinPartitions + mapInArrow stream on the
    `grouped_stream` scaffold as pack_payloads: ONE row shuffle,
    whole-partition Arrow batches, no per-group fixed cost."""
    assert to_tier in _FINER
    regrouped = payloads.select(
        "source",
        F.date_trunc(to_tier, "bucket_start").alias("bucket_start"),
        F.col("bucket_start").alias("fine_bucket"),
        "chunk_id", "payload", "payload_n_tokens",
    )
    parts = regrouped.repartition("source", "bucket_start").sortWithinPartitions(
        "source", "bucket_start", "fine_bucket", "chunk_id"
    )
    out = parts.mapInArrow(_recode_stream, from_arrow_schema(_PAYLOAD_SCHEMA))
    return (
        out.withColumn("payload_codec", F.lit(_CODEC))
        .withColumn("payload_crc32", F.crc32("payload").cast("long"))
        .select(
            "source", "bucket_start", "chunk_id", "payload",
            "payload_codec", "payload_n_tokens", "payload_crc32",
        )
    )
