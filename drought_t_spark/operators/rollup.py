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

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from drought_t_spark.config import EngineConfig, DEFAULT
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


#: payload_codec column value (plus "+zlib" for the TSZZ envelope)
_CODEC = "TSZ1"

_PAYLOAD_SCHEMA = (
    "source string, bucket_start timestamp, chunk_id int, "
    "payload binary, payload_n_tokens long"
)


def grouped_stream(batches, key_cols, emit):
    """Shared mapInPandas scaffold for every payload kernel: the input
    arrives hash-partitioned by `key_cols` and sorted by (key_cols,
    order cols), so group boundaries are adjacent-change positions —
    found vectorized, ~0.1 ms/group. A group spanning a batch boundary
    is carried into the next batch; the trailing carry flushes at end.
    A carried group's batches are concatenated once, when it ends, so a
    group of many batches costs linear time (re-concatenating the carry
    per batch took 5.4 s for one 10^6-row group in 2048-row batches).
    `emit(pdf, starts, ends)` maps each complete group [s, e) to output
    rows. This scaffold (vs groupBy().applyInPandas, ~5 ms/group fixed:
    one Arrow record batch + two pandas frames per group) is the
    difference measured at 166 s task time vs 15 s CPU on the payload
    stage — see BENCH/BASELINE.md §4."""
    import numpy as np
    import pandas as pd

    carry = []  # batch slices of the one group that may continue

    def flush(pdf, complete_only):
        nonlocal carry
        n = len(pdf)
        chg = None
        for c in key_cols:
            a = pdf[c].to_numpy()
            m = a[1:] != a[:-1]
            chg = m if chg is None else (chg | m)
        chg = np.flatnonzero(chg)
        starts = np.concatenate([[0], chg + 1])
        ends = np.concatenate([chg + 1, [n]])
        if complete_only:
            # the last group may continue in the next batch — carry it
            carry = [pdf.iloc[starts[-1]:]]
            starts, ends = starts[:-1], ends[:-1]
        else:
            carry = []
        return emit(pdf, starts, ends)

    for pdf in batches:
        if len(pdf) == 0:
            continue
        if carry:
            if all((pdf[c].to_numpy() == carry[0][c].iat[0]).all() for c in key_cols):
                carry.append(pdf)  # the carried group goes on through this batch
                continue
            pdf = pd.concat(carry + [pdf], ignore_index=True)
        out = flush(pdf, complete_only=True)
        if len(out):
            yield out
    if carry:
        yield flush(pd.concat(carry, ignore_index=True), complete_only=False)


def _encode_arrow_stream(batches, wrap_zlib: bool = False):
    """mapInArrow kernel: concat+encode each (source, bs_epoch,
    chunk_id) group's tokens, ordered by seq (the sort key).

    Arrow, not pandas: the hot input column is `tokens` (list<int32>),
    and Arrow's list layout is ONE contiguous values buffer + offsets —
    a group's flattened token stream is `values[offs[s]:offs[e]]`, a
    single zero-copy slice. The pandas route materializes every row as
    its own numpy object then re-concatenates per group; measured at
    sf0.1 that conversion alone cost ~0.9 s of a 2.3 s stage — more
    than the codec itself. Group boundaries are adjacent-change
    positions on the sorted keys (vectorized); a group spanning a batch
    boundary is carried into the next batch, the trailing carry flushes
    at end (same contract as `grouped_stream`)."""
    import numpy as np
    import pyarrow as pa

    from drought_t_spark.codec import tsz1

    if wrap_zlib:
        enc = lambda a: tsz1.wrap_zlib(tsz1.encode_tokens(a))  # noqa: E731
    else:
        enc = tsz1.encode_tokens

    carry = None  # (src, bs, chk, ntok, flat, offs) with offs[0] == 0

    def split(src, bs, chk):
        n = len(src)
        m = (src[1:] != src[:-1]) | (bs[1:] != bs[:-1]) | (chk[1:] != chk[:-1])
        chg = np.flatnonzero(m)
        return np.concatenate([[0], chg + 1]), np.concatenate([chg + 1, [n]])

    def emit(src, bs, chk, ntok, flat, offs, starts, ends):
        pays = [
            enc(flat[offs[s]:offs[e]].astype(np.int32, copy=False))
            for s, e in zip(starts, ends)
        ]
        nn = [int(ntok[s:e].sum()) for s, e in zip(starts, ends)]
        return pa.RecordBatch.from_arrays(
            [
                pa.array(src[starts].tolist(), type=pa.string()),
                pa.array(bs[starts], type=pa.int64()),
                pa.array(chk[starts].astype("int32"), type=pa.int32()),
                pa.array(pays, type=pa.binary()),
                pa.array(nn, type=pa.int64()),
            ],
            names=["source", "bs_epoch", "chunk_id", "payload", "payload_n_tokens"],
        )

    for rb in batches:
        if rb.num_rows == 0:
            continue
        src = rb.column(0).to_numpy(zero_copy_only=False)
        bs = rb.column(1).to_numpy()
        chk = rb.column(2).to_numpy()
        tl = rb.column(3)
        ntok = rb.column(4).to_numpy()
        offs_raw = tl.offsets.to_numpy()  # n+1 offsets into the values buffer
        vals = tl.values.to_numpy(zero_copy_only=False)
        offs = (offs_raw - offs_raw[0]).astype(np.int64)
        flat = vals[offs_raw[0]:offs_raw[-1]]
        if carry is not None:
            csrc, cbs, cchk, cntok, cflat, coffs = carry
            src = np.concatenate([csrc, src])
            bs = np.concatenate([cbs, bs])
            chk = np.concatenate([cchk, chk])
            ntok = np.concatenate([cntok, ntok])
            offs = np.concatenate([coffs, offs[1:] + coffs[-1]])
            flat = np.concatenate([cflat, flat])
        starts, ends = split(src, bs, chk)
        s_last = starts[-1]
        carry = (
            src[s_last:], bs[s_last:], chk[s_last:], ntok[s_last:],
            flat[offs[s_last]:].copy(), (offs[s_last:] - offs[s_last]).copy(),
        )
        starts, ends = starts[:-1], ends[:-1]
        if len(starts):
            yield emit(src, bs, chk, ntok, flat, offs, starts, ends)
    if carry is not None and len(carry[0]):
        src, bs, chk, ntok, flat, offs = carry
        starts, ends = split(src, bs, chk)
        yield emit(src, bs, chk, ntok, flat, offs, starts, ends)


def pack_payloads(
    seqs_t1: DataFrame,
    tier: str,
    cfg: EngineConfig = DEFAULT,
    chunk_minutes: int | None = None,
    pre_partitioned: bool = False,
) -> DataFrame:
    """AG8+GZ1 — per-(source, bucket[, chunk]) TSZ1 token payload.

    ``pre_partitioned=True`` skips the repartition: the caller asserts
    every input partition contains ALL rows of each ``source`` it holds
    (true for a bucketed-by-source scan via ``sources.bucketed.
    read_bucketed``, where one task reads one whole bucket) — the
    engine's biggest shuffle vanishes from the plan and only the
    within-partition sort + Arrow kernel remain. A violated assertion
    splits a group across partitions and yields duplicate
    (source, bucket, chunk) rows, which the bit-identity test in
    tests/test_bucketed.py would catch — do not set it for inputs with
    unknown partitioning.

    Tokens of member sequences are ordered by seq (== ts order), then
    flattened and encoded. Oversize buckets are split into fixed
    chunk_minutes chunks (chunk_id ascending reconstructs the bucket) so
    a single group's token count is bounded by one chunk's span — the
    spill-safety bound from SURVEY.md §4.

    Shape: repartition by (source, day bucket) + sortWithinPartitions +
    mapInArrow — ONE plain row shuffle, whole-partition Arrow streams,
    group boundaries found vectorized in NumPy, and each group's token
    stream taken as a single zero-copy slice of the Arrow list-values
    buffer (see `_encode_arrow_stream`; the pandas kernel's per-row
    object materialization cost more than the codec).
    The shuffle key is (source, day) rather than the group key (source,
    bucket, chunk). The group key scatters each source's hours over
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
    if chunk_minutes is None:
        chunk_minutes = {"hour": 60, "day": 1440, "month": 44640}[tier]
    bucket = F.date_trunc(tier, "ts").alias("bucket_start")
    chunk = (
        F.floor(
            (F.col("ts").cast("long") - F.col("bucket_start").cast("long")) / (60 * chunk_minutes)
        )
        .cast("int")
        .alias("chunk_id")
    )
    # bucket_start travels through the Python boundary as epoch seconds
    # (bucket starts are whole seconds) — dodges the Arrow<->Spark
    # timestamp-timezone impedance entirely; cast back after the kernel
    base = (
        seqs_t1.select("source", bucket, "ts", "seq", "tokens", "n_tok")
        .withColumn("chunk_id", chunk)
        .select(
            # positional contract with _encode_arrow_stream: it reads
            # rb.column(0..4) in exactly this order
            "source",
            F.col("bucket_start").cast("long").alias("bs_epoch"),
            "chunk_id", "tokens", "n_tok", "seq",
        )
    )
    # the UTC day of the bucket start is a function of the group key, so
    # every (source, bucket, chunk) group still lands whole in one task
    shuffled = base if pre_partitioned else base.repartition(
        "source", F.floor(F.col("bs_epoch") / 86400)
    )
    # Sort by (source, seq) only: ts := epoch + seq minutes (the T1
    # contract, with_event_time), so bs_epoch and chunk_id are
    # nondecreasing in seq within a source — (source, seq) order IS
    # (source, bs_epoch, chunk_id, seq) order with half the comparator
    # key walk (the radix prefix covers `source`; ties resolve on one
    # long instead of long+int+long).
    parts = shuffled.sortWithinPartitions("source", "seq")
    wrap = bool(cfg.payload_zlib)
    pay = parts.drop("seq").mapInArrow(
        lambda batches: _encode_arrow_stream(batches, wrap_zlib=wrap),
        "source string, bs_epoch long, chunk_id int, "
        "payload binary, payload_n_tokens long",
    ).select(
        "source",
        F.col("bs_epoch").cast("timestamp").alias("bucket_start"),
        "chunk_id", "payload", "payload_n_tokens",
    )
    codec_name = _CODEC + ("+zlib" if wrap else "")
    return (
        pay.withColumn("payload_codec", F.lit(codec_name))
        .withColumn("payload_crc32", F.crc32("payload").cast("long"))
        .select(
            "source", "bucket_start", "chunk_id", "payload",
            "payload_codec", "payload_n_tokens", "payload_crc32",
        )
    )


def _recode_stream(batches, wrap_zlib: bool = False):
    """mapInPandas kernel for tier cascading: decode each (source,
    coarse bucket_start) group's member payloads in (fine_bucket,
    chunk_id) order — the sort key — concat, re-encode. Same
    `grouped_stream` scaffold as `_encode_stream` (one Exchange + one
    Sort + one MapInPandas; at 10^5 sources × 365 days ≈ 37M day-tier
    groups the applyInPandas shape would burn ~50 h of per-group fixed
    cost). Decode auto-detects the TSZZ envelope, so mixed raw/zlib
    inputs cascade fine; the output envelope follows `wrap_zlib`."""
    import numpy as np
    import pandas as pd

    from drought_t_spark.codec import tsz1

    def emit(pdf, starts, ends):
        src = pdf["source"].to_numpy()
        bkt = pdf["bucket_start"].to_numpy()
        pay = pdf["payload"].to_numpy()
        ntok = pdf["payload_n_tokens"].to_numpy()
        out_src, out_bkt, out_pay, out_n = [], [], [], []
        for s, e in zip(starts, ends):
            flat = (
                np.concatenate([tsz1.decode_tokens(pay[i]) for i in range(s, e)])
                if e > s
                else np.array([], np.int32)
            )
            blob = tsz1.encode_tokens(flat)
            if wrap_zlib:
                blob = tsz1.wrap_zlib(blob)
            out_src.append(src[s])
            out_bkt.append(bkt[s])
            out_pay.append(blob)
            out_n.append(int(ntok[s:e].sum()))
        return pd.DataFrame(
            {
                "source": out_src,
                "bucket_start": pd.Series(out_bkt, dtype="datetime64[us]"),
                "chunk_id": pd.Series([0] * len(out_src), dtype="int32"),
                "payload": out_pay,
                "payload_n_tokens": pd.Series(out_n, dtype="int64"),
            }
        )

    yield from grouped_stream(batches, ["source", "bucket_start"], emit)


def cascade_payloads(payloads: DataFrame, to_tier: str, cfg: EngineConfig = DEFAULT) -> DataFrame:
    """Coarser-tier payloads by decode→concat→re-encode of finer-tier
    payloads — reads the compressed tier, never raw (the 100 TB path:
    month payloads cost one scan of day payloads, ~4× smaller). Same
    repartition + sortWithinPartitions + mapInPandas stream as
    pack_payloads: ONE row shuffle, whole-partition Arrow batches, no
    per-group fixed cost."""
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
    wrap = bool(cfg.payload_zlib)
    out = parts.mapInPandas(
        lambda batches: _recode_stream(batches, wrap_zlib=wrap), _PAYLOAD_SCHEMA
    )
    codec_name = _CODEC + ("+zlib" if wrap else "")
    return (
        out.withColumn("payload_codec", F.lit(codec_name))
        .withColumn("payload_crc32", F.crc32("payload").cast("long"))
        .select(
            "source", "bucket_start", "chunk_id", "payload",
            "payload_codec", "payload_n_tokens", "payload_crc32",
        )
    )
