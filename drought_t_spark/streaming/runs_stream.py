"""Streaming stateful run extraction (SURVEY.md §2.11, the one row the
table marked out-of-scope v1): RL1+RL2+EV1 as an incremental
`applyInPandasWithState` operator, emitting each maximal constant-
`below` run the moment the first bucket of the NEXT run arrives.

Batch remains the contract — the drought DAG (pooling PL1, exclusion
EX1) still recomputes per tier, because pooling's fixed point needs the
full event list. What streaming buys is the LIVE prefix: every run that
has already terminated is emitted with exactly the batch operator's
numbers (run_id, onset, termination, duration, severity, peak, excess),
so a monitoring consumer sees drought events as they close instead of
at the next batch recompute. Parity with `operators.runs` is pinned
bit-for-bit by tests/test_streaming_runs.py, including across
micro-batch boundaries, checkpoint restarts, and a run spanning many
micro-batches.

Semantics and scale notes:
- Input: the rolled-up, gap-filled, threshold-joined series
  (source, bucket_start, x_ma, x0) — the same frame `below_mask` takes.
  In production this is the continuous-aggregate stream joined to the
  (static, broadcast) per-cycle-position threshold table; the tests
  drive it from parquet files appended in time order.
- Ordering / late data: state keeps the max bucket seen per source and
  DROPS any row at or behind it (same late-data contract as the
  append-mode rollup stream: the idempotent batch recompute reconciles
  — SURVEY.md §2.11). Within a micro-batch rows are sorted per source.
- below(t) = x_ma < x0 strict, null -> false; deficit/excess floored at
  0 with null -> 0, matching functions.scalars.deficit (greatest
  ignores nulls).
- State per source is one fixed-width tuple (9 scalars): the open run's
  partial aggregates. Memory is O(sources), not O(history) — exactly
  the shape that survives 10^5 sources on a real cluster. The per-batch
  fold is vectorized numpy over change-point segments, not per-row
  Python.
- Output mode is append (rows are final when emitted); the trailing
  open run lives only in state until its terminating bucket arrives.
- Sizing: the state-partition count (spark.sql.shuffle.partitions at
  first start) is FROZEN into the checkpoint. Size it to steady-state
  parallelism, not burst cores: each partition pays worker-spawn +
  state-store-init on the first micro-batch (measured: the dominant
  cost of short-lived runs — BENCH/BASELINE.md §2b-ii), while warm
  micro-batches are partition-insensitive (~200k buckets/s at 32
  cores on the probe fixture).
"""

from __future__ import annotations

from typing import Iterator, Tuple

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

# Input contract: what below_mask/segment_runs consume (operators/runs.py).
RUN_STREAM_INPUT = StructType(
    [
        StructField("source", StringType()),
        StructField("bucket_start", TimestampType()),
        StructField("x_ma", DoubleType()),
        StructField("x0", DoubleType()),
    ]
)

# Output contract: extract_events' schema (operators/runs.py:extract_events)
# plus nothing — bit-parity is the point.
RUN_EVENTS_SCHEMA = StructType(
    [
        StructField("source", StringType()),
        StructField("run_id", LongType()),
        StructField("below", IntegerType()),
        StructField("onset", TimestampType()),
        StructField("termination", TimestampType()),
        StructField("duration", LongType()),
        StructField("severity", DoubleType()),
        StructField("peak", DoubleType()),
        StructField("excess", DoubleType()),
    ]
)

# State: (last_us, have_run, below, run_id, onset_us, term_us, duration,
#         severity, peak, excess) — timestamps as int64 epoch-micros
# (primitive state columns restart-checkpoint cleanly; no nested types).
RUN_STATE_SCHEMA = StructType(
    [
        StructField("last_us", LongType()),
        StructField("have_run", IntegerType()),
        StructField("below", IntegerType()),
        StructField("run_id", LongType()),
        StructField("onset_us", LongType()),
        StructField("term_us", LongType()),
        StructField("duration", LongType()),
        StructField("severity", DoubleType()),
        StructField("peak", DoubleType()),
        StructField("excess", DoubleType()),
    ]
)

_US = "datetime64[us]"


def _fold_runs(
    key: Tuple[str], pdf_iter: Iterator[pd.DataFrame], state
) -> Iterator[pd.DataFrame]:
    """Per-source fold: segment each micro-batch on below-change points
    (vectorized), extend or close the open run carried in state, emit
    closed runs. Matches operators/runs.py segment_runs+extract_events."""
    (source,) = key
    if state.exists:
        (last_us, have_run, below, run_id, onset_us, term_us,
         duration, severity, peak, excess) = state.get
    else:
        last_us, have_run = -(1 << 62), 0
        below, run_id, onset_us, term_us = 0, 0, 0, 0
        duration, severity, peak, excess = 0, 0.0, 0.0, 0.0

    # Materialize the group's micro-batch chunks before sorting: Spark
    # chunks a large group into multiple Arrow batches with NO ordering
    # guarantee between chunks, so sorting each chunk against the
    # high-water mark independently would mis-drop in-order rows that
    # arrive in a later chunk. Memory is bounded by one group's rows in
    # one micro-batch (size the trigger accordingly), the same bound the
    # state fold itself implies.
    chunks = [pdf for pdf in pdf_iter if not pdf.empty]
    rows: list[tuple] = []
    for pdf in ([pd.concat(chunks, ignore_index=True)] if chunks else []):
        pdf = pdf.sort_values("bucket_start", kind="mergesort")
        ts = pdf["bucket_start"].to_numpy().astype(_US).astype(np.int64)
        fresh = ts > last_us  # late/replay rows: drop (watermark contract)
        if not fresh.all():
            pdf, ts = pdf[fresh], ts[fresh]
        if len(ts) == 0:
            continue
        # Intra-batch replay: an at-least-once upstream can land the
        # same bucket twice in ONE trigger (e.g. duplicated input
        # files); keep only the FIRST row per bucket_start (stable
        # mergesort above preserves arrival order) so a duplicate in
        # the same micro-batch is dropped exactly like the identical
        # row arriving one batch later is dropped by the high-water
        # mark — the two replay timings now behave identically.
        keep = np.ones(len(ts), bool)
        keep[1:] = ts[1:] > ts[:-1]
        if not keep.all():
            pdf, ts = pdf[keep], ts[keep]
        x_ma = pdf["x_ma"].to_numpy(dtype=np.float64)
        x0 = pdf["x0"].to_numpy(dtype=np.float64)
        nn = ~(np.isnan(x_ma) | np.isnan(x0))
        b = ((x_ma < x0) & nn).astype(np.int64)  # RL1: strict, null->false
        d = np.where(nn, np.maximum(x0 - x_ma, 0.0), 0.0)  # deficit
        e = np.where(nn, np.maximum(x_ma - x0, 0.0), 0.0)  # excess
        chg = np.flatnonzero(np.diff(b) != 0) + 1
        starts = np.concatenate(([0], chg))
        ends = np.concatenate((chg, [len(b)]))
        # Sequential (cumsum) folds, NOT np.sum's pairwise tree: the batch
        # operator's F.sum folds the time-sorted partition left-to-right
        # element by element, and bit-parity requires the same addition
        # order — including ACROSS micro-batches, so a continuing run
        # folds its carried total through the new elements rather than
        # adding a segment subtotal.
        for s0, s1 in zip(starts, ends):
            seg_b = int(b[s0])
            seg_n = int(s1 - s0)
            seg_peak = float(d[s0:s1].max())
            if have_run and seg_b == below:  # run continues across batches
                duration += seg_n
                severity = float(np.cumsum(np.concatenate(([severity], d[s0:s1])))[-1])
                peak = max(peak, seg_peak)
                excess = float(np.cumsum(np.concatenate(([excess], e[s0:s1])))[-1])
            else:
                if have_run:  # previous run just terminated: emit
                    rows.append(
                        (source, run_id, below, onset_us, term_us,
                         duration, severity, peak, excess)
                    )
                have_run = 1
                run_id += 1
                below = seg_b
                onset_us = int(ts[s0])
                duration, peak = seg_n, seg_peak
                severity = float(np.cumsum(d[s0:s1])[-1])
                excess = float(np.cumsum(e[s0:s1])[-1])
            term_us = int(ts[s1 - 1])
        last_us = int(ts[-1])

    state.update(
        (last_us, have_run, below, run_id, onset_us, term_us,
         duration, severity, peak, excess)
    )
    if rows:
        out = pd.DataFrame(
            rows,
            columns=["source", "run_id", "below", "onset", "termination",
                     "duration", "severity", "peak", "excess"],
        )
        out["onset"] = out["onset"].astype(_US)
        out["termination"] = out["termination"].astype(_US)
        yield out


def _streaming_run_events(stream: DataFrame) -> DataFrame:
    """RL1+RL2+EV1 over a stream of (source, bucket_start, x_ma, x0):
    one appended row per TERMINATED run, bit-equal to the batch
    extract_events row for that run. The trailing open run per source
    stays in state until a bucket with flipped `below` closes it."""
    return stream.groupBy("source").applyInPandasWithState(
        _fold_runs,
        outputStructType=RUN_EVENTS_SCHEMA,
        stateStructType=RUN_STATE_SCHEMA,
        outputMode="append",
        timeoutConf="NoTimeout",
    )


def _read_series_stream(spark: SparkSession, path: str,
                        files_per_trigger: int = 1) -> DataFrame:
    return (
        spark.readStream.schema(RUN_STREAM_INPUT)
        .option("maxFilesPerTrigger", files_per_trigger)
        .parquet(path)
    )


def start_runs_stream(spark: SparkSession, path: str,
                      name: str = "stream_run_events",
                      files_per_trigger: int = 1,
                      checkpoint: str | None = None):
    """Memory-sink runner for tests/driver smoke: returns the running
    StreamingQuery; caller drives micro-batches (processAllAvailable).
    (The memory sink does not support checkpoint RECOVERY — restart
    coverage uses start_runs_stream_to_parquet — but `checkpoint` still
    controls where the state store writes its per-batch deltas, which
    matters: the default lands in java.io.tmpdir, and on a slow scratch
    disk the state-store fsyncs dominate the micro-batch wall.)"""
    events = _streaming_run_events(_read_series_stream(spark, path, files_per_trigger))
    w = (
        events.writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
    )
    if checkpoint is not None:
        w = w.option("checkpointLocation", checkpoint)
    return w.start()


def start_runs_stream_to_parquet(spark: SparkSession, path: str, out: str,
                                 checkpoint: str,
                                 files_per_trigger: int = 1):
    """Checkpointed runner: appends each micro-batch's terminated-run
    rows to a parquet dir via foreachBatch, resumable from `checkpoint`
    (source offsets AND the per-source run state restore, so a run left
    open at shutdown closes correctly after restart).

    foreachBatch is at-least-once: a crash between the sink write and
    the checkpoint commit replays the batch and duplicates its rows.
    Each batch therefore writes into its own `_batch=<id>` partition —
    dynamic overwrite makes the replay idempotent (the same trick the
    ingest partials use, streaming/rollup_stream.py batch keys)."""
    events = _streaming_run_events(_read_series_stream(spark, path, files_per_trigger))
    return (
        events.writeStream.outputMode("append")
        .foreachBatch(lambda df, bid: write_events_batch(df, bid, out))
        .option("checkpointLocation", checkpoint)
        .start()
    )


def write_events_batch(batch_df: DataFrame, batch_id: int, out: str) -> None:
    """Idempotent per-batch event write: the batch lands in its own
    `_batch=<id>` partition via dynamic overwrite, so an at-least-once
    replay rewrites the same partition instead of appending duplicates.
    Module-level so the replay property is directly testable."""
    (
        batch_df.withColumn("_batch", F.lit(batch_id))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("_batch")
        .parquet(out)
    )
