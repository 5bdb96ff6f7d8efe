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
- The run step is the drought kernel's own, `operators.runs.run_table`:
  below(t) = x_ma < x0 strict, null -> false; deficit/excess floored
  at 0 with null -> 0, matching functions.scalars.deficit (greatest
  ignores nulls); sums left to right, as F.sum folds the sorted
  partition.
- State per source is one fixed-width tuple (10 scalars): the
  high-water mark, a have-run flag and the open run's partial
  aggregates, whose severity and excess seed the run step's first run
  when the next micro-batch continues it (sum, count and max partials
  merge). Memory is O(sources), not O(history) — exactly the shape that
  survives 10^5 sources on a real cluster. Each micro-batch is one
  vectorized `run_table` call, not per-row or per-run Python.
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

from drought_t_spark.operators.runs import run_table

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


_EVENT_COLS = ["run_id", "below", "onset", "termination", "duration",
               "severity", "peak", "excess"]


def _fold_runs(
    key: Tuple[str], pdf_iter: Iterator[pd.DataFrame], state
) -> Iterator[pd.DataFrame]:
    """Per-source fold: one `operators.runs.run_table` call per
    micro-batch. When the batch's first bucket continues the run carried
    in state, that run is the table's first, seeded with the carried
    severity and excess; otherwise the carried run is closed. Every run
    but the last is emitted, the last is the new state. Matches
    operators/runs.py segment_runs+extract_events."""
    (source,) = key
    if state.exists:
        last_us, have_run, below, run_id, *rest = state.get
        carried = [run_id, below, *rest]  # in _EVENT_COLS order
    else:
        last_us, have_run, carried = -(1 << 62), 0, [0, 0, 0, 0, 0, 0.0, 0.0, 0.0]

    # Materialize the group's micro-batch chunks before sorting: Spark
    # chunks a large group into multiple Arrow batches with NO ordering
    # guarantee between chunks, so sorting each chunk against the
    # high-water mark independently would mis-drop in-order rows that
    # arrive in a later chunk. Memory is bounded by one group's rows in
    # one micro-batch (size the trigger accordingly), the same bound the
    # state fold itself implies.
    chunks = [pdf for pdf in pdf_iter if not pdf.empty]
    if not chunks:
        return
    pdf = pd.concat(chunks, ignore_index=True).sort_values("bucket_start", kind="mergesort")
    ts = pdf["bucket_start"].to_numpy().astype(_US).astype(np.int64)
    keep = ts > last_us  # late/replay rows: drop (watermark contract)
    # Intra-batch replay: an at-least-once upstream can land the
    # same bucket twice in ONE trigger (e.g. duplicated input
    # files); keep only the FIRST row per bucket_start (stable
    # mergesort above preserves arrival order) so a duplicate in
    # the same micro-batch is dropped exactly like the identical
    # row arriving one batch later is dropped by the high-water
    # mark — the two replay timings now behave identically.
    keep[1:] &= ts[1:] > ts[:-1]
    if not keep.any():
        return
    ts = ts[keep]
    x_ma = pdf["x_ma"].to_numpy(dtype=np.float64)[keep]
    x0 = pdf["x0"].to_numpy(dtype=np.float64)[keep]

    run_id, below, onset_us, _, duration, severity, peak, excess = carried
    # RL1 as run_table reads it: does the first bucket continue the run?
    cont = bool(have_run) and bool(x_ma[0] < x0[0]) == bool(below)
    r = run_table(np.arange(len(ts)) == 0, ts, x_ma, x0,
                  (severity, excess) if cont else (0.0, 0.0))
    r["run_id"] = run_id + (not cont) + np.arange(len(r["first"]))
    r["below"] = r["below"].astype(np.int64)
    if cont:  # the carried run goes on as the batch's first run
        r["onset"][0] = onset_us
        r["duration"][0] += duration
        r["peak"][0] = max(r["peak"][0], peak)
    runs = [r[c] for c in _EVENT_COLS]
    if have_run and not cont:  # the carried run ended at the batch edge
        runs = [np.insert(col, 0, v) for col, v in zip(runs, carried)]

    run_id, below, *rest = (col[-1].item() for col in runs)  # the open run
    state.update((int(ts[-1]), 1, below, run_id, *rest))
    closed = {c: col[:-1] for c, col in zip(_EVENT_COLS, runs)}
    if len(closed["run_id"]):
        closed["onset"] = closed["onset"].astype(_US)
        closed["termination"] = closed["termination"].astype(_US)
        yield pd.DataFrame({"source": source, **closed})


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
                                 checkpoint: str):
    """Checkpointed runner: appends each micro-batch's terminated-run
    rows to a parquet dir via foreachBatch, resumable from `checkpoint`
    (source offsets AND the per-source run state restore, so a run left
    open at shutdown closes correctly after restart).

    foreachBatch is at-least-once: a crash between the sink write and
    the checkpoint commit replays the batch and duplicates its rows.
    Each batch therefore writes into its own `_batch=<id>` partition —
    dynamic overwrite makes the replay idempotent (the same trick the
    ingest partials use, streaming/rollup_stream.py batch keys)."""
    events = _streaming_run_events(_read_series_stream(spark, path))
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
