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
micro-batch boundaries, checkpoint restarts, a replayed micro-batch and
a run spanning many micro-batches.

The closed runs land in the declared table `drought.stream_runs`
(`schemas.STREAM_RUNS`) through the engine's one streaming sink,
`rollup_stream.start_batch_ingest`: each micro-batch in its own
`batch_key` partition, so a replayed batch rewrites its partition
instead of appending its runs twice.

Semantics and scale notes:
- Input: the rolled-up, gap-filled, threshold-joined series
  (source, bucket_start, x_ma, x0) — the same frame `below_mask` takes.
  In production this is the continuous-aggregate stream joined to the
  (static, broadcast) per-cycle-position threshold table; the tests
  drive it from parquet files appended in time order.
- Ordering / late data: state keeps the max bucket seen per source and
  DROPS any row at or behind it: a run already emitted is final, and
  the idempotent batch recompute reconciles late rows (SURVEY.md
  §2.11). Within a micro-batch rows are sorted per source.
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
- Rows are final when emitted (append); the trailing open run lives
  only in state until its terminating bucket arrives.
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
from drought_t_spark.schemas import STREAM_RUNS
from drought_t_spark.streaming.rollup_stream import start_batch_ingest

# Input contract: what below_mask/segment_runs consume (operators/runs.py).
RUN_STREAM_INPUT = StructType(
    [
        StructField("source", StringType()),
        StructField("bucket_start", TimestampType()),
        StructField("x_ma", DoubleType()),
        StructField("x0", DoubleType()),
    ]
)

RUNS_TBL = "drought.stream_runs"
# Output contract: extract_events' columns (operators/runs.py), the
# table's schema without its `batch_key` partition — bit-parity is the
# point.
_RUN_EVENTS = StructType([f for f in STREAM_RUNS if f.name != "batch_key"])

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
        outputStructType=_RUN_EVENTS,
        stateStructType=RUN_STATE_SCHEMA,
        outputMode="append",
        timeoutConf="NoTimeout",
    )


def start_runs_stream(spark: SparkSession, path: str, wh, checkpoint_dir: str,
                      files_per_trigger: int = 1):
    """Stream the series files under `path` through the run fold into
    `drought.stream_runs` (the one batch sink,
    `rollup_stream.start_batch_ingest`), resumable from
    `checkpoint_dir`: source offsets AND the per-source run state
    restore, so a run left open at shutdown closes correctly after
    restart, and a batch replayed after a crash before its commit
    re-runs from the state it started with and rewrites its own
    `batch_key` partition. Returns the running StreamingQuery; the
    caller drives micro-batches (processAllAvailable)."""
    series = (
        spark.readStream.schema(RUN_STREAM_INPUT)
        .option("maxFilesPerTrigger", files_per_trigger)
        .parquet(path)
    )
    return start_batch_ingest(_streaming_run_events(series), wh, checkpoint_dir,
                              RUNS_TBL, lambda batch: batch)
