"""Streaming stateful run extraction (§2.11's last row): the
applyInPandasWithState operator must land in `drought.stream_runs`, for
every TERMINATED run, bit-for-bit the batch extract_events row — across
micro-batch boundaries, runs spanning many micro-batches, checkpoint
restarts, a replayed micro-batch, and late rows."""

import math
import os

import pandas as pd

from drought_t_spark.operators import runs as R
from drought_t_spark.sources.warehouse import Warehouse
from drought_t_spark.streaming.runs_stream import (
    RUN_STREAM_INPUT,
    RUNS_TBL,
    start_runs_stream,
)


def _series_pdf(sources=3, hours=96) -> pd.DataFrame:
    """Deterministic multi-run series: x_ma oscillates through the
    constant threshold x0=0 with per-source period/phase, plus a null
    patch (null -> above, per RL1) so null semantics are exercised."""
    rows = []
    t0 = pd.Timestamp("2024-01-01")
    for s in range(sources):
        period = 10 + 3 * s
        for h in range(hours):
            x = math.sin(2 * math.pi * (h + 2 * s) / period) + 0.05 * s
            if s == 1 and 40 <= h < 44:  # null patch
                x = None
            rows.append((f"src_{s:04d}", t0 + pd.Timedelta(hours=h), x, 0.0))
    return pd.DataFrame(rows, columns=["source", "bucket_start", "x_ma", "x0"])


def _batch_terminated(spark, pdf: pd.DataFrame) -> pd.DataFrame:
    """Batch RL1+RL2+EV1 on the full series, minus each source's open
    (max run_id) run — what the stream must have emitted."""
    df = spark.createDataFrame(pdf, RUN_STREAM_INPUT)
    ev = R.extract_events(R.segment_runs(R.below_mask(df)))
    out = ev.toPandas()
    last = out.groupby("source")["run_id"].transform("max")
    out = out[out["run_id"] < last]
    return (
        out[["source", "run_id", "below", "onset", "termination",
             "duration", "severity", "peak", "excess"]]
        .sort_values(["source", "run_id"])
        .reset_index(drop=True)
    )


def _collect(spark, wh) -> pd.DataFrame:
    return (
        wh.read(spark, RUNS_TBL)
        .drop("batch_key")  # the sink's batch partition, not event data
        .toPandas()
        .sort_values(["source", "run_id"])
        .reset_index(drop=True)
    )


def _assert_parity(streamed: pd.DataFrame, batch: pd.DataFrame):
    assert len(streamed) == len(batch), (len(streamed), len(batch))
    pd.testing.assert_frame_equal(
        streamed.astype({"below": "int32"}),
        batch.astype({"below": "int32"}),
        check_exact=True,  # bit-for-bit: same float fold order as batch sum
        check_dtype=False,
    )


def _slices(pdf: pd.DataFrame, cuts) -> list[pd.DataFrame]:
    """`pdf`'s rows before each of the time-ordered `cuts`, in turn."""
    lo = pd.Timestamp("1970-01-01")
    out = []
    for hi in cuts:
        out.append(pdf[(pdf["bucket_start"] >= lo) & (pdf["bucket_start"] < hi)])
        lo = hi
    return out


def _stream(spark, tmp_path, drops) -> Warehouse:
    """Run the runs stream from `tmp_path`'s checkpoint into its
    warehouse: each frame of `drops` is appended as one input file and
    processed as its own micro-batch (the first before the start), so
    arrival stays in order; with no drops the restart only finishes the
    batches the checkpoint left uncommitted. Returns the warehouse."""
    path, wh = str(tmp_path / "series"), Warehouse(str(tmp_path / "wh"))

    def drop(pdf):
        spark.createDataFrame(pdf, RUN_STREAM_INPUT).coalesce(1).write.mode(
            "append"
        ).parquet(path)

    if drops:
        drop(drops[0])
    q = start_runs_stream(spark, path, wh, str(tmp_path / "ckpt"))
    try:
        q.processAllAvailable()
        for pdf in drops[1:]:
            drop(pdf)
            q.processAllAvailable()
    finally:
        q.stop()
    return wh


def test_stream_matches_batch_across_microbatches(spark, tmp_path):
    pdf = _series_pdf()
    t0 = pd.Timestamp("2024-01-01")
    cuts = [t0 + pd.Timedelta(hours=h) for h in (24, 48, 72, 96)]
    wh = _stream(spark, tmp_path, _slices(pdf, cuts))
    _assert_parity(_collect(spark, wh), _batch_terminated(spark, pdf))


def test_run_spanning_many_microbatches(spark, tmp_path):
    """One long below-run fed 6 hours at a time: partial aggregates must
    carry across batches and the closing row must equal batch exactly."""
    t0 = pd.Timestamp("2024-01-01")
    vals = [-1.0 - 0.1 * h for h in range(30)] + [2.0, 3.0]  # 30h run, then close
    pdf = pd.DataFrame(
        {
            "source": "src_long",
            "bucket_start": [t0 + pd.Timedelta(hours=h) for h in range(len(vals))],
            "x_ma": vals,
            "x0": 0.0,
        }
    )
    wh = _stream(spark, tmp_path, [pdf.iloc[s : s + 6] for s in range(0, len(vals), 6)])
    streamed = _collect(spark, wh)
    batch = _batch_terminated(spark, pdf)
    assert (streamed["duration"] == 30).any()
    _assert_parity(streamed, batch)


def test_restart_from_checkpoint_no_dupes_no_loss(spark, tmp_path):
    """Stop after half the series, restart from the same checkpoint:
    state (incl. the open run's partials) restores and the table holds
    exactly the batch terminated set."""
    pdf = _series_pdf(sources=2, hours=72)
    t0 = pd.Timestamp("2024-01-01")
    # cut mid-run: the open run's partials were checkpointed in state
    # and must restore on restart
    first, second = _slices(pdf, [t0 + pd.Timedelta(hours=h) for h in (36, 72)])
    _stream(spark, tmp_path, [first])
    wh = _stream(spark, tmp_path, [second])
    both = _collect(spark, wh)
    assert not both.duplicated(["source", "run_id"]).any()
    _assert_parity(both, _batch_terminated(spark, pdf))


def test_variable_threshold_parity(spark, tmp_path):
    """x0 varies per cycle position (hour-of-day), the drought method's
    real threshold shape (TH1): the stream consumes x0 as a per-row
    column, so variable thresholds must hold by construction — pinned
    here against the batch operator on the same joined series."""
    t0 = pd.Timestamp("2024-01-01")
    rows = []
    for s in range(2):
        for h in range(120):
            x = math.sin(2 * math.pi * h / (11 + 5 * s))
            x0 = 0.3 * math.cos(2 * math.pi * (h % 24) / 24.0)  # hour-of-day
            rows.append((f"src_{s:04d}", t0 + pd.Timedelta(hours=h), x, x0))
    pdf = pd.DataFrame(rows, columns=["source", "bucket_start", "x_ma", "x0"])
    cuts = [t0 + pd.Timedelta(hours=h) for h in (40, 80, 120)]
    wh = _stream(spark, tmp_path, _slices(pdf, cuts))
    _assert_parity(_collect(spark, wh), _batch_terminated(spark, pdf))


def test_group_spanning_multiple_arrow_chunks(spark, tmp_path):
    """A group whose micro-batch rows span several Arrow record batches
    must still fold correctly: chunks arrive with no ordering guarantee,
    so the operator concatenates before its single sort — without that,
    the high-water mark would mis-drop in-order rows from later chunks."""
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "16")  # 96-row group → ≥6 chunks per micro-batch
    try:
        pdf = _series_pdf(sources=2, hours=96)
        wh = _stream(spark, tmp_path, [pdf])
        _assert_parity(_collect(spark, wh), _batch_terminated(spark, pdf))
    finally:
        spark.conf.set(key, old)


def test_batch_replay_is_idempotent(spark, tmp_path):
    """A crash between the sink write and the batch commit: the stream
    ran two file drops, and the checkpoint lost the last batch's commit
    marker. On restart Spark re-runs that batch from the state it
    started with, and the sink rewrites the batch's own partition, so
    each run is in the table once and the table still equals the batch
    terminated runs."""
    pdf = _series_pdf()
    t0 = pd.Timestamp("2024-01-01")
    _stream(spark, tmp_path, _slices(pdf, [t0 + pd.Timedelta(hours=h) for h in (48, 96)]))
    commits = tmp_path / "ckpt" / "commits"
    last = max(int(f) for f in os.listdir(commits) if f.isdigit())
    assert last == 1
    os.remove(commits / str(last))
    os.remove(commits / f".{last}.crc")
    wh = _stream(spark, tmp_path, [])
    got = _collect(spark, wh)
    assert not got.duplicated(["source", "run_id"]).any()
    _assert_parity(got, _batch_terminated(spark, pdf))


def test_late_rows_dropped(spark, tmp_path):
    """A row at or behind the per-source high-water mark is dropped —
    emitted runs equal batch over the in-order rows only."""
    t0 = pd.Timestamp("2024-01-01")
    inorder = pd.DataFrame(
        {
            "source": "src_late",
            "bucket_start": [t0 + pd.Timedelta(hours=h) for h in range(12)],
            "x_ma": [-1.0] * 4 + [1.0] * 4 + [-2.0] * 4,
            "x0": 0.0,
        }
    )
    late = pd.DataFrame(
        {
            "source": "src_late",
            "bucket_start": [t0 + pd.Timedelta(hours=2)],  # behind HWM
            "x_ma": [5.0],  # would flip the first run if honored
            "x0": [0.0],
        }
    )
    closer = pd.DataFrame(
        {
            "source": "src_late",
            "bucket_start": [t0 + pd.Timedelta(hours=12)],
            "x_ma": [3.0],
            "x0": [0.0],
        }
    )
    wh = _stream(spark, tmp_path, [inorder, late, closer])
    streamed = _collect(spark, wh)
    batch = _batch_terminated(spark, pd.concat([inorder, closer]))
    _assert_parity(streamed, batch)
