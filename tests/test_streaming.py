"""Structured Streaming tier-0 rollup (SURVEY.md §2.11): the live hour
tier over the streamed micro-batch partials, and the committed tier
after compaction, must equal the batch AG1 rollup on the same input."""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from drought_t_spark import synth
from drought_t_spark.operators import rollup as R


def _seq_batch(spark, seqs: list[int], source: str = "src_0000"):
    """Rows with explicit minute indices (ts = epoch + seq minutes)."""
    pdf = pd.DataFrame(
        {
            "doc_id": [f"{source}/{s:012d}" for s in seqs],
            "tokens": [[1, 2, 3]] * len(seqs),
            "n_tok": pd.array([3] * len(seqs), dtype="int32"),
            "source": source,
        }
    )
    from drought_t_spark.schemas import SEQUENCES

    return spark.createDataFrame(pdf, SEQUENCES)


def _assert_same_stats(a, b):
    cols = ["source", "bucket_start", "n_seq", "n_tok_sum", "n_tok_min", "n_tok_max"]
    a, b = a.select(*cols), b.select(*cols)
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_stream_ingest_incremental_and_compaction(spark, tmp_path):
    """Continuous-aggregate ingest: per-batch partials land idempotently,
    the live view equals the batch rollup at every stage (restart from
    checkpoint included), and compaction folds partials into the
    committed tier without changing the answer."""
    from drought_t_spark.sources.warehouse import Warehouse
    from drought_t_spark.streaming.rollup_stream import (
        PARTIALS_TBL,
        compact_stream_partials,
        read_stream_hour_tier,
        start_tier_ingest,
    )

    wh = Warehouse(str(tmp_path / "wh"))
    in_dir, ckpt = str(tmp_path / "in"), str(tmp_path / "ckpt")
    synth.sequences_df(spark, n_sources=2, n_total=2000).write.mode(
        "append"
    ).parquet(in_dir)
    q = start_tier_ingest(spark, in_dir, wh, ckpt)
    q.processAllAvailable()
    q.stop()

    def batch_truth():
        return R.rollup_hour(R.with_event_time(spark.read.parquet(in_dir)))

    _assert_same_stats(read_stream_hour_tier(spark, wh), batch_truth())

    # restart from the same checkpoint; only the NEW file is processed
    _seq_batch(spark, list(range(50_000, 50_240))).write.mode("append").parquet(in_dir)
    q = start_tier_ingest(spark, in_dir, wh, ckpt)
    q.processAllAvailable()
    q.stop()
    _assert_same_stats(read_stream_hour_tier(spark, wh), batch_truth())
    n_batches = wh.read(spark, PARTIALS_TBL).select("batch_key").distinct().count()
    assert n_batches >= 2

    # compaction folds partials into the committed tier, same answer
    folded = compact_stream_partials(spark, wh)
    assert folded == n_batches
    _assert_same_stats(wh.read(spark, "agg.tier_hour"), batch_truth())
    _assert_same_stats(read_stream_hour_tier(spark, wh), batch_truth())


def test_late_rows_reach_live_view_and_compaction(spark, tmp_path):
    """Late-data contract (SURVEY.md §2.11): the streamed partials are
    mergeable, so a row arriving after later hours were ingested is
    counted exactly, with no watermark drop: hour 0 holds 61 rows in
    the live view and after compaction, as in the batch rollup."""
    from drought_t_spark.sources.warehouse import Warehouse
    from drought_t_spark.streaming.rollup_stream import (
        compact_stream_partials,
        read_stream_hour_tier,
        start_tier_ingest,
    )

    wh = Warehouse(str(tmp_path / "wh"))
    path, ckpt = str(tmp_path / "late_seqs"), str(tmp_path / "ckpt")
    # drop 1: minutes 0..239 (hour buckets 0-3)
    _seq_batch(spark, list(range(240))).write.mode("overwrite").parquet(path)
    q = start_tier_ingest(spark, path, wh, ckpt)
    try:
        q.processAllAvailable()
        # drop 2: one LATE row in hour 0 plus two rows in hour 4
        _seq_batch(spark, [30, 250, 251]).write.mode("append").parquet(path)
        q.processAllAvailable()
    finally:
        q.stop()

    def hour0(df):
        return int(df.where(F.col("bucket_start") == "2024-01-01 00:00:00").first().n_seq)

    batch = R.rollup_hour(R.with_event_time(spark.read.parquet(path)))
    assert hour0(batch) == 61
    assert hour0(read_stream_hour_tier(spark, wh)) == 61
    assert compact_stream_partials(spark, wh) >= 2
    assert hour0(wh.read(spark, "agg.tier_hour")) == 61
    _assert_same_stats(read_stream_hour_tier(spark, wh), batch)


def test_compaction_incremental_and_replay_safe(spark, tmp_path):
    """Scale contract of compaction: only source partitions whose
    sources appear in the partials are rewritten (untouched partitions'
    files stay byte-identical on disk), and a foreachBatch REPLAY of an
    already-folded batch is dropped without re-folding (no double
    count)."""
    import os

    from drought_t_spark.sources.warehouse import Warehouse
    from drought_t_spark.streaming.rollup_stream import (
        PARTIALS_TBL,
        compact_stream_partials,
        read_stream_hour_tier,
        start_tier_ingest,
    )

    wh = Warehouse(str(tmp_path / "wh"))
    in_dir, ckpt = str(tmp_path / "in"), str(tmp_path / "ckpt")
    # two sources land in the committed tier
    _seq_batch(spark, list(range(120)), "src_aaaa").write.mode("append").parquet(in_dir)
    _seq_batch(spark, list(range(120)), "src_bbbb").write.mode("append").parquet(in_dir)
    q = start_tier_ingest(spark, in_dir, wh, ckpt)
    q.processAllAvailable()
    q.stop()
    assert compact_stream_partials(spark, wh) >= 1

    def files_of(source):
        d = os.path.join(wh.path("agg.tier_hour"), f"source={source}")
        return {
            f: os.stat(os.path.join(d, f)).st_mtime_ns
            for f in os.listdir(d)
            if f.endswith(".parquet")
        }

    bbbb_before = files_of("src_bbbb")

    # new data ONLY for src_aaaa → compaction must not touch src_bbbb
    _seq_batch(spark, list(range(120, 240)), "src_aaaa").write.mode("append").parquet(in_dir)
    q = start_tier_ingest(spark, in_dir, wh, ckpt)
    q.processAllAvailable()
    q.stop()
    # remember one folded batch's rows to fake a replay later
    partials = wh.read(spark, PARTIALS_TBL)
    replay_bid = partials.select(F.max("batch_key")).first()[0]
    replay_rows = partials.where(F.col("batch_key") == replay_bid).localCheckpoint(eager=True)
    assert compact_stream_partials(spark, wh) >= 1
    assert files_of("src_bbbb") == bbbb_before  # untouched partition intact

    truth = R.rollup_hour(R.with_event_time(spark.read.parquet(in_dir)))
    _assert_same_stats(wh.read(spark, "agg.tier_hour"), truth)

    # simulate an at-least-once foreachBatch replay of a folded batch:
    # its partition reappears, but the next compaction must ignore it
    wh.write_partitioned(replay_rows, PARTIALS_TBL, ["batch_key"])
    _assert_same_stats(read_stream_hour_tier(spark, wh), truth)  # pre-compaction too
    assert compact_stream_partials(spark, wh) == 0
    assert not wh.exists(PARTIALS_TBL) or wh.read(spark, PARTIALS_TBL).where(
        F.col("batch_key") == replay_bid
    ).count() == 0
    _assert_same_stats(wh.read(spark, "agg.tier_hour"), truth)
    _assert_same_stats(read_stream_hour_tier(spark, wh), truth)


def test_fresh_checkpoint_batch_zero_is_not_mistaken_for_replay(spark, tmp_path):
    """Micro-batch ids restart at 0 under a NEW checkpoint. The folded-
    batch ledger keys on <stream-id>-<batch_id> (the checkpoint's stable
    identity), so incarnation 2's batch 0 must be FOLDED, not dropped as
    a replay of incarnation 1's batch 0 — keying on bare batch_id lost
    this data silently."""
    from drought_t_spark.sources.warehouse import Warehouse
    from drought_t_spark.streaming.rollup_stream import (
        compact_stream_partials,
        start_tier_ingest,
    )

    wh = Warehouse(str(tmp_path / "wh"))
    in1, in2 = str(tmp_path / "in1"), str(tmp_path / "in2")
    # incarnation 1: hours 0-1, checkpoint ckpt1, compacted
    _seq_batch(spark, list(range(120))).write.parquet(in1)
    q = start_tier_ingest(spark, in1, wh, str(tmp_path / "ckpt1"))
    q.processAllAvailable()
    q.stop()
    assert compact_stream_partials(spark, wh) >= 1
    # incarnation 2: DIFFERENT data (hours 10-11), FRESH checkpoint —
    # its micro-batch ids restart at 0
    _seq_batch(spark, list(range(600, 720))).write.parquet(in2)
    q = start_tier_ingest(spark, in2, wh, str(tmp_path / "ckpt2"))
    q.processAllAvailable()
    q.stop()
    assert compact_stream_partials(spark, wh) >= 1  # folded, NOT dropped
    tier = wh.read(spark, "agg.tier_hour")
    # both incarnations' rows are present exactly once
    both = spark.read.parquet(in1).unionByName(spark.read.parquet(in2))
    _assert_same_stats(tier, R.rollup_hour(R.with_event_time(both)))


def test_fold_job_counts(spark, tmp_path, jobs_in_group):
    """Both folds find their batch keys by listing partition directories,
    not with a Spark job, and read the partials and tail with their
    declared schemas, not with a schema-inference job. On two sources
    with both kinds of partials, the first compaction launches at most
    4 Spark jobs and the first seal at most 3; folding a second round
    into the committed tier and tail launches at most 8 and 5."""
    from drought_t_spark.sources.warehouse import Warehouse
    from drought_t_spark.streaming.payload_stream import (
        seal_payload_partials,
        start_payload_ingest,
    )
    from drought_t_spark.streaming.rollup_stream import (
        compact_stream_partials,
        start_tier_ingest,
    )

    wh = Warehouse(str(tmp_path / "wh"))
    in_dir = str(tmp_path / "in")
    for lo, max_compact, max_seal in ((0, 4, 3), (120, 8, 5)):
        for src in ("src_aaaa", "src_bbbb"):
            _seq_batch(spark, list(range(lo, lo + 120)), src).write.mode(
                "append"
            ).parquet(in_dir)
        for ingest, ckpt in ((start_tier_ingest, "ckpt"), (start_payload_ingest, "ckpt_pay")):
            q = ingest(spark, in_dir, wh, str(tmp_path / ckpt))
            q.processAllAvailable()
            q.stop()
        folded, compact_jobs = jobs_in_group(
            f"compact-jobs-{lo}", lambda: compact_stream_partials(spark, wh)
        )
        assert folded >= 1 and 0 < len(compact_jobs) <= max_compact, compact_jobs
        sealed, seal_jobs = jobs_in_group(
            f"seal-jobs-{lo}", lambda: seal_payload_partials(spark, wh)
        )
        assert sealed >= 1 and 0 < len(seal_jobs) <= max_seal, seal_jobs


def test_live_tier_view_of_empty_warehouse_is_an_error(spark, tmp_path):
    """With neither a committed hour tier nor stream partials the live
    view raises, under `python -O` too."""
    from drought_t_spark.sources.warehouse import Warehouse
    from drought_t_spark.streaming.rollup_stream import read_stream_hour_tier

    with pytest.raises(ValueError, match="no hour-tier data"):
        read_stream_hour_tier(spark, Warehouse(str(tmp_path / "wh")))
