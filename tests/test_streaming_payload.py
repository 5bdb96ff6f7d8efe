"""Streaming token-payload ingest (payload twin of §2.11): streamed
packing must be BIT-identical to the batch pack kernel over the same
rows, the live token view must be exact at every stage, and seal/pack
must survive foreachBatch replays and the pack-crash window."""

import datetime as dt

import pandas as pd
import pytest
from pyspark.sql import functions as F

from drought_t_spark.operators import rollup as R
from drought_t_spark.sources.warehouse import Warehouse
from drought_t_spark.streaming.payload_stream import (
    PAYLOAD_PARTIALS_TBL,
    PAYLOAD_TAIL_TBL,
    pack_complete_buckets,
    read_stream_tokens,
    seal_payload_partials,
    start_payload_ingest,
)


def _seq_batch(spark, seqs: list[int], source: str = "src_0000"):
    """Rows with explicit minute indices and per-row distinct tokens
    (so misordered concatenation cannot pass by accident)."""
    pdf = pd.DataFrame(
        {
            "doc_id": [f"{source}/{s:012d}" for s in seqs],
            "tokens": [[s % 97, (s * 7) % 101, s % 13] for s in seqs],
            "n_tok": pd.array([3] * len(seqs), dtype="int32"),
            "source": source,
        }
    )
    from drought_t_spark.schemas import SEQUENCES

    return spark.createDataFrame(pdf, SEQUENCES)


def _token_truth(spark, in_dir):
    """Batch truth: per (source, hour bucket) tokens in seq order."""
    t1 = R.with_event_time(spark.read.parquet(in_dir))
    return (
        t1.withColumn("bucket_start", F.date_trunc("hour", "ts"))
        .groupBy("source", "bucket_start")
        .agg(
            F.flatten(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("seq", "tokens"))),
                    lambda s: s.tokens,
                )
            ).alias("tokens")
        )
    )


def _assert_same_tokens(a, b):
    cols = ["source", "bucket_start", "tokens"]
    a, b = a.select(*cols), b.select(*cols)
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


_PAY_COLS = [
    "source", "bucket_start", "chunk_id", "payload",
    "payload_codec", "payload_n_tokens", "payload_crc32",
]


def test_streamed_pack_bit_identical_to_batch(spark, tmp_path):
    """Two file drops → seal → pack(cutoff): the committed payload tier
    equals `pack_payloads` over the complete-bucket rows BYTE for byte,
    and the live view stays exact with the incomplete tail raw."""
    wh = Warehouse(str(tmp_path / "wh"))
    in_dir, ckpt = str(tmp_path / "in"), str(tmp_path / "ckpt")
    _seq_batch(spark, list(range(150))).write.mode("append").parquet(in_dir)
    q = start_payload_ingest(spark, in_dir, wh, ckpt)
    q.processAllAvailable()
    q.stop()
    # restart from checkpoint: only the new file is processed
    _seq_batch(spark, list(range(150, 260))).write.mode("append").parquet(in_dir)
    q = start_payload_ingest(spark, in_dir, wh, ckpt)
    q.processAllAvailable()
    q.stop()

    assert seal_payload_partials(spark, wh) >= 2
    cutoff = dt.datetime(2024, 1, 1, 3)  # hours 0-2 complete, hour 3-4 tail
    assert pack_complete_buckets(spark, wh, cutoff=cutoff) > 0

    t1 = R.with_event_time(spark.read.parquet(in_dir))
    complete = t1.where(F.date_trunc("hour", "ts") < F.lit(cutoff))
    batch_pay = R.pack_payloads(
        complete.select("source", "ts", "seq", "tokens", "n_tok"), "hour"
    )
    got = wh.read(spark, "agg.payload_hour").select(*_PAY_COLS)
    want = batch_pay.select(*_PAY_COLS)
    assert got.exceptAll(want).count() == 0 and want.exceptAll(got).count() == 0

    live = read_stream_tokens(spark, wh)
    _assert_same_tokens(live, _token_truth(spark, in_dir))
    # the incomplete hours are served raw, the complete ones packed
    states = {r.bucket_start.hour: r.state for r in live.collect()}
    assert states[0] == "packed" and states[4] == "raw"


def test_live_view_exact_at_every_stage(spark, tmp_path):
    """Exactness of the live token view after ingest-only (un-sealed
    partials), after seal (tail), and after pack (tier + tail)."""
    wh = Warehouse(str(tmp_path / "wh"))
    in_dir, ckpt = str(tmp_path / "in"), str(tmp_path / "ckpt")
    _seq_batch(spark, list(range(200)), "src_aaaa").write.mode("append").parquet(in_dir)
    _seq_batch(spark, list(range(100)), "src_bbbb").write.mode("append").parquet(in_dir)
    q = start_payload_ingest(spark, in_dir, wh, ckpt)
    q.processAllAvailable()
    q.stop()

    truth = _token_truth(spark, in_dir)
    _assert_same_tokens(read_stream_tokens(spark, wh), truth)  # partials only
    assert seal_payload_partials(spark, wh) >= 1
    _assert_same_tokens(read_stream_tokens(spark, wh), truth)  # tail only
    assert pack_complete_buckets(spark, wh, cutoff=dt.datetime(2024, 1, 1, 2)) > 0
    _assert_same_tokens(read_stream_tokens(spark, wh), truth)  # tier + tail


def test_seal_replay_safe_and_late_rows_dropped(spark, tmp_path):
    """A foreachBatch replay of a sealed batch is dropped without
    re-folding (ledger on <stream-id>-<batch_id>), and rows for an
    already-packed bucket — the pack-crash window and genuine late
    arrivals look identical — are dropped at pack time, leaving the
    committed payload bit-unchanged."""
    wh = Warehouse(str(tmp_path / "wh"))
    in_dir, ckpt = str(tmp_path / "in"), str(tmp_path / "ckpt")
    _seq_batch(spark, list(range(180))).write.mode("append").parquet(in_dir)
    q = start_payload_ingest(spark, in_dir, wh, ckpt)
    q.processAllAvailable()
    q.stop()

    partials = wh.read(spark, PAYLOAD_PARTIALS_TBL)
    replay_bid = partials.select(F.max("batch_key")).first()[0]
    replay_rows = partials.where(
        F.col("batch_key") == replay_bid
    ).localCheckpoint(eager=True)
    assert seal_payload_partials(spark, wh) >= 1
    truth = _token_truth(spark, in_dir)

    # replayed partition reappears → seal ignores it, live view exact
    wh.write_partitioned(replay_rows, PAYLOAD_PARTIALS_TBL, ["batch_key"])
    _assert_same_tokens(read_stream_tokens(spark, wh), truth)  # pre-seal too
    assert seal_payload_partials(spark, wh) == 0
    assert not wh.exists(PAYLOAD_PARTIALS_TBL) or (
        wh.read(spark, PAYLOAD_PARTIALS_TBL)
        .where(F.col("batch_key") == replay_bid).count() == 0
    )

    cutoff = dt.datetime(2024, 1, 1, 2)
    assert pack_complete_buckets(spark, wh, cutoff=cutoff) > 0
    tier_before = wh.read(spark, "agg.payload_hour").select(*_PAY_COLS)
    tier_before = spark.createDataFrame(tier_before.collect(), tier_before.schema)

    # a LATE row for packed hour 0 arrives via a fresh batch
    _seq_batch(spark, [30]).write.mode("append").parquet(in_dir)
    q = start_payload_ingest(spark, in_dir, wh, ckpt)
    q.processAllAvailable()
    q.stop()
    assert seal_payload_partials(spark, wh) >= 1
    assert pack_complete_buckets(spark, wh, cutoff=cutoff) == 0  # nothing fresh
    tier_after = wh.read(spark, "agg.payload_hour").select(*_PAY_COLS)
    assert tier_after.exceptAll(tier_before).count() == 0
    assert tier_before.exceptAll(tier_after).count() == 0
    # the late row is gone from the tail (dropped, not kept forever)
    assert (
        wh.read(spark, PAYLOAD_TAIL_TBL)
        .where(F.date_trunc("hour", "ts") < F.lit(cutoff)).count() == 0
    )


def test_tail_source_partition_dropped_when_emptied(spark, tmp_path):
    """Packing past all data must DROP the emptied source partitions
    (dynamic overwrite cannot delete what it does not write) and the
    all-packed live view still serves every bucket."""
    wh = Warehouse(str(tmp_path / "wh"))
    in_dir, ckpt = str(tmp_path / "in"), str(tmp_path / "ckpt")
    _seq_batch(spark, list(range(120)), "src_aaaa").write.mode("append").parquet(in_dir)
    q = start_payload_ingest(spark, in_dir, wh, ckpt)
    q.processAllAvailable()
    q.stop()
    assert seal_payload_partials(spark, wh) >= 1
    assert pack_complete_buckets(spark, wh, cutoff=dt.datetime(2024, 1, 2)) > 0
    assert (
        not wh.exists(PAYLOAD_TAIL_TBL)
        or wh.read(spark, PAYLOAD_TAIL_TBL).count() == 0
    )
    _assert_same_tokens(read_stream_tokens(spark, wh), _token_truth(spark, in_dir))


def test_live_token_view_of_empty_warehouse_is_an_error(spark, tmp_path):
    """With no packed tier, tail or partials the live token view raises,
    under `python -O` too."""
    with pytest.raises(ValueError, match="no streamed payload data"):
        read_stream_tokens(spark, Warehouse(str(tmp_path / "wh")))


def test_pack_job_counts(spark, tmp_path, jobs_in_group):
    """The pack reads the tail and the committed payloads' pass-through
    rows with their declared schemas, not with schema-inference jobs: on
    two sources the first pack launches at most 5 Spark jobs and a pack
    into the existing tier at most 9 (6 and 11 while those reads
    inferred)."""
    wh = Warehouse(str(tmp_path / "wh"))
    in_dir, ckpt = str(tmp_path / "in"), str(tmp_path / "ckpt")
    _seq_batch(spark, list(range(200)), "src_aaaa").write.mode("append").parquet(in_dir)
    _seq_batch(spark, list(range(100)), "src_bbbb").write.mode("append").parquet(in_dir)
    q = start_payload_ingest(spark, in_dir, wh, ckpt)
    q.processAllAvailable()
    q.stop()
    assert seal_payload_partials(spark, wh) >= 1
    for hour, max_jobs in ((1, 5), (3, 9)):
        packed, jobs = jobs_in_group(f"pack-{hour}", lambda: pack_complete_buckets(
            spark, wh, cutoff=dt.datetime(2024, 1, 1, hour)))
        assert packed > 0 and len(jobs) <= max_jobs, (hour, jobs)
    _assert_same_tokens(read_stream_tokens(spark, wh), _token_truth(spark, in_dir))
