"""Structured Streaming analog of the hour-tier rollup (SURVEY.md
§2.11): tumbling 1-hour windows per source with a watermark for late
sequences. Batch tiers remain the contract; this is the streaming
ingest path for tier-0.

Run semantics (RL2) deliberately stay batch: run segmentation needs
full history, so the streaming job maintains ONLY the continuous
aggregate; the drought DAG re-runs per tier on the committed table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from drought_t_spark.functions.scalars import seq_index, seq_timestamp
from drought_t_spark.schemas import SEQUENCES


def read_sequence_stream(spark: SparkSession, path: str, files_per_trigger: int = 8) -> DataFrame:
    return (
        spark.readStream.schema(SEQUENCES)
        .option("maxFilesPerTrigger", files_per_trigger)
        .parquet(path)
    )


def _streaming_hour_rollup(stream: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Tumbling-window continuous aggregate; late rows beyond the
    watermark are dropped (batch re-rollup reconciles them)."""
    t1 = stream.withColumn("seq", seq_index()).withColumn("ts", seq_timestamp())
    return (
        t1.withWatermark("ts", watermark)
        .groupBy("source", F.window("ts", "1 hour").alias("win"))
        .agg(
            F.count("*").alias("n_seq"),
            F.sum("n_tok").cast("long").alias("n_tok_sum"),
            F.min("n_tok").cast("int").alias("n_tok_min"),
            F.max("n_tok").cast("int").alias("n_tok_max"),
        )
        .select(
            "source",
            F.col("win.start").alias("bucket_start"),
            "n_seq", "n_tok_sum", "n_tok_min", "n_tok_max",
            (F.col("n_tok_sum") / F.col("n_seq")).alias("n_tok_avg"),
        )
    )


def start_append_stream(spark: SparkSession, path: str,
                        name: str = "stream_tier_hour_append",
                        watermark: str = "2 hours"):
    """Append-mode variant: a window row is emitted only once its end
    falls behind the watermark, and rows arriving later than the
    watermark are DROPPED (the late-data contract; the idempotent batch
    re-rollup over the committed table reconciles them — SURVEY.md
    §2.11). Returns the running StreamingQuery; the caller drives
    micro-batches (processAllAvailable) between file drops so the
    watermark actually advances between batches."""
    agg = _streaming_hour_rollup(read_sequence_stream(spark, path), watermark)
    return (
        agg.writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .start()
    )


PARTIALS_TBL = "agg.stream_partials_hour"


def _stream_identity(checkpoint_dir: str) -> str:
    """Stable per-checkpoint stream id, read from Spark's own
    `<ckpt>/metadata` (written at query start, PRESERVED across restarts
    from the same checkpoint, regenerated when the checkpoint is lost or
    recreated). This is exactly the identity the folded-batch ledger
    needs: micro-batch ids restart at 0 under a fresh checkpoint, so a
    ledger keyed by bare batch_id would classify NEW data as an
    already-folded replay and silently drop it."""
    import json
    import os

    import re

    meta = os.path.join(checkpoint_dir, "metadata")
    try:
        with open(meta) as f:
            # partition-path-safe (hive escapes ':' etc. in dir names)
            return re.sub(r"[^0-9a-zA-Z]", "", str(json.load(f)["id"]))
    except (OSError, ValueError, KeyError) as e:
        # FAIL LOUDLY: a shared fallback constant would let two distinct
        # fresh checkpoints alias one stream id with batch ids both
        # restarting at 0 — recreating exactly the silent
        # new-data-dropped-as-replay bug the stream id exists to prevent.
        # The sink resolves this lazily on the first micro-batch, by
        # which point Spark has always written <ckpt>/metadata.
        raise RuntimeError(
            f"cannot read stream identity from {meta!r}; refusing to "
            f"ingest without a collision-free batch_key prefix"
        ) from e


def start_tier_ingest(spark: SparkSession, path: str, wh, checkpoint_dir: str,
                      files_per_trigger: int = 1):
    """Incremental continuous-aggregate ingest: each micro-batch's hour
    partials (mergeable integer stats) land in `agg.stream_partials_hour`
    partitioned by `batch_key = <stream-id>-<batch_id>` via idempotent
    partition overwrite.

    foreachBatch is at-least-once — a crash between sink and stream
    checkpoint replays the batch — so the sink must be IDEMPOTENT, not
    guarded: a replayed batch overwrites its own partition with
    identical rows instead of double-merging into the tier. The
    committed tier stays untouched until `compact_stream_partials`
    folds partials in (the Iceberg append-only + compaction shape);
    `read_stream_hour_tier` serves the exact up-to-date aggregate
    meanwhile by merging tier + partials at read time."""
    from drought_t_spark.operators import rollup as R

    t1 = R.with_event_time(read_sequence_stream(spark, path, files_per_trigger))
    sid: list[str] = []  # resolved lazily: metadata exists once started

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        if not sid:
            sid.append(_stream_identity(checkpoint_dir))
        part = R.rollup_hour(batch_df).withColumn(
            "batch_key", F.lit(f"{sid[0]}-{int(batch_id)}")
        )
        wh.write_partitioned(part, PARTIALS_TBL, ["batch_key"])

    return (
        t1.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )


def _merge_agg():
    # built lazily: Column construction needs an active SparkContext
    return [
        F.sum("n_seq").alias("n_seq"),
        F.sum("n_tok_sum").alias("n_tok_sum"),
        F.min("n_tok_min").alias("n_tok_min"),
        F.max("n_tok_max").alias("n_tok_max"),
    ]


_STAT_COLS = ["source", "bucket_start", "n_seq", "n_tok_sum", "n_tok_min", "n_tok_max"]


def _merge_with_tier(spark: SparkSession, wh, partials: DataFrame) -> DataFrame:
    """Committed tier ⊎ `partials`, re-aggregated ONLY where partials
    touch: tier rows whose (source, bucket_start) has no partial pass
    through untouched (a left-anti join — no re-aggregation), the rest
    merge on the mergeable integer stats. Cost is O(|touched keys|), not
    O(full tier) — the property that keeps frequent merges viable when
    the committed tier is 100 TB and a batch touches a handful of
    buckets."""
    from drought_t_spark.operators.rollup import _finish

    p = partials.select(*_STAT_COLS)
    if not wh.exists("agg.tier_hour"):
        return _finish(p.groupBy("source", "bucket_start").agg(*_merge_agg()))
    tier = wh.read(spark, "agg.tier_hour").where(~F.col("gap_filled")).select(*_STAT_COLS)
    keys = p.select("source", "bucket_start").distinct()
    untouched = tier.join(keys, ["source", "bucket_start"], "left_anti")
    touched = tier.join(keys, ["source", "bucket_start"], "left_semi")
    merged = (
        touched.unionByName(p)
        .groupBy("source", "bucket_start")
        .agg(*_merge_agg())
    )
    return _finish(untouched.unionByName(merged))


def read_stream_hour_tier(spark: SparkSession, wh) -> DataFrame:
    """The live continuous aggregate: committed tier ⊎ stream partials.
    Exact at any moment; only buckets the partials touch are re-merged —
    untouched tier rows are served as-is. Cost grows with un-compacted
    batch count (bucket-level rows per batch), so compact periodically."""
    from drought_t_spark.operators.rollup import _finish

    has_partials = wh.exists(PARTIALS_TBL)
    assert wh.exists("agg.tier_hour") or has_partials, "no tier data ingested yet"
    if not has_partials:
        return _finish(
            wh.read(spark, "agg.tier_hour").where(~F.col("gap_filled")).select(*_STAT_COLS)
        )
    return _merge_with_tier(spark, wh, wh.read(spark, PARTIALS_TBL))


def compact_stream_partials(spark: SparkSession, wh, job_id: str = "stream-compact") -> int:
    """Fold stream partials into the committed hour tier and drop them.

    Incremental: only SOURCE partitions present in the partials are
    rewritten (dynamic partition overwrite + an explicit bucket-level
    merge); every other committed partition's files are untouched —
    compaction cost is O(partials ∪ affected sources), not O(full tier).

    The folded set and the dropped set are IDENTICAL by construction:
    the batch_key list is collected once and both the merge input and
    the partition drop are filtered to it, so a micro-batch landing
    between the two (stream still running) is neither folded nor
    dropped — it just waits for the next compaction. Folded batch_keys
    (= <stream-id>-<batch_id>, the stream id being the checkpoint's
    stable identity) are recorded as checkpoint partition ids, so a
    foreachBatch REPLAY of an already-folded batch (at-least-once
    delivery after a crash) is recognized and its recreated partition
    dropped without re-folding — no double count — while a FRESH
    checkpoint's batch 0 carries a new stream id and is folded normally
    (a bare-batch_id ledger would have silently dropped it). The ledger
    lookup is a driver-side Arrow scan of this job's folded batch ids
    (no Spark job), intersected with the present keys.
    Returns the number of batch partitions folded."""
    from drought_t_spark.ops import checkpoints as CP

    if not wh.exists(PARTIALS_TBL):
        return 0
    present = [
        str(r.batch_key)
        for r in wh.read(spark, PARTIALS_TBL).select("batch_key").distinct().collect()
    ]
    if not present:
        return 0
    folded_before = {f"batch:{b}" for b in present} & CP.committed_partitions(
        wh, job_id, "stream_compact"
    )
    replayed = [b for b in present if f"batch:{b}" in folded_before]
    if replayed:  # already in the tier — drop without re-folding
        wh.drop_partitions(PARTIALS_TBL, "batch_key", replayed)
    batch_keys = [b for b in present if f"batch:{b}" not in folded_before]
    if not batch_keys:
        return 0
    # pin the fold to exactly these batches: a later-landing partition
    # must not be folded here (it would be double-counted after replay)
    partials = wh.read(spark, PARTIALS_TBL).where(
        F.col("batch_key").isin(batch_keys)
    )
    n_partials = partials.count()  # BEFORE the partitions are dropped
    # merge ONLY the affected source partitions
    affected = partials.select("source").distinct()
    tier_affected = (
        wh.read(spark, "agg.tier_hour")
        .join(F.broadcast(affected), ["source"], "left_semi")
        .where(~F.col("gap_filled"))
        .select(*_STAT_COLS)
        if wh.exists("agg.tier_hour")
        else None
    )
    from drought_t_spark.operators.rollup import _finish

    u = partials.select(*_STAT_COLS)
    if tier_affected is not None:
        u = u.unionByName(tier_affected)
    merged = _finish(u.groupBy("source", "bucket_start").agg(*_merge_agg()))
    # dynamic overwrite replaces exactly the affected source partitions,
    # swapping them in at job commit, after the merge has read them
    n_out, token = wh.write_partitioned(
        merged, "agg.tier_hour", ["source"], key_cols=["source", "bucket_start"]
    )
    # ledger BEFORE the partition drop: a crash between the two leaves
    # folded-but-present partials, which the next compaction recognizes
    # from the ledger and drops WITHOUT re-folding (the `replayed` path
    # above). The only remaining unsafe window is tier-write → ledger —
    # a crash exactly there leaves folded partials unledgered and the
    # next compaction double-folds them. That gap is irreducible on the
    # parquet shim (two separate writes can't be atomic); on Iceberg the
    # tier overwrite and the ledger append become one transaction and
    # the window closes. Documented, not hidden.
    CP.record_commit(
        wh, job_id, "stream_compact", [f"batch:{b}" for b in batch_keys],
        snapshot_id=token, rows_in=n_partials, rows_out=n_out,
        metrics={"folded_batches": float(len(batch_keys))},
    )
    wh.drop_partitions(PARTIALS_TBL, "batch_key", batch_keys)
    return len(batch_keys)


def run_to_memory(spark: SparkSession, path: str, name: str = "stream_tier_hour"):
    """Drive the stream to completion over static files (test helper)."""
    agg = _streaming_hour_rollup(read_sequence_stream(spark, path))
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName(name)
        .start()
    )
    q.processAllAvailable()
    q.stop()
    return spark.sql(f"SELECT * FROM {name}")
