"""Streaming ingest of the hour tier (SURVEY.md §2.11) and the one
exactly-once micro-batch protocol every streamed path runs on.

`start_batch_ingest` is the engine's only streaming sink: each
micro-batch lands in its own idempotent `batch_key` partition of a
declared warehouse table. The stats ingest (`start_tier_ingest`), the
token ingest (`payload_stream`) and the run stream (`runs_stream`) all
write through it. The ledgered `fold_batches` folds the stats
partials and the raw token rows into the committed tables, and
`live_batches` serves the un-folded ones. Stats partials are
mergeable, so the live hour tier (`read_stream_hour_tier`) is exact at
any moment, late rows included, with no watermark and no windowed
state. Batch tiers remain the contract.

Run segmentation (RL1/RL2/EV1) streams separately: `runs_stream`
folds each micro-batch through the drought kernel's run step
(`operators.runs.run_table`) and emits every run as it closes. Pooling
and exclusion stay batch (pooling's fixed point needs the full event
list), so the drought job re-runs per tier on the committed table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from drought_t_spark import schemas as S
from drought_t_spark.operators import rollup as R


def _read_sequence_stream(spark: SparkSession, path: str, files_per_trigger: int) -> DataFrame:
    """T0 sequences (`schemas.SEQUENCES`) streamed from parquet files
    under `path`, with their event time (`R.with_event_time`)."""
    return R.with_event_time(
        spark.readStream.schema(S.SEQUENCES)
        .option("maxFilesPerTrigger", files_per_trigger)
        .parquet(path)
    )


PARTIALS_TBL = "agg.stream_partials_hour"
TIER_TBL = "agg.tier_hour"


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


def start_batch_ingest(stream: DataFrame, wh, checkpoint_dir: str, table: str, to_rows):
    """Run the streaming frame `stream` from `checkpoint_dir`: each
    micro-batch's `to_rows(batch)` lands in `table` partitioned by
    `batch_key = <stream-id>-<batch_id>` via idempotent partition
    overwrite. The sink is at-least-once — a crash between sink and
    stream checkpoint replays the batch — so the sink must be IDEMPOTENT,
    not guarded: a replay overwrites its own partition with the same
    rows, and `fold_batches` drops a replay of a batch it already
    folded. Returns the running StreamingQuery."""
    sid: list[str] = []  # resolved lazily: metadata exists once started

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        if not sid:
            sid.append(_stream_identity(checkpoint_dir))
        part = to_rows(batch_df).withColumn(
            "batch_key", F.lit(f"{sid[0]}-{int(batch_id)}")
        )
        wh.write_partitioned(part, table, ["batch_key"])

    return (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )


def _batch_keys(wh, table: str, job_id: str, scope: str) -> tuple[list[str], list[str]]:
    """(live, folded) batch keys present in `table`, from a listing of
    its partition directories and the ledger (checkpoint rows of
    `job_id`/`scope`), both read on the driver without a Spark job."""
    from drought_t_spark.ops import checkpoints as CP

    present = sorted(wh.partitions(table, "batch_key"))
    ledger = CP.committed_partitions(wh, job_id, scope)
    folded = [b for b in present if f"batch:{b}" in ledger]
    return [b for b in present if f"batch:{b}" not in ledger], folded


def live_batches(spark: SparkSession, wh, table: str, job_id: str,
                 scope: str) -> DataFrame | None:
    """Rows of `table`'s not yet folded batch partitions, or None: a
    replayed partition of a folded batch is left out, so a live view
    never counts a batch twice."""
    live, _ = _batch_keys(wh, table, job_id, scope)
    if not live:
        return None
    return wh.read(spark, table).where(F.col("batch_key").isin(live))


def fold_batches(spark: SparkSession, wh, table: str, job_id: str,
                 scope: str, fold) -> int:
    """Fold `table`'s micro-batch partitions exactly once: drop the
    replays of folded batches, pin the live keys, count their rows, let
    `fold(partials)` write them and return its commit report
    `(rows, token)`, ledger the keys (`rows_in` = partial rows,
    `rows_out` = rows the fold wrote), then drop their partitions.

    The key list is taken once and both the fold input and the drop are
    restricted to it, so a micro-batch landing in between (stream still
    running) is neither folded nor dropped: it waits for the next fold.
    Returns the number of batch partitions folded."""
    from drought_t_spark.ops import checkpoints as CP

    live, folded = _batch_keys(wh, table, job_id, scope)
    # a replay of an already-folded batch: drop it without re-folding
    wh.drop_partitions(table, "batch_key", folded)
    if not live:
        return 0
    partials = wh.read(spark, table).where(F.col("batch_key").isin(live))
    n_partials = partials.count()  # BEFORE the partitions are dropped
    n_out, token = fold(partials)
    # ledger BEFORE the partition drop: a crash between the two leaves
    # folded-but-present partials, which the next fold recognizes from
    # the ledger and drops WITHOUT re-folding (above). The only unsafe
    # window is fold write → ledger: a crash exactly there leaves folded
    # partials unledgered and the next fold folds them twice. Two
    # separate writes can't be atomic on the parquet shim; on Iceberg the
    # table write and the ledger append are one transaction.
    CP.record_commit(
        wh, job_id, scope, [f"batch:{b}" for b in live],
        snapshot_id=token, rows_in=n_partials, rows_out=n_out,
        metrics={"folded_batches": float(len(live))},
    )
    wh.drop_partitions(table, "batch_key", live)
    return len(live)


def start_tier_ingest(spark: SparkSession, path: str, wh, checkpoint_dir: str,
                      files_per_trigger: int = 1):
    """Each micro-batch's hour partials (mergeable integer stats) land
    in `agg.stream_partials_hour` until `compact_stream_partials` folds
    them into the tier (the Iceberg append-only + compaction shape)."""
    return start_batch_ingest(_read_sequence_stream(spark, path, files_per_trigger),
                              wh, checkpoint_dir, PARTIALS_TBL, R.rollup_hour)


_STAT_COLS = ["source", "bucket_start", "n_seq", "n_tok_sum", "n_tok_min", "n_tok_max"]
_COMPACT_JOB, _COMPACT_SCOPE = "stream-compact", "stream_compact"


def _committed_tier(spark: SparkSession, wh) -> DataFrame | None:
    if not wh.exists(TIER_TBL):
        return None
    return wh.read(spark, TIER_TBL).where(~F.col("gap_filled")).select(*_STAT_COLS)


def _merge_with_tier(partials: DataFrame | None, tier: DataFrame | None) -> DataFrame:
    """`tier` ⊎ `partials`, re-aggregated ONLY where partials touch:
    tier rows whose (source, bucket_start) has no partial pass through
    untouched (a left-anti join — no re-aggregation), the rest merge on
    the mergeable integer stats: cost O(|touched keys|), not O(|tier|).
    The live view passes the whole tier, compaction the tier of the
    sources it rewrites."""
    if partials is None:
        return R._finish(tier)
    p = partials.select(*_STAT_COLS)
    if tier is None:
        return R._finish(p.groupBy("source", "bucket_start").agg(*R._merge_stats()))
    keys = p.select("source", "bucket_start").distinct()
    untouched = tier.join(keys, ["source", "bucket_start"], "left_anti")
    touched = tier.join(keys, ["source", "bucket_start"], "left_semi")
    merged = (
        touched.unionByName(p)
        .groupBy("source", "bucket_start")
        .agg(*R._merge_stats())
    )
    return R._finish(untouched.unionByName(merged))


def read_stream_hour_tier(spark: SparkSession, wh) -> DataFrame:
    """The live continuous aggregate: committed tier ⊎ un-folded stream
    partials, exact at any moment (a replayed, already-compacted batch
    included). Cost grows with the un-compacted batch count, so compact
    periodically."""
    partials = live_batches(spark, wh, PARTIALS_TBL, _COMPACT_JOB, _COMPACT_SCOPE)
    tier = _committed_tier(spark, wh)
    if tier is None and partials is None:
        raise ValueError("no hour-tier data ingested yet")
    return _merge_with_tier(partials, tier)


def compact_stream_partials(spark: SparkSession, wh) -> int:
    """Fold stream partials into the committed hour tier (`fold_batches`,
    ledger scope `stream_compact`). Only SOURCE partitions present in the
    partials are rewritten; every other partition's files are untouched,
    so the cost is O(partials ∪ affected sources), not O(full tier).
    The ledger's job id is the one `read_stream_hour_tier` reads, so a
    replayed, already-folded batch is never counted twice. Returns the
    number of batch partitions folded."""

    def fold(partials: DataFrame):
        tier = _committed_tier(spark, wh)
        if tier is not None:
            affected = partials.select("source").distinct()
            tier = tier.join(F.broadcast(affected), ["source"], "left_semi")
        # dynamic overwrite replaces exactly the affected source
        # partitions, swapping them in at job commit, after the merge
        # has read them
        return wh.write_partitioned(
            _merge_with_tier(partials, tier), TIER_TBL, ["source"],
            key_cols=["source", "bucket_start"],
        )

    return fold_batches(spark, wh, PARTIALS_TBL, _COMPACT_JOB, _COMPACT_SCOPE, fold)

