"""The resumable tier-rollup job (SURVEY.md §3.2 entry point #1).

One run = for each tier: process pending partition groups (sources with
no committed checkpoint), write tier stats + payload tables with
idempotent per-partition overwrite, record checkpoint/lineage/metrics
(each commit's metrics include `wall_s`, the driver wall time from the
stage's first read or write to its commit).
`fail_after_groups` injects a crash for the resume test (§5.5): a
re-run must complete only the missing groups and yield a table
identical to a single-shot run.
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from drought_t_spark.config import EngineConfig, DEFAULT
from drought_t_spark.operators import rollup as R
from drought_t_spark.ops import checkpoints as CP
from drought_t_spark.sources.warehouse import Warehouse


class InjectedFailure(RuntimeError):
    pass


def group_expr(n_groups: int):
    """Deterministic partition-group id for a source: pmod(xxhash64, n)."""
    return F.pmod(F.xxhash64("source"), F.lit(n_groups)).cast("int")


def run_rollup_job(
    spark: SparkSession,
    wh: Warehouse,
    seqs: DataFrame,
    job_id: str,
    cfg: EngineConfig = DEFAULT,
    n_groups: int = 8,
    fail_after_groups: int | None = None,
    fail_before_cascade: bool = False,
    with_payloads: bool = True,
    pre_partitioned: bool = False,
) -> None:
    """Hour-tier rollup (stats + payloads) with checkpoint/resume, then
    cascaded day/month tiers (single idempotent stage each).

    ``pre_partitioned=True`` is the bucketed-T0 posture (sources/
    bucketed.py): set it ONLY when ``seqs`` is a `read_bucketed` scan
    (one task per source bucket). The group filter below preserves that
    containment, so the payload pack skips its repartition — the job's
    biggest shuffle — and the hour rollup goes exchange-free on its own
    (HashPartitioning(source) satisfies the grouping's clustering
    requirement). Semantically identical either way; test_bucketed.py
    pins job-level bit-parity.

    The checkpoint unit is a HASH BUCKET of sources
    (pmod(xxhash64(source), n_groups)), not a source list: the driver
    never materializes the source set (10^5+ sources at production
    scale), only the ≤ n_groups committed group ids — n_groups bounds
    both driver memory and the number of Spark jobs per run (pick
    ~executors/4 at scale so each group still fans out)."""
    t1 = R.with_event_time(seqs).withColumn("_grp", group_expr(n_groups))
    # partition_id embeds n_groups: a resume with a different bucket
    # count must NOT trust old group ids (same id = different source
    # set), so stale checkpoints simply don't match and work re-runs —
    # idempotent sinks make that safe rather than silently gappy.
    done = CP.committed_partitions(wh, job_id, "hour")
    todo = [g for g in range(n_groups) if f"{n_groups}:{g}" not in done]

    # ONE aggregation job sizes every pending group: empty groups commit
    # without launching write jobs, and per-group rows_in and tokens need
    # no second scan (the rollup is exact integer arithmetic, so the raw
    # n_tok sum equals the written n_tok_sum). ≤ n_groups rows reach the
    # driver — never the source set.
    grp_rows: dict[int, tuple[int, int]] = {}
    if todo:
        grp_rows = {
            r["_grp"]: (r["n"], r["tok"])
            for r in t1.groupBy("_grp")
            .agg(F.count("*").alias("n"), F.sum("n_tok").alias("tok"))
            .collect()
        }

    for gi, g in enumerate(todo):
        t0 = time.perf_counter()
        n_in, tok = grp_rows.get(g, (0, 0))
        if n_in == 0:
            CP.record_commit(
                wh, job_id, "hour", [f"{n_groups}:{g}"],
                snapshot_id="0:0", rows_in=0, rows_out=0,
                metrics={"rolled_points": 0.0, "tokens": 0.0,
                         "wall_s": time.perf_counter() - t0},
            )
            continue
        part = t1.where(F.col("_grp") == g).drop("_grp")
        n_out, token = wh.write_partitioned(
            R.rollup_hour(part), "agg.tier_hour", ["source"],
            key_cols=["source", "bucket_start"],
        )
        if with_payloads:
            pay = R.pack_payloads(part, "hour", cfg, pre_partitioned=pre_partitioned)
            wh.write_partitioned(pay, "agg.payload_hour", ["source"])
        CP.record_commit(
            wh, job_id, "hour", [f"{n_groups}:{g}"],
            snapshot_id=token, rows_in=n_in, rows_out=n_out,
            metrics={"rolled_points": float(n_out), "tokens": float(tok),
                     "wall_s": time.perf_counter() - t0},
        )
        if fail_after_groups is not None and gi + 1 >= fail_after_groups:
            raise InjectedFailure(f"injected crash after {gi + 1} groups")

    if fail_before_cascade:
        raise InjectedFailure("injected crash between hour and cascade tiers")

    # cascaded tiers — derived wholly from the committed hour tier; a
    # full overwrite per run is idempotent by construction, so the
    # checkpoint unit is ONE stage-level token (`{tier}:all`), never a
    # per-source list: the driver materializes no source set anywhere.
    cascade_done = (CP.committed_partitions(wh, job_id, "day")
                    | CP.committed_partitions(wh, job_id, "month"))
    hour = wh.read(spark, "agg.tier_hour")
    for tier in ("day", "month"):
        if not todo and f"{tier}:all" in cascade_done:
            continue  # nothing new rolled in and the tier is committed
        t0 = time.perf_counter()
        src = hour if tier == "day" else wh.read(spark, "agg.tier_day")
        # lineage comes from the write itself: rows_in is observed on the
        # cascade input, rows_out and the token on its output, so the
        # cascade DAG runs exactly once (the write) and no table is read back
        seen_in = Observation()
        n_out, token = wh.write_partitioned(
            R.cascade(src.observe(seen_in, F.count(F.lit(1)).alias("n")), tier),
            f"agg.tier_{tier}", ["source"], key_cols=["source", "bucket_start"],
        )
        if with_payloads:
            # payload cascade reads the COMPRESSED finer payload tier
            # (never raw tokens — the 100 TB path: month payloads cost
            # one scan of day payloads) and is idempotent like the
            # stats cascade: full overwrite under the same stage token.
            # All three payload tiers existing is what lets
            # `read_payloads` route a [lo, hi) token range across the
            # retention horizon (plans/retention.py).
            pay_src = wh.read(spark, f"agg.payload_{'hour' if tier == 'day' else 'day'}")
            wh.write_partitioned(
                R.cascade_payloads(pay_src, tier, cfg),
                f"agg.payload_{tier}", ["source"],
            )
        CP.record_commit(
            wh, job_id, tier, partition_ids=[f"{tier}:all"],
            snapshot_id=token, rows_in=seen_in.get["n"], rows_out=n_out,
            metrics={"rolled_points": float(n_out),
                     "wall_s": time.perf_counter() - t0},
        )
