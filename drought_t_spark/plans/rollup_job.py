"""The resumable tier-rollup job (SURVEY.md §3.2 entry point #1).

One run = for each tier: process pending partition groups (sources with
no committed checkpoint), write tier stats + payload tables with
idempotent per-partition overwrite, record checkpoint/lineage/metrics
(each commit's metrics include `wall_s`, the driver wall time from the
stage's first read or write to its commit).

A tier's stats table and payload table are independent aggregations of
the same input, so the job writes them two at a time, side by side on
one two-thread pool that lives for the whole run; a tier commits only
after both writes have returned, and a failed write leaves no other
write running when the error leaves the job. Lineage comes from the
stats write itself: an `Observation` on the frame being written yields
`rows_in`, `tokens`, `rows_out` and the snapshot token, so the job
launches no sizing or read-back job and an empty group commits zeros.

`fail_after_groups` injects a crash for the resume test (§5.5): a
re-run must complete only the missing groups and yield a table
identical to a single-shot run.
"""

from __future__ import annotations

import time
from concurrent.futures import ThreadPoolExecutor, wait
from functools import partial

from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from drought_t_spark.operators import rollup as R
from drought_t_spark.ops import checkpoints as CP
from drought_t_spark.sources.warehouse import Warehouse


class InjectedFailure(RuntimeError):
    pass


def group_expr(n_groups: int):
    """Deterministic partition-group id for a source: pmod(xxhash64, n)."""
    return F.pmod(F.xxhash64("source"), F.lit(n_groups)).cast("int")


def _write_side_by_side(pool: ThreadPoolExecutor, spark: SparkSession, *writes):
    """Run the zero-argument `writes` on `pool` at once and return their
    results in order. Each runs under the caller's job group, description
    and scheduler pool (`inheritable_thread_target`). Every write has
    finished before this returns or raises, so no write outlives a
    failure of its sibling."""
    futures = [pool.submit(inheritable_thread_target(spark)(w)) for w in writes]
    wait(futures)
    return [f.result() for f in futures]


def run_rollup_job(
    spark: SparkSession,
    wh: Warehouse,
    seqs: DataFrame,
    job_id: str,
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
    ~executors/4 at scale so each group still fans out).

    Each group's (and each cascade tier's) stats write and payload write
    run side by side on one two-thread pool (a tier has two tables); the
    commit follows both. Lineage comes from the stats write: `rows_in`
    and `tokens` from an `Observation` on the frame being written,
    `rows_out` and the token from the write's own report. No job sizes
    the groups up front, so an empty group still runs its writes; they
    produce no rows and it commits zeros and "0:0"."""
    t1 = R.with_event_time(seqs).withColumn("_grp", group_expr(n_groups))
    # partition_id embeds n_groups: a resume with a different bucket
    # count must NOT trust old group ids (same id = different source
    # set), so stale checkpoints simply don't match and work re-runs —
    # idempotent sinks make that safe rather than silently gappy.
    done = CP.committed_partitions(wh, job_id, "hour")
    todo = [g for g in range(n_groups) if f"{n_groups}:{g}" not in done]

    with ThreadPoolExecutor(max_workers=2) as pool:
        for gi, g in enumerate(todo):
            t0 = time.perf_counter()
            part = t1.where(F.col("_grp") == g).drop("_grp")
            # rows_in and tokens are observed on the stats frame being
            # written, above its shuffle: n_seq and n_tok_sum are exact
            # integer partials, so their sums are the group's raw row
            # count and n_tok sum (an empty group observes nulls)
            seen = Observation()
            stats = R.rollup_hour(part).observe(
                seen, F.sum("n_seq").alias("n"), F.sum("n_tok_sum").alias("tok"))
            writes = [partial(wh.write_partitioned, stats, "agg.tier_hour", ["source"],
                              key_cols=["source", "bucket_start"])]
            if with_payloads:
                pay = R.pack_payloads(part, "hour", pre_partitioned=pre_partitioned)
                writes.append(partial(wh.write_partitioned, pay, "agg.payload_hour", ["source"]))
            (n_out, token), *_ = _write_side_by_side(pool, spark, *writes)
            m = seen.get
            CP.record_commit(
                wh, job_id, "hour", [f"{n_groups}:{g}"],
                snapshot_id=token, rows_in=m.get("n") or 0, rows_out=n_out,
                metrics={"rolled_points": float(n_out), "tokens": float(m.get("tok") or 0),
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
        for tier in ("day", "month"):
            if not todo and f"{tier}:all" in cascade_done:
                continue  # nothing new rolled in and the tier is committed
            t0 = time.perf_counter()
            finer = "hour" if tier == "day" else "day"
            # lineage comes from the write itself: rows_in is observed on
            # the cascade input, rows_out and the token on its output, so
            # the cascade DAG runs exactly once (the write) and no table
            # is read back
            seen_in = Observation()
            src = wh.read(spark, f"agg.tier_{finer}")
            writes = [partial(
                wh.write_partitioned,
                R.cascade(src.observe(seen_in, F.count(F.lit(1)).alias("n")), tier),
                f"agg.tier_{tier}", ["source"], key_cols=["source", "bucket_start"],
            )]
            if with_payloads:
                # payload cascade reads the COMPRESSED finer payload tier
                # (never raw tokens — the 100 TB path: month payloads cost
                # one scan of day payloads) and is idempotent like the
                # stats cascade: full overwrite under the same stage token.
                # All three payload tiers existing is what lets
                # `read_payloads` route a [lo, hi) token range across the
                # retention horizon (plans/retention.py).
                pay_src = wh.read(spark, f"agg.payload_{finer}")
                writes.append(partial(
                    wh.write_partitioned, R.cascade_payloads(pay_src, tier),
                    f"agg.payload_{tier}", ["source"],
                ))
            (n_out, token), *_ = _write_side_by_side(pool, spark, *writes)
            CP.record_commit(
                wh, job_id, tier, partition_ids=[f"{tier}:all"],
                snapshot_id=token, rows_in=seen_in.get["n"], rows_out=n_out,
                metrics={"rolled_points": float(n_out),
                         "wall_s": time.perf_counter() - t0},
            )
