"""Checkpoint / lineage / metrics — resumable stages (BASELINE.json:14;
SURVEY.md §2 SK1/SK2/J5, §4 checkpoint row).

Model: a stage processes PARTITION GROUPS (sets of sources). After each
group's sink write commits, one checkpoint row per partition plus a
lineage row and metrics rows are appended to the ops tables. On
restart, `pending_partitions` anti-joins (J5) the stage's work list
against committed checkpoints — only unfinished groups re-run, and the
sink's per-partition overwrite makes re-runs idempotent (no duplicate
buckets even if a crash hit mid-write).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from drought_t_spark.schemas import CHECKPOINTS, LINEAGE, METRICS
from drought_t_spark.sources.warehouse import Warehouse

CHECKPOINT_TBL = "ops.checkpoints"
LINEAGE_TBL = "ops.lineage"
METRICS_TBL = "ops.metrics"


def committed_partitions(spark: SparkSession, wh: Warehouse, job_id: str, stage: str) -> DataFrame:
    if not wh.exists(CHECKPOINT_TBL):
        return spark.createDataFrame([], "partition_id string")
    cp = wh.read(spark, CHECKPOINT_TBL)
    return (
        cp.where((F.col("job_id") == job_id) & (F.col("stage") == stage)
                 & (F.col("state") == "committed"))
        .select("partition_id")
        .distinct()
    )


def pending_partitions(spark: SparkSession, wh: Warehouse, job_id: str, stage: str,
                       work: DataFrame, key: str = "source") -> DataFrame:
    """J5 — work items with no committed checkpoint."""
    done = committed_partitions(spark, wh, job_id, stage)
    return work.join(
        done.withColumnRenamed("partition_id", key), [key], "left_anti"
    )


def record_commit(
    spark: SparkSession,
    wh: Warehouse,
    job_id: str,
    stage: str,
    partition_ids: list[str],
    snapshot_id: str,
    rows_in: int,
    rows_out: int,
    metrics: dict[str, float] | None = None,
) -> None:
    cp = spark.createDataFrame(
        [(job_id, stage, p, "committed", snapshot_id) for p in partition_ids],
        CHECKPOINTS,
    )
    wh.append(cp, CHECKPOINT_TBL)
    ln = spark.createDataFrame(
        [(job_id, stage, None, snapshot_id, ",".join(sorted(partition_ids)),
          rows_in, rows_out)],
        LINEAGE,
    )
    wh.append(ln, LINEAGE_TBL)
    if metrics:
        mt = spark.createDataFrame(
            [(job_id, stage, k, float(v)) for k, v in metrics.items()], METRICS
        )
        wh.append(mt, METRICS_TBL)
