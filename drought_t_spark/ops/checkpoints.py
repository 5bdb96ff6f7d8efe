"""Checkpoint / lineage / metrics — resumable stages (BASELINE.json:14;
SURVEY.md §2 SK1/SK2/J5, §4 checkpoint row).

Model: a stage processes PARTITION GROUPS (sets of sources). After each
group's sink write commits, one checkpoint row per partition plus a
lineage row and metrics rows are appended to the ops tables. On
restart, a stage skips (J5) the work items `committed_partitions`
lists — only unfinished groups re-run, and the sink's per-partition
overwrite makes re-runs idempotent (no duplicate buckets even if a
crash hit mid-write).

The ops rows are a handful per commit and produced on the driver, so
they never touch Spark: `record_commit` appends each table's rows as
one parquet file with pyarrow (`Warehouse.append_rows`, written to a
hidden temp name and published by an atomic rename, so readers never
see a partial file), and `committed_partitions` reads the checkpoint
table with `pyarrow.dataset`. A commit launches no Spark job.

Commit order: lineage and metrics first, the checkpoint row LAST — it
is the commit marker. A crash before it leaves lineage/metrics rows of
an uncommitted attempt (the re-run appends its own) but never a group
that resume trusts without its lineage.
"""

from __future__ import annotations

import os

import pyarrow.compute as pc
import pyarrow.dataset as ds
from pyspark.sql.pandas.types import to_arrow_schema

from drought_t_spark.sources.warehouse import Warehouse

CHECKPOINT_TBL = "ops.checkpoints"
LINEAGE_TBL = "ops.lineage"
METRICS_TBL = "ops.metrics"


def committed_partitions(wh: Warehouse, job_id: str, stage: str) -> set[str]:
    path = wh.path(CHECKPOINT_TBL)
    if not os.path.isdir(path):
        return set()
    # the declared schema, not one inferred from some file: a directory
    # holding only a crashed write's temp file reads as empty, and files
    # of older layouts (extra columns) are read by column name
    cp = ds.dataset(path, format="parquet",
                    schema=to_arrow_schema(wh.schema(CHECKPOINT_TBL))).to_table(
        columns=["partition_id"],
        filter=(pc.field("job_id") == job_id) & (pc.field("stage") == stage)
        & (pc.field("state") == "committed"),
    )
    return set(cp.column("partition_id").to_pylist())


def record_commit(
    wh: Warehouse,
    job_id: str,
    stage: str,
    partition_ids: list[str],
    snapshot_id: str,
    rows_in: int,
    rows_out: int,
    metrics: dict[str, float] | None = None,
) -> None:
    wh.append_rows(LINEAGE_TBL, [
        (job_id, stage, None, snapshot_id, ",".join(sorted(partition_ids)),
         rows_in, rows_out),
    ])
    if metrics:
        wh.append_rows(METRICS_TBL,
                       [(job_id, stage, k, float(v)) for k, v in metrics.items()])
    wh.append_rows(CHECKPOINT_TBL,
                   [(job_id, stage, p, "committed", snapshot_id) for p in partition_ids])
