"""Warehouse catalog shim (SURVEY.md §1.2).

Iceberg is the production target (`writeTo(...).overwritePartitions()`,
snapshot ids as checkpoint tokens); this sandbox has no Iceberg runtime
jar, so the shim provides the same primitives over a plain parquet
warehouse with hive-style partitioning:

* declared schemas — `schemas.TABLES` (Iceberg: table metadata): every
  read uses it, so none infers, and a write that differs is refused, so
  no undeclared column is stored for a read to drop;
* idempotent partition overwrite — dynamic partitionOverwriteMode
  (re-running a stage replaces exactly the partitions it produces);
* in-place rewrite — `overwrite_partitions` replaces a named set of
  partitions with a frame that may read those same partitions, and
  drops the ones the frame left empty (Iceberg: `overwrite(isin)`);
* append — `append_rows` writes the ops tables' driver-produced rows
  as one zstd parquet file per call with pyarrow (no Spark job),
  published by an atomic rename so no reader ever sees a partial file;
* commit report — `write_partitioned(..., key_cols)` returns the rows
  it wrote and a deterministic content token (row count + sum of a key
  hash), standing in for the Iceberg snapshot id. Both are observed
  while the rows flow into the write, so lineage costs no second scan.

On a real cluster: add iceberg-spark-runtime via --packages and swap
`write_partitioned` for `df.writeTo(tbl).overwritePartitions()`; the
call sites do not change shape.
"""

from __future__ import annotations

import os
import shutil
import time
import uuid
from urllib.parse import unquote

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

from drought_t_spark.schemas import TABLES


class Warehouse:
    def __init__(self, root: str):
        self.root = root
        os.makedirs(root, exist_ok=True)

    def path(self, table: str) -> str:
        return os.path.join(self.root, table.replace(".", "/"))

    def exists(self, table: str) -> bool:
        p = self.path(table)
        return os.path.isdir(p) and any(
            f.endswith(".parquet") or f.startswith(("source=", "part")) or "=" in f
            for f in os.listdir(p)
        )

    @staticmethod
    def schema(table: str) -> T.StructType:
        """`table`'s declared schema, from `schemas.TABLES`."""
        if table not in TABLES:
            raise ValueError(f"table {table!r} has no schema in schemas.TABLES")
        return TABLES[table]

    def read(self, spark: SparkSession, table: str) -> DataFrame:
        """Read `table` with its declared schema: building the frame
        launches no Spark job. A file that lacks a declared column reads
        it as null."""
        return spark.read.schema(self.schema(table)).parquet(self.path(table))

    def write_partitioned(
        self,
        df: DataFrame,
        table: str,
        partition_cols: list[str],
        key_cols: list[str] | None = None,
    ) -> tuple[int, str] | None:
        """Idempotent per-partition overwrite (Iceberg overwritePartitions
        stand-in): only partitions present in `df` are replaced.

        With `key_cols`, returns the commit report `(rows_written, token)`
        of exactly the rows this write produced. The token
        `"{count}:{sum}"` (Iceberg snapshot-id stand-in) sums xxhash64 of
        the keys as decimal(38,0): order-independent and overflow-free
        under ANSI (int64 summands can't exhaust 38 digits below ~10^19
        rows) — unlike int64 sum (scheduling-dependent ANSI overflow) or
        bit_xor (self-cancelling: keys duplicated an even number of times
        contribute nothing, so duplicate-shuffled datasets with equal row
        counts could collide). Both come from a `df.observe` on the write
        itself. Observed metrics are merged once per successful task, the
        same condition as action accumulators: exact for rows produced in
        the write's own stage; an observation below a shuffle can
        over-count if a lost map output forces its stage to re-run.
        A frame whose column names or types differ from the declared
        schema is refused before any Spark job runs."""
        got, want = ({f.name: f.dataType.simpleString() for f in s}
                     for s in (df.schema, self.schema(table)))
        if got != want:
            raise ValueError(f"refusing to write {table}: columns {got} != declared {want}")
        obs = None
        if key_cols is not None:
            obs = Observation()
            df = df.observe(
                obs,
                F.count(F.lit(1)).alias("n"),
                F.sum(F.xxhash64(*key_cols).cast("decimal(38,0)")).alias("h"),
            )
        writer = (
            # a write option, not the session conf, so concurrent writes
            # from several threads share no mutable setting
            df.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy(*partition_cols)
        )
        try:
            writer.parquet(self.path(table))
        except Exception:
            self._remove_aborted_staging(df.sparkSession, table)
            raise
        if obs is None:
            return None
        m = obs.get
        return m["n"], f"{m['n']}:{m['h'] or 0}"

    def _remove_aborted_staging(self, spark: SparkSession, table: str) -> None:
        """Leave a failed write's table as it was. The job abort deletes
        the write's `.spark-staging-*` directory, but tasks the abort
        killed can still be writing and create it again (Spark then logs
        `FileOutputCommitter: Could not delete ... attempt_...`). So wait,
        up to a minute, until no unfinished job of this thread's job group
        has a running task, then remove the table's staging directories."""
        st = spark.sparkContext.statusTracker()
        group = spark.sparkContext.getLocalProperty("spark.jobGroup.id")
        jobs = [st.getJobInfo(j) for j in st.getJobIdsForGroup(group)]
        stages = [s for j in jobs if j and j.status != "SUCCEEDED" for s in j.stageIds]

        def running() -> bool:
            return any((i := st.getStageInfo(s)) and i.numActiveTasks for s in stages)

        deadline = time.monotonic() + 60
        while running() and time.monotonic() < deadline:
            time.sleep(0.05)
        d = self.path(table)
        for name in os.listdir(d) if os.path.isdir(d) else []:
            if name.startswith(".spark-staging-"):
                shutil.rmtree(os.path.join(d, name), ignore_errors=True)

    def append_rows(self, table: str, rows: list[tuple]) -> None:
        """Append driver rows (declared column order) as one new parquet
        file, without Spark.

        The file is written under a dot-prefixed name that does not end
        in `.parquet` — invisible to Spark, `pyarrow.dataset` and a
        `*.parquet` glob — and published with `os.replace`, atomic on
        one filesystem: a crash mid-write leaves only an ignored temp
        file, never a partial part file. A row of another width than the
        declared schema is refused."""
        arrow = to_arrow_schema(self.schema(table))
        data = pa.Table.from_pylist(
            [dict(zip(arrow.names, r, strict=True)) for r in rows], schema=arrow)
        d = self.path(table)
        os.makedirs(d, exist_ok=True)
        name = f"part-{uuid.uuid4()}.parquet"
        tmp = os.path.join(d, f".{name}.tmp")
        pq.write_table(data, tmp, compression="zstd")
        os.replace(tmp, os.path.join(d, name))

    def overwrite_partitions(
        self,
        df: DataFrame,
        table: str,
        partition_col: str,
        values: list[str],
        key_cols: list[str] | None = None,
    ) -> tuple[int, str] | None:
        """Replace partitions `values` of `table` with the rows of `df`
        (Iceberg: `df.writeTo(t).overwrite(col(partition_col).isin(values))`).
        Every row of `df` must lie in `values`.

        `df` may read the partitions it replaces: dynamic overwrite stages
        the output and swaps each partition in at job commit, after every
        task has read its input, and a failed job discards the staging
        directory, leaving the table as it was. A partition in `values`
        that the write did not produce is dropped after the commit; the
        written set is observed on the write itself, so finding it costs
        no extra scan. Returns `write_partitioned`'s commit report."""
        obs = Observation()
        df = df.observe(obs, F.collect_set(partition_col).alias("written"))
        report = self.write_partitioned(df, table, [partition_col], key_cols)
        written = set(obs.get["written"])
        self.drop_partitions(table, partition_col, [v for v in values if v not in written])
        return report

    def partitions(self, table: str, partition_col: str) -> dict[str, str]:
        """{value: directory} of `table`'s `partition_col` partitions,
        listed on the driver (no Spark job). Spark escapes characters
        such as `:`, `/`, `=` and `%` in partition directory names
        (`st:1` is written as `source=st%3A1`), so each value is the
        unescaped directory name."""
        d = self.path(table)
        if not os.path.isdir(d):
            return {}
        prefix = f"{partition_col}="
        return {
            unquote(name[len(prefix):]): os.path.join(d, name)
            for name in os.listdir(d) if name.startswith(prefix)
        }

    def drop_partitions(self, table: str, partition_col: str, values: list[str]) -> None:
        """Remove whole hive partitions (Iceberg stand-in for a
        partition-predicate DELETE + expire_snapshots), matched by their
        unescaped value (`partitions`)."""
        doomed = set(values)
        for value, d in self.partitions(table, partition_col).items():
            if value in doomed:
                shutil.rmtree(d, ignore_errors=True)
