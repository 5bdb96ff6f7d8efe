"""Warehouse shim primitives: `overwrite_partitions` rewrites partitions
from a frame that reads those same partitions, drops the ones that come
out empty (also when Spark escapes the partition value in the directory
name), and leaves the table untouched when the rewrite job fails."""

import os
from urllib.parse import unquote

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from drought_t_spark.sources.warehouse import Warehouse

TBL = "t.parts"
SCHEMA = "source string, k int"
IDS = [("a", "b", "c"), ("st:1", "x/y=z", "50%")]


def _seed(spark, tmp_path, ids):
    a, b, c = ids
    wh = Warehouse(str(tmp_path / "wh"))
    rows = [(a, k) for k in range(6)] + [(b, k) for k in range(100, 104)] + [(c, k) for k in range(3)]
    wh.write_partitioned(spark.createDataFrame(rows, SCHEMA), TBL, ["source"])
    return wh


def _content(spark, wh):
    return sorted(tuple(r) for r in wh.read(spark, TBL).select("source", "k").collect())


def _partition_values(wh):
    return {unquote(n.split("=", 1)[1]) for n in os.listdir(wh.path(TBL))
            if n.startswith("source=")}


def _files(wh):
    """Every file and directory under the table, staging ones included."""
    root = wh.path(TBL)
    return sorted(os.path.relpath(os.path.join(d, n), root)
                  for d, subdirs, files in os.walk(root) for n in subdirs + files)


@pytest.mark.parametrize("ids", IDS, ids=["plain", "escaped"])
def test_overwrite_partitions_rewrites_from_its_own_partitions(spark, tmp_path, ids):
    a, b, c = ids
    wh = _seed(spark, tmp_path, ids)
    assert _partition_values(wh) == {a, b, c}
    # reads a and b; a keeps its even rows, b's rows all fail the data
    # filter (not a partition filter, so b is really read); c is not named
    t = wh.read(spark, TBL).where(F.col("source").isin(a, b))
    keep = t.where((F.col("k") < 100) & (F.col("k") % 2 == 0))
    rows, token = wh.overwrite_partitions(keep, TBL, "source", [a, b], key_cols=["source", "k"])
    assert rows == 3 and token.startswith("3:")
    assert _content(spark, wh) == sorted([(a, 0), (a, 2), (a, 4)] + [(c, k) for k in range(3)])
    assert _partition_values(wh) == {a, c}


@pytest.mark.parametrize("ids", IDS, ids=["plain", "escaped"])
def test_failed_rewrite_leaves_table_as_it_was(spark, tmp_path, ids):
    a, b, c = ids
    wh = _seed(spark, tmp_path, ids)
    before, files = _content(spark, wh), _files(wh)

    @F.udf("int")
    def boom(source, k):
        if source == b and k == 101:
            raise ValueError("injected task failure")
        return k

    t = wh.read(spark, TBL).where(F.col("source").isin(a, b))
    with pytest.raises(Exception, match="injected task failure"):
        wh.overwrite_partitions(
            t.withColumn("k", boom("source", "k")).where(F.col("k") > 0),
            TBL, "source", [a, b],
        )
    assert _content(spark, wh) == before
    assert _files(wh) == files


def test_read_with_declared_schema_launches_no_job(spark, tmp_path):
    """A read given the table's schema infers nothing: no Spark job runs
    until the frame is used, and it reads what an inferring read does."""
    wh = Warehouse(str(tmp_path / "wh"))
    wh.write_partitioned(spark.createDataFrame([("a", 1), ("b", 2)], SCHEMA), TBL, ["source"])
    declared = T.StructType([T.StructField("source", T.StringType()),
                             T.StructField("k", T.IntegerType())])
    sc = spark.sparkContext
    sc.setJobGroup("declared-read", "read with a declared schema")
    try:
        df = wh.read(spark, TBL, declared)
        assert list(sc.statusTracker().getJobIdsForGroup("declared-read")) == []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert df.schema == wh.read(spark, TBL).schema
    assert _content(spark, wh) == sorted(tuple(r) for r in df.select("source", "k").collect())


def test_read_with_declared_schema_fills_missing_column_with_nulls(spark, tmp_path):
    """A file written before a column was declared still reads: the
    column it lacks reads as null."""
    wh = Warehouse(str(tmp_path / "wh"))
    wh.write_partitioned(spark.createDataFrame([("a", 1)], SCHEMA), TBL, ["source"])
    declared = T.StructType([T.StructField("source", T.StringType()),
                             T.StructField("k", T.IntegerType()),
                             T.StructField("extra", T.LongType())])
    rows = wh.read(spark, TBL, declared).collect()
    assert [(r.source, r.k, r.extra) for r in rows] == [("a", 1, None)]
