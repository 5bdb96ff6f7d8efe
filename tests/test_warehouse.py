"""Warehouse shim primitives: `overwrite_partitions` rewrites partitions
from a frame that reads those same partitions, drops the ones that come
out empty (also when Spark escapes the partition value in the directory
name), and leaves the table untouched when the rewrite job fails. Every
table is read with its declared schema, and a write whose columns differ
from it is refused."""

import os
from urllib.parse import unquote

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from drought_t_spark import schemas as S
from drought_t_spark.sources.warehouse import Warehouse

TBL = "t.parts"
SCHEMA = "source string, k int"
DECLARED = T.StructType([T.StructField("source", T.StringType()),
                         T.StructField("k", T.IntegerType())])
IDS = [("a", "b", "c"), ("st:1", "x/y=z", "50%")]


@pytest.fixture(autouse=True)
def declared(monkeypatch):
    """Declare the test table, as `schemas.TABLES` declares the engine's."""
    monkeypatch.setitem(S.TABLES, TBL, DECLARED)


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
    """A read of a declared table infers nothing: no Spark job runs
    until the frame is used, and it reads the declared columns."""
    wh = Warehouse(str(tmp_path / "wh"))
    wh.write_partitioned(spark.createDataFrame([("a", 1), ("b", 2)], SCHEMA), TBL, ["source"])
    sc = spark.sparkContext
    sc.setJobGroup("declared-read", "read with a declared schema")
    try:
        df = wh.read(spark, TBL)
        assert list(sc.statusTracker().getJobIdsForGroup("declared-read")) == []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert {(f.name, f.dataType) for f in df.schema} == {(f.name, f.dataType) for f in DECLARED}
    assert sorted(tuple(r) for r in df.select("source", "k").collect()) == [("a", 1), ("b", 2)]


def test_read_with_declared_schema_fills_missing_column_with_nulls(spark, tmp_path, monkeypatch):
    """A file written before a column was declared still reads: the
    column it lacks reads as null."""
    wh = Warehouse(str(tmp_path / "wh"))
    wh.write_partitioned(spark.createDataFrame([("a", 1)], SCHEMA), TBL, ["source"])
    monkeypatch.setitem(S.TABLES, TBL, T.StructType(
        DECLARED.fields + [T.StructField("extra", T.LongType())]))
    rows = wh.read(spark, TBL).collect()
    assert [(r.source, r.k, r.extra) for r in rows] == [("a", 1, None)]


@pytest.mark.parametrize("frame", [
    "source string, k int, extra string",  # a column the table does not declare
    "source string, k bigint",             # a declared column of another type
    "source string",                       # a declared column missing
], ids=["extra-column", "wrong-type", "missing-column"])
def test_write_that_differs_from_the_declared_schema_is_refused(spark, tmp_path, frame):
    """The refusal comes before any Spark job, names the table and the
    column, and leaves the table's files as they were."""
    wh = _seed(spark, tmp_path, IDS[0])
    before, files = _content(spark, wh), _files(wh)
    n = len(frame.split(","))
    bad = spark.createDataFrame([("a", 7, "x")[:n]], frame)
    sc = spark.sparkContext
    sc.setJobGroup("refused-write", "a write the declaration refuses")
    try:
        with pytest.raises(ValueError, match=r"t\.parts.*(extra|k)"):
            wh.write_partitioned(bad, TBL, ["source"])
        assert list(sc.statusTracker().getJobIdsForGroup("refused-write")) == []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert _content(spark, wh) == before
    assert _files(wh) == files


def test_undeclared_table_is_an_error(spark, tmp_path):
    wh = Warehouse(str(tmp_path / "wh"))
    with pytest.raises(ValueError, match="t.undeclared"):
        wh.read(spark, "t.undeclared")
    with pytest.raises(ValueError, match="t.undeclared"):
        wh.write_partitioned(spark.createDataFrame([("a", 1)], SCHEMA), "t.undeclared",
                             ["source"])
    assert not os.path.exists(wh.path("t.undeclared"))


def test_append_of_a_row_that_differs_from_the_declared_schema_is_refused(tmp_path):
    """A driver row with a value the table does not declare, or one short
    of its columns, is refused before a file is written."""
    wh = Warehouse(str(tmp_path / "wh"))
    for row in (("a", 1, "extra"), ("a",)):
        with pytest.raises(ValueError):
            wh.append_rows(TBL, [row])
    assert not os.path.exists(wh.path(TBL))
    wh.append_rows(TBL, [("a", 1)])
    assert [n for n in os.listdir(wh.path(TBL)) if n.endswith(".parquet")]

