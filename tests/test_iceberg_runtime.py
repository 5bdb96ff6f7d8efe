"""Opportunistic real-Iceberg smoke test (docs/ICEBERG.md swap table).

This sandbox ships no iceberg-spark-runtime jar and has no network for
`--packages`, so the whole module SKIPS unless a jar is provided via
``$SPARK_GRAFT_ICEBERG_JAR`` (or one is already on the PySpark
classpath). When a driver environment ever supplies the jar, this test
exercises the production write path the shim stands in for:

* `writeTo(...).overwritePartitions()` — idempotent per-partition
  overwrite (the resume contract);
* snapshot ids from the catalog's metadata log as checkpoint tokens
  (monotone, distinct per commit);
* a re-run overwriting the same partitions leaves row content identical
  (what `test_resume` proves on the shim).
"""

from __future__ import annotations

import glob
import os

import pytest


def _iceberg_jar() -> str | None:
    env = os.environ.get("SPARK_GRAFT_ICEBERG_JAR")
    if env and os.path.exists(env):
        return env
    import pyspark

    hits = glob.glob(
        os.path.join(os.path.dirname(pyspark.__file__), "jars", "*iceberg-spark-runtime*")
    )
    return hits[0] if hits else None


JAR = _iceberg_jar()

pytestmark = pytest.mark.skipif(
    JAR is None,
    reason="no iceberg-spark-runtime jar in this environment "
    "(set SPARK_GRAFT_ICEBERG_JAR to enable)",
)


@pytest.fixture(scope="module")
def ispark(tmp_path_factory):
    """Separate session: an Iceberg hadoop catalog rooted in tmp."""
    from pyspark.sql import SparkSession

    wh_dir = str(tmp_path_factory.mktemp("iceberg_wh"))
    s = (
        SparkSession.builder.appName("iceberg-smoke")
        .master("local[4]")
        .config("spark.jars", JAR)
        .config("spark.sql.catalog.wh", "org.apache.iceberg.spark.SparkCatalog")
        .config("spark.sql.catalog.wh.type", "hadoop")
        .config("spark.sql.catalog.wh.warehouse", wh_dir)
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.session.timeZone", "UTC")
        .getOrCreate()
    )
    yield s
    s.stop()


def _snapshot_ids(spark, tbl: str) -> list[int]:
    return [
        r.snapshot_id
        for r in spark.sql(f"SELECT snapshot_id FROM {tbl}.snapshots ORDER BY committed_at").collect()
    ]


def test_overwrite_partitions_idempotent_with_snapshot_ids(ispark):
    from pyspark.sql import functions as F

    from drought_t_spark import synth
    from drought_t_spark.operators import rollup as R

    ispark.sql(
        """CREATE TABLE IF NOT EXISTS wh.agg.tier_hour (
             source string, bucket_start timestamp,
             n_seq bigint, n_tok_sum bigint, n_tok_min int, n_tok_max int,
             n_tok_avg double, value double, gap_filled boolean)
           USING iceberg PARTITIONED BY (days(bucket_start), bucket(8, source))"""
    )
    seqs = synth.sequences_df(ispark, n_sources=3, n_total=3000, slices=4)
    hour = R.rollup_hour(R.with_event_time(seqs)).select(
        "source", "bucket_start",
        F.col("n_seq").cast("long").alias("n_seq"), "n_tok_sum",
        "n_tok_min", "n_tok_max", "n_tok_avg", "value", "gap_filled",
    )
    hour.writeTo("wh.agg.tier_hour").overwritePartitions()
    first = ispark.read.table("wh.agg.tier_hour")
    n1 = first.count()
    tok1 = first.agg(F.sum("n_tok_sum")).first()[0]
    snaps1 = _snapshot_ids(ispark, "wh.agg.tier_hour")
    assert n1 > 0 and len(snaps1) >= 1

    # idempotent re-run: same partitions overwritten, content unchanged,
    # and a NEW distinct snapshot id = the checkpoint token
    hour.writeTo("wh.agg.tier_hour").overwritePartitions()
    second = ispark.read.table("wh.agg.tier_hour")
    assert second.count() == n1
    assert second.agg(F.sum("n_tok_sum")).first()[0] == tok1
    snaps2 = _snapshot_ids(ispark, "wh.agg.tier_hour")
    assert len(snaps2) == len(snaps1) + 1 and len(set(snaps2)) == len(snaps2)
