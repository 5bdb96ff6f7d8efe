"""Checkpoint/resume (SURVEY.md §5.5; BASELINE.json:14): kill the
rollup job mid-run, re-run, assert no duplicate buckets and a final
table identical to a single-shot run; lineage/metrics recorded."""

import pytest
from pyspark.sql import functions as F

from drought_t_spark import synth
from drought_t_spark.config import DEFAULT
from drought_t_spark.ops import checkpoints as CP
from drought_t_spark.plans.rollup_job import InjectedFailure, run_rollup_job
from drought_t_spark.sources.warehouse import Warehouse

CFG = DEFAULT


@pytest.fixture(scope="module")
def seqs(spark):
    return synth.sequences_df(spark, n_sources=6, n_total=4000).cache()


def _tier_key(df):
    return df.select("source", "bucket_start", "n_seq", "n_tok_sum")


def test_crash_resume_identical_to_single_shot(spark, seqs, tmp_path):
    wh1 = Warehouse(str(tmp_path / "wh_single"))
    run_rollup_job(spark, wh1, seqs, "job1", CFG, n_groups=3, with_payloads=False)
    single = _tier_key(wh1.read(spark, "agg.tier_hour")).toPandas()

    wh2 = Warehouse(str(tmp_path / "wh_crashed"))
    with pytest.raises(InjectedFailure):
        run_rollup_job(spark, wh2, seqs, "job1", CFG, n_groups=3,
                       fail_after_groups=1, with_payloads=False)
    # partial state: some groups committed, not all
    committed = CP.committed_partitions(spark, wh2, "job1", "hour").count()
    assert 0 < committed < 3

    run_rollup_job(spark, wh2, seqs, "job1", CFG, n_groups=3, with_payloads=False)
    resumed = _tier_key(wh2.read(spark, "agg.tier_hour")).toPandas()

    key = ["source", "bucket_start"]
    a = single.sort_values(key).reset_index(drop=True)
    b = resumed.sort_values(key).reset_index(drop=True)
    assert a.equals(b)
    # no duplicate buckets
    assert resumed.duplicated(subset=key).sum() == 0
    # day/month tiers exist and are consistent
    day = wh2.read(spark, "agg.tier_day")
    assert day.agg(F.sum("n_tok_sum")).first()[0] == b.n_tok_sum.sum()


def test_crash_before_cascade_resumes_with_stage_token(spark, seqs, tmp_path):
    """Crash between the hour tier and the cascade: the resume must
    complete day/month WITHOUT materializing a source listing — the
    cascade checkpoint is the single stage token `{tier}:all`."""
    wh = Warehouse(str(tmp_path / "wh_casc"))
    with pytest.raises(InjectedFailure):
        run_rollup_job(spark, wh, seqs, "jobC", CFG, n_groups=3,
                       fail_before_cascade=True, with_payloads=False)
    assert CP.committed_partitions(spark, wh, "jobC", "hour").count() == 3
    assert CP.committed_partitions(spark, wh, "jobC", "day").count() == 0

    run_rollup_job(spark, wh, seqs, "jobC", CFG, n_groups=3, with_payloads=False)
    for tier in ("day", "month"):
        parts = [r.partition_id for r in
                 CP.committed_partitions(spark, wh, "jobC", tier).collect()]
        assert parts == [f"{tier}:all"]  # stage token, never a source list
    hour_tok = wh.read(spark, "agg.tier_hour").agg(F.sum("n_tok_sum")).first()[0]
    day_tok = wh.read(spark, "agg.tier_day").agg(F.sum("n_tok_sum")).first()[0]
    assert hour_tok == day_tok


def test_resume_skips_committed_work(spark, seqs, tmp_path):
    wh = Warehouse(str(tmp_path / "wh_skip"))
    run_rollup_job(spark, wh, seqs, "jobX", CFG, n_groups=3, with_payloads=False)
    from drought_t_spark.plans.rollup_job import group_expr

    work = seqs.select(
        F.concat(F.lit("3:"), group_expr(3).cast("string")).alias("source")
    ).distinct()
    pend = CP.pending_partitions(spark, wh, "jobX", "hour", work)
    assert pend.count() == 0  # every group committed → nothing pending


def test_lineage_and_metrics_written(spark, seqs, tmp_path):
    wh = Warehouse(str(tmp_path / "wh_ops"))
    run_rollup_job(spark, wh, seqs, "jobL", CFG, n_groups=3, with_payloads=False)
    ln = wh.read(spark, CP.LINEAGE_TBL).toPandas()
    mt = wh.read(spark, CP.METRICS_TBL).toPandas()
    assert (ln.rows_in > 0).all() and (ln.rows_out > 0).all()
    assert ln.stage.isin(["hour", "day", "month"]).all()
    assert {"rolled_points", "tokens"} <= set(mt.name)
    # rolled_points metric sums to the hour-tier row count
    hour_rows = wh.read(spark, "agg.tier_hour").count()
    got = mt[(mt.stage == "hour") & (mt.name == "rolled_points")].value.sum()
    assert int(got) == hour_rows


def test_two_writers_commits_all_visible(spark, tmp_path):
    """Two writers committing interleaved to ONE warehouse (each with
    its own Warehouse handle, as two Spark applications would hold): every
    commit is visible to `committed_partitions`, so resume skips all of
    them."""
    root = str(tmp_path / "wh_two_writers")
    w1, w2 = Warehouse(root), Warehouse(root)
    CP.record_commit(spark, w1, "jobW", "s", ["p1a"], "0:0", 1, 1)
    CP.record_commit(spark, w2, "jobW", "s", ["p2a"], "0:0", 1, 1)
    CP.record_commit(spark, w1, "jobW", "s", ["p1b"], "0:0", 1, 1)
    CP.record_commit(spark, w2, "jobW", "s", ["p2b"], "0:0", 1, 1)
    done = {r.partition_id for r in
            CP.committed_partitions(spark, w1, "jobW", "s").collect()}
    assert done == {"p1a", "p1b", "p2a", "p2b"}


def test_hour_rollup_executes_exactly_once_per_group(spark, seqs, tmp_path, monkeypatch):
    """Hour-tier lineage counts and the snapshot token must come from
    the WRITTEN table, not from re-consuming the `stats` DAG: an
    accumulator spliced into each group's rollup input counts every raw
    row that flows through the aggregation — with the old
    stats.agg(...).first() + snapshot_token(stats) shape each group's
    rollup executed three times (~3× raw rows through the accumulator)."""
    from drought_t_spark.operators import rollup as R

    acc = spark.sparkContext.accumulator(0)
    real_rollup = R.rollup_hour

    def counting_rollup(df, *a, **kw):
        def cnt(batches):
            for pdf in batches:
                acc.add(len(pdf))
                yield pdf

        return real_rollup(df.mapInPandas(cnt, df.schema), *a, **kw)

    monkeypatch.setattr(R, "rollup_hour", counting_rollup)
    wh = Warehouse(str(tmp_path / "wh_once_hour"))
    run_rollup_job(spark, wh, seqs, "jobOH", CFG, n_groups=2, with_payloads=False)
    # every raw row passes through the hour aggregation exactly once
    assert acc.value == seqs.count()


def test_cascade_executes_exactly_once_per_tier(spark, seqs, tmp_path, monkeypatch):
    """Lineage counts must come from the written table, not from
    re-executing the cascade DAG: an accumulator spliced into the
    cascade input counts every row that ever FLOWS THROUGH the
    aggregation — with re-execution per metric (the old out.count() +
    snapshot_token(out) shape) it would read ~3× the source rows."""
    from drought_t_spark.operators import rollup as R

    acc = spark.sparkContext.accumulator(0)
    real_cascade = R.cascade

    def counting_cascade(df, tier):
        def cnt(batches):
            for pdf in batches:
                acc.add(len(pdf))
                yield pdf

        return real_cascade(df.mapInPandas(cnt, df.schema), tier)

    monkeypatch.setattr(R, "cascade", counting_cascade)
    wh = Warehouse(str(tmp_path / "wh_once"))
    run_rollup_job(spark, wh, seqs, "jobO", CFG, n_groups=2, with_payloads=False)
    hour_rows = wh.read(spark, "agg.tier_hour").count()
    day_rows = wh.read(spark, "agg.tier_day").count()
    # day cascade reads each hour row once; month cascade each day row once
    assert acc.value == hour_rows + day_rows


def test_hour_lineage_scoped_to_run_sources(spark, seqs, tmp_path):
    """Hour-tier lineage read-back must be scoped to THIS run's sources:
    a second job on the same warehouse seeing only a subset of sources
    (here n_groups=1, so every stale source hashes into its one group)
    must not count the first job's stale partitions in rows_out/metrics."""
    wh = Warehouse(str(tmp_path / "wh_scope"))
    run_rollup_job(spark, wh, seqs, "jobFull", CFG, n_groups=1, with_payloads=False)
    one_src = seqs.select("source").distinct().orderBy("source").first()["source"]
    run_rollup_job(
        spark, wh, seqs.where(F.col("source") == one_src), "jobSub", CFG,
        n_groups=1, with_payloads=False,
    )
    own_rows = (
        wh.read(spark, "agg.tier_hour").where(F.col("source") == one_src).count()
    )
    mt = wh.read(spark, CP.METRICS_TBL).toPandas()
    got = mt[
        (mt.job_id == "jobSub") & (mt.stage == "hour") & (mt.name == "rolled_points")
    ].value.sum()
    assert int(got) == own_rows
    ln = wh.read(spark, CP.LINEAGE_TBL).toPandas()
    sub_out = ln[(ln.job_id == "jobSub") & (ln.stage == "hour")].rows_out.sum()
    assert int(sub_out) == own_rows
