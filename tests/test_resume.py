"""Checkpoint/resume (SURVEY.md §5.5; BASELINE.json:14): kill the
rollup job mid-run, re-run, assert no duplicate buckets and a final
table identical to a single-shot run; lineage/metrics recorded."""

import os

import pytest
from pyspark.sql import functions as F

from drought_t_spark import synth
from drought_t_spark.ops import checkpoints as CP
from drought_t_spark.plans.rollup_job import InjectedFailure, run_rollup_job
from drought_t_spark.sources.warehouse import Warehouse


@pytest.fixture(scope="module")
def seqs(spark):
    return synth.sequences_df(spark, n_sources=6, n_total=4000).cache()


def _tier_key(df):
    return df.select("source", "bucket_start", "n_seq", "n_tok_sum")


def test_crash_resume_identical_to_single_shot(spark, seqs, tmp_path):
    wh1 = Warehouse(str(tmp_path / "wh_single"))
    run_rollup_job(spark, wh1, seqs, "job1", n_groups=3, with_payloads=False)
    single = _tier_key(wh1.read(spark, "agg.tier_hour")).toPandas()

    wh2 = Warehouse(str(tmp_path / "wh_crashed"))
    with pytest.raises(InjectedFailure):
        run_rollup_job(spark, wh2, seqs, "job1", n_groups=3,
                       fail_after_groups=1, with_payloads=False)
    # partial state: some groups committed, not all
    committed = len(CP.committed_partitions(wh2, "job1", "hour"))
    assert 0 < committed < 3

    run_rollup_job(spark, wh2, seqs, "job1", n_groups=3, with_payloads=False)
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
        run_rollup_job(spark, wh, seqs, "jobC", n_groups=3,
                       fail_before_cascade=True, with_payloads=False)
    assert len(CP.committed_partitions(wh, "jobC", "hour")) == 3
    assert len(CP.committed_partitions(wh, "jobC", "day")) == 0

    run_rollup_job(spark, wh, seqs, "jobC", n_groups=3, with_payloads=False)
    for tier in ("day", "month"):
        parts = CP.committed_partitions(wh, "jobC", tier)
        assert parts == {f"{tier}:all"}  # stage token, never a source list
    hour_tok = wh.read(spark, "agg.tier_hour").agg(F.sum("n_tok_sum")).first()[0]
    day_tok = wh.read(spark, "agg.tier_day").agg(F.sum("n_tok_sum")).first()[0]
    assert hour_tok == day_tok


def test_resume_skips_committed_work(spark, seqs, tmp_path):
    """A re-run of a finished job skips every committed hour group and
    cascade tier: it appends no checkpoint or lineage row."""
    wh = Warehouse(str(tmp_path / "wh_skip"))
    run_rollup_job(spark, wh, seqs, "jobX", n_groups=3, with_payloads=False)
    before = [wh.read(spark, t).count() for t in (CP.CHECKPOINT_TBL, CP.LINEAGE_TBL)]
    assert before == [5, 5]  # 3 hour groups, day and month
    run_rollup_job(spark, wh, seqs, "jobX", n_groups=3, with_payloads=False)
    assert [wh.read(spark, t).count() for t in (CP.CHECKPOINT_TBL, CP.LINEAGE_TBL)] == before


def test_lineage_and_metrics_written(spark, seqs, tmp_path):
    wh = Warehouse(str(tmp_path / "wh_ops"))
    run_rollup_job(spark, wh, seqs, "jobL", n_groups=3, with_payloads=False)
    ln = wh.read(spark, CP.LINEAGE_TBL).toPandas()
    mt = wh.read(spark, CP.METRICS_TBL).toPandas()
    assert (ln.rows_in > 0).all() and (ln.rows_out > 0).all()
    assert ln.stage.isin(["hour", "day", "month"]).all()
    assert {"rolled_points", "tokens"} <= set(mt.name)
    # rolled_points metric sums to the hour-tier row count
    hour_rows = wh.read(spark, "agg.tier_hour").count()
    got = mt[(mt.stage == "hour") & (mt.name == "rolled_points")].value.sum()
    assert int(got) == hour_rows
    # every commit (3 hour groups, day, month) records its driver wall time
    wall = mt[mt.name == "wall_s"]
    assert sorted(wall.stage) == ["day", "hour", "hour", "hour", "month"]
    assert (wall.value > 0).all()


def test_two_writers_commits_all_visible(spark, tmp_path):
    """Two writers committing interleaved to ONE warehouse (each with
    its own Warehouse handle, as two Spark applications would hold): every
    commit is visible to `committed_partitions`, so resume skips all of
    them."""
    root = str(tmp_path / "wh_two_writers")
    w1, w2 = Warehouse(root), Warehouse(root)
    CP.record_commit(w1, "jobW", "s", ["p1a"], "0:0", 1, 1)
    CP.record_commit(w2, "jobW", "s", ["p2a"], "0:0", 1, 1)
    CP.record_commit(w1, "jobW", "s", ["p1b"], "0:0", 1, 1)
    CP.record_commit(w2, "jobW", "s", ["p2b"], "0:0", 1, 1)
    done = CP.committed_partitions(w1, "jobW", "s")
    assert done == {"p1a", "p1b", "p2a", "p2b"}


def test_crash_before_commit_marker_leaves_group_pending(spark, seqs, tmp_path, monkeypatch):
    """The checkpoint row is the commit marker and is written last: a
    crash while appending the metrics rows leaves the group uncommitted
    (resume never trusts a group without its lineage), and the re-run
    commits it together with its lineage row."""
    wh = Warehouse(str(tmp_path / "wh_marker"))
    real = Warehouse.append_rows

    def metrics_crash(self, table, *a, **kw):
        if table == CP.METRICS_TBL:
            raise InjectedFailure("crash while appending metrics")
        return real(self, table, *a, **kw)

    monkeypatch.setattr(Warehouse, "append_rows", metrics_crash)
    with pytest.raises(InjectedFailure):
        run_rollup_job(spark, wh, seqs, "jobM", n_groups=1, with_payloads=False)
    assert CP.committed_partitions(wh, "jobM", "hour") == set()

    monkeypatch.setattr(Warehouse, "append_rows", real)
    run_rollup_job(spark, wh, seqs, "jobM", n_groups=1, with_payloads=False)
    assert CP.committed_partitions(wh, "jobM", "hour") == {"1:0"}
    ln = wh.read(spark, CP.LINEAGE_TBL).toPandas()
    ln = ln[(ln.job_id == "jobM") & (ln.stage == "hour")]
    # the crashed attempt's orphan row plus the committed attempt's
    assert list(ln.partition_id) == ["1:0", "1:0"]
    assert (ln.rows_out == wh.read(spark, "agg.tier_hour").count()).all()


def test_leftover_temp_file_ignored(spark, tmp_path):
    """A crash mid-write leaves only a hidden temp file: the resume read,
    Spark and a DuckDB `*.parquet` glob all skip it."""
    import duckdb

    wh = Warehouse(str(tmp_path / "wh_tmpfile"))
    cp_dir = wh.path(CP.CHECKPOINT_TBL)
    os.makedirs(cp_dir)
    with open(os.path.join(cp_dir, ".part-crashed.parquet.tmp"), "wb") as f:
        f.write(b"PAR1 truncated mid-write")
    # the crash hit the table's first write: nothing is committed yet
    assert CP.committed_partitions(wh, "jobT", "s") == set()
    CP.record_commit(wh, "jobT", "s", ["p1", "p2"], "0:0", 1, 1)
    assert CP.committed_partitions(wh, "jobT", "s") == {"p1", "p2"}
    assert wh.read(spark, CP.CHECKPOINT_TBL).count() == 2
    n = duckdb.sql(
        f"SELECT count(*) FROM read_parquet('{cp_dir}/*.parquet')").fetchone()[0]
    assert n == 2


def test_commit_and_resume_read_launch_no_spark_job(spark, tmp_path):
    """Ops rows are written and read on the driver: a commit and a
    resume read launch no Spark job."""
    wh = Warehouse(str(tmp_path / "wh_nojobs"))
    sc = spark.sparkContext
    sc.setJobGroup("ops-no-jobs", "ops rows only")
    try:
        CP.record_commit(wh, "jobJ", "s", ["p1"], "0:0", 1, 1, metrics={"m": 1.0})
        assert CP.committed_partitions(wh, "jobJ", "s") == {"p1"}
        assert list(sc.statusTracker().getJobIdsForGroup("ops-no-jobs")) == []
        spark.range(1).count()  # control: the group does record Spark jobs
        assert list(sc.statusTracker().getJobIdsForGroup("ops-no-jobs"))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)


def test_mixed_ops_files(spark, tmp_path):
    """Ops tables written by the earlier Spark append path (checkpoints
    with the removed `updated_seq` column) stay readable next to
    driver-written files."""
    from pyspark.sql import types as T

    from drought_t_spark.schemas import CHECKPOINTS, LINEAGE

    wh = Warehouse(str(tmp_path / "wh_mixed"))
    old_cp = T.StructType(
        CHECKPOINTS.fields + [T.StructField("updated_seq", T.LongType(), False)])
    spark.createDataFrame([("jobV", "s", "old", "committed", "0:0", 7)], old_cp) \
        .write.mode("append").parquet(wh.path(CP.CHECKPOINT_TBL))
    spark.createDataFrame([("jobV", "s", None, "0:0", "old", 3, 2)], LINEAGE) \
        .write.mode("append").parquet(wh.path(CP.LINEAGE_TBL))
    CP.record_commit(wh, "jobV", "s", ["new"], "5:9", 6, 5)
    CP.record_commit(wh, "jobV", "other", ["other"], "0:0", 0, 0)

    assert CP.committed_partitions(wh, "jobV", "s") == {"old", "new"}
    ln = wh.read(spark, CP.LINEAGE_TBL)
    assert [(f.name, f.dataType) for f in ln.schema] == [
        (f.name, f.dataType) for f in LINEAGE]
    got = {(r.stage, r.partition_id, r.output_snapshot, r.rows_in, r.rows_out)
           for r in ln.collect()}
    assert got == {("s", "old", "0:0", 3, 2), ("s", "new", "5:9", 6, 5),
                   ("other", "other", "0:0", 0, 0)}


def test_hour_rollup_executes_exactly_once_per_group(spark, seqs, tmp_path, monkeypatch):
    """Hour-tier lineage counts and the snapshot token must come from
    the write itself, not from re-consuming the `stats` DAG: an
    accumulator spliced into each group's rollup input counts every raw
    row that flows through the aggregation — a separate count or token
    action over `stats` would re-execute the group's rollup (~2-3× raw
    rows through the accumulator)."""
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
    run_rollup_job(spark, wh, seqs, "jobOH", n_groups=2, with_payloads=False)
    # every raw row passes through the hour aggregation exactly once
    assert acc.value == seqs.count()


def test_cascade_executes_exactly_once_per_tier(spark, seqs, tmp_path, monkeypatch):
    """Lineage counts must come from the write itself, not from
    re-executing the cascade DAG: an accumulator spliced into the
    cascade input counts every row that ever FLOWS THROUGH the
    aggregation — with re-execution per metric (a separate count or
    token action over the cascade output) it would read ~3× the source
    rows."""
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
    run_rollup_job(spark, wh, seqs, "jobO", n_groups=2, with_payloads=False)
    hour_rows = wh.read(spark, "agg.tier_hour").count()
    day_rows = wh.read(spark, "agg.tier_day").count()
    # day cascade reads each hour row once; month cascade each day row once
    assert acc.value == hour_rows + day_rows


def test_hour_lineage_scoped_to_run_sources(spark, seqs, tmp_path):
    """Hour-tier lineage must be scoped to THIS run's sources:
    a second job on the same warehouse seeing only a subset of sources
    (here n_groups=1, so every stale source hashes into its one group)
    must not count the first job's stale partitions in rows_out/metrics."""
    wh = Warehouse(str(tmp_path / "wh_scope"))
    run_rollup_job(spark, wh, seqs, "jobFull", n_groups=1, with_payloads=False)
    one_src = seqs.select("source").distinct().orderBy("source").first()["source"]
    run_rollup_job(
        spark, wh, seqs.where(F.col("source") == one_src), "jobSub",
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


def _content(df, keys):
    """(rows, snapshot token) of `df`, computed independently of the
    engine's write report: the row count plus the decimal sum of
    xxhash64 over the key columns."""
    r = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.xxhash64(*keys).cast("decimal(38,0)")).alias("h"),
    ).first()
    return r["n"], f"{r['n']}:{r['h'] or 0}"


def _lineage(spark, wh, job_id):
    ln = wh.read(spark, CP.LINEAGE_TBL).where(F.col("job_id") == job_id).toPandas()
    return {(r.stage, r.partition_id): (r.rows_out, r.output_snapshot)
            for r in ln.itertuples()}


def test_lineage_equals_written_content(spark, tmp_path):
    """Every commit's rows_out and snapshot token describe exactly the
    rows that commit wrote, re-derived here by reading the written tables
    back. The second job sees a subset of sources, and one source has
    vanished upstream (its day rows are stale: the day cascade no longer
    rewrites them), so stale partitions must not leak into lineage. An
    expire_tier commit reports the rows it rewrote, and "0:0" when it
    expires nothing."""
    from drought_t_spark.plans.retention import expire_tier
    from drought_t_spark.plans.rollup_job import group_expr

    keys = ["source", "bucket_start"]
    seqs = synth.sequences_df(spark, n_sources=5, n_total=12_000)
    wh = Warehouse(str(tmp_path / "wh_lineage"))
    run_rollup_job(spark, wh, seqs, "jobFull", n_groups=2, with_payloads=False)

    by_grp = {r.g: r.source for r in seqs.select(
        "source", group_expr(2).alias("g")).distinct().orderBy("source").collect()}
    sub = sorted(by_grp.values())  # one source per non-empty group
    srcs = sorted(r.source for r in seqs.select("source").distinct().collect())
    vanished = next(s for s in reversed(srcs) if s not in sub)
    wh.drop_partitions("agg.tier_hour", "source", [vanished])
    run_rollup_job(spark, wh, seqs.where(F.col("source").isin(sub)), "jobSub",
                   n_groups=2, with_payloads=False)

    got = _lineage(spark, wh, "jobSub")
    hour = wh.read(spark, "agg.tier_hour")
    for g in range(2):
        want = _content(hour.where(F.col("source").isin(sub) & (group_expr(2) == g)), keys)
        assert got[("hour", f"2:{g}")] == want, g
    # a cascade rewrites exactly the sources of the tier it reads
    assert wh.read(spark, "agg.tier_day").where(F.col("source") == vanished).count() > 0
    for tier, finer in (("day", "hour"), ("month", "day")):
        inputs = [r.source for r in
                  wh.read(spark, f"agg.tier_{finer}").select("source").distinct().collect()]
        assert got[(tier, f"{tier}:all")] == _content(
            wh.read(spark, f"agg.tier_{tier}").where(F.col("source").isin(inputs)), keys
        ), tier

    # a source whose data starts after the cutoff loses nothing, so the
    # expiry must not rewrite it and its rows stay out of the token
    cutoff = "2024-01-02 00:00:00"
    late = spark.createDataFrame(
        hour.where((F.col("source") == sub[0]) & (F.col("bucket_start") >= cutoff))
        .withColumn("source", F.lit("late_src")).toPandas(),
        hour.schema,
    )
    wh.write_partitioned(late, "agg.tier_hour", ["source"])
    before = wh.read(spark, "agg.tier_hour")
    affected = [r.source for r in before.where(F.col("bucket_start") < cutoff)
                .select("source").distinct().collect()]
    assert "late_src" not in affected
    expire_tier(spark, wh, "jobRet", "hour", cutoff)
    after = wh.read(spark, "agg.tier_hour")
    rows_out, token = _lineage(spark, wh, "jobRet")[("retention_hour", "hour:retention")]
    assert rows_out == after.count()
    assert token == _content(after.where(F.col("source").isin(affected)), keys)[1]
    expire_tier(spark, wh, "jobRet2", "hour", cutoff)
    assert _lineage(spark, wh, "jobRet2")[("retention_hour", "hour:retention")] == (
        after.count(), "0:0")


def test_zero_padded_source_ids_survive_every_tier(spark, tmp_path):
    """Numeric-looking, zero-padded source ids ("0000", "0001", ...)
    keep their exact spelling in every tier: partition values read back
    as written, so the cascades do not rewrite `source=0001` as
    `source=1`, and the hour lineage counts every row the job wrote."""
    seqs = synth.sequences_df(spark, n_sources=6, n_total=4000).withColumn(
        "source", F.regexp_extract("source", r"(\d+)$", 1))
    want = {r.source for r in seqs.select("source").distinct().collect()}
    assert want == {f"{i:04d}" for i in range(6)}
    wh = Warehouse(str(tmp_path / "wh_padded"))
    run_rollup_job(spark, wh, seqs, "jobP", n_groups=2, with_payloads=False)
    for tier in ("hour", "day", "month"):
        got = {r.source for r in
               wh.read(spark, f"agg.tier_{tier}").select("source").distinct().collect()}
        assert got == want, tier
    ln = wh.read(spark, CP.LINEAGE_TBL).toPandas()
    assert ln[ln.stage == "hour"].rows_out.sum() == wh.read(spark, "agg.tier_hour").count()


_TABLES = [f"agg.{k}_{t}" for k in ("tier", "payload") for t in ("hour", "day", "month")]


def _tables(spark, wh):
    """Every tier and payload table, as sorted pandas frames."""
    out = {}
    for t in _TABLES:
        pdf = wh.read(spark, t).toPandas()
        cols = sorted(pdf.columns)
        out[t] = pdf[cols].sort_values(
            [c for c in ("source", "bucket_start", "chunk_id") if c in cols]
        ).reset_index(drop=True)
    return out


@pytest.fixture(scope="module")
def single_shot(spark, seqs, tmp_path_factory):
    wh = Warehouse(str(tmp_path_factory.mktemp("wh_single_shot")))
    run_rollup_job(spark, wh, seqs, "jobS", n_groups=1)
    return _tables(spark, wh)


@pytest.mark.parametrize("failing,stage", [("agg.payload_hour", "hour"),
                                           ("agg.payload_day", "day")])
def test_failed_payload_write_commits_nothing_and_stops_its_sibling(
        spark, seqs, tmp_path, monkeypatch, single_shot, failing, stage):
    """A tier's stats and payload writes run side by side. When the payload
    write raises while the stats write of the same tier succeeds, the
    error surfaces, the tier does not commit, the stats write has
    finished by the time the job returns, and a re-run yields tables
    identical to a single-shot run."""
    wh = Warehouse(str(tmp_path / "wh_fail"))
    real = Warehouse.write_partitioned
    finished = []

    def flaky(self, df, table, *a, **kw):
        if table == failing:
            raise InjectedFailure(f"injected failure writing {table}")
        out = real(self, df, table, *a, **kw)
        finished.append(table)
        return out

    monkeypatch.setattr(Warehouse, "write_partitioned", flaky)
    with pytest.raises(InjectedFailure, match=failing):
        run_rollup_job(spark, wh, seqs, "jobF", n_groups=1)
    sibling = failing.replace("payload", "tier")
    assert finished[-1] == sibling  # the stats write ran to its end first
    assert CP.committed_partitions(wh, "jobF", stage) == set()
    if stage == "day":
        assert CP.committed_partitions(wh, "jobF", "hour") == {"1:0"}

    monkeypatch.setattr(Warehouse, "write_partitioned", real)
    run_rollup_job(spark, wh, seqs, "jobF", n_groups=1)
    got = _tables(spark, wh)
    for t in _TABLES:
        assert got[t].equals(single_shot[t]), t


def test_empty_groups_commit_zeros(spark, seqs, tmp_path):
    """More groups than sources: every group is written without being
    sized first, and an empty group commits rows_in = 0, tokens 0 and
    the empty snapshot token "0:0"."""
    from drought_t_spark.plans.rollup_job import group_expr

    n = 12
    by_grp = {r.g: (r.n, r.tok) for r in seqs.groupBy(group_expr(n).alias("g")).agg(
        F.count("*").alias("n"), F.sum("n_tok").alias("tok")).collect()}
    assert len(by_grp) < n  # some groups are empty
    wh = Warehouse(str(tmp_path / "wh_empty"))
    run_rollup_job(spark, wh, seqs, "jobE", n_groups=n, with_payloads=False)
    assert CP.committed_partitions(wh, "jobE", "hour") == {f"{n}:{g}" for g in range(n)}
    ln = wh.read(spark, CP.LINEAGE_TBL).toPandas().set_index("partition_id")
    mt = wh.read(spark, CP.METRICS_TBL).toPandas()
    tok = mt[(mt.stage == "hour") & (mt.name == "tokens")].value.tolist()
    assert sorted(tok) == sorted(float(by_grp.get(g, (0, 0))[1]) for g in range(n))
    for g in range(n):
        row = ln.loc[f"{n}:{g}"]
        if g in by_grp:
            assert row.rows_in == by_grp[g][0] and row.rows_out > 0, g
        else:
            assert (row.rows_in, row.rows_out, row.output_snapshot) == (0, 0, "0:0"), g


def test_rollup_job_launches_at_most_12_jobs(spark, seqs, tmp_path):
    """One group: six writes of two Spark jobs each, and nothing else —
    no sizing scan and no schema-inference read. The write threads
    inherit the caller's job group, so every job is counted."""
    seqs.count()  # the cached fixture is materialized outside the group
    wh = Warehouse(str(tmp_path / "wh_jobs"))
    sc = spark.sparkContext
    sc.setJobGroup("rollup-job-count", "one rollup job")
    try:
        run_rollup_job(spark, wh, seqs, "jobJ", n_groups=1)
        jobs = list(sc.statusTracker().getJobIdsForGroup("rollup-job-count"))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert 0 < len(jobs) <= 12, jobs
