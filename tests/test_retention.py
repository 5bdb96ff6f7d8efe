"""Retention + tier-routing read (SURVEY.md §8 round-2; the "retention
engine" half of the north rule): fine tiers expire only once the
coarser tier provably covers them, and the routed read serves each
sub-range from the coarsest covering tier with exact additive totals.
"""

import pytest
from pyspark.sql import functions as F

from drought_t_spark import synth
from drought_t_spark.plans.retention import RetentionError, expire_tier, read_series
from drought_t_spark.plans.rollup_job import run_rollup_job
from drought_t_spark.sources.warehouse import Warehouse


@pytest.fixture(scope="module")
def wh(spark, tmp_path_factory):
    """Warehouse with ~62 days of data for the heaviest source (90k
    sequences at 1/minute, Zipf-skewed across 4 sources)."""
    w = Warehouse(str(tmp_path_factory.mktemp("wh_retention")))
    seqs = synth.sequences_df(spark, n_sources=4, n_total=90_000)
    run_rollup_job(spark, w, seqs, "jobR", n_groups=2, with_payloads=False)
    return w


def _tok_sum(df):
    return df.agg(F.sum("n_tok_sum")).first()[0] or 0


def test_routed_read_exact_and_tiered(spark, wh):
    # Feb is the one whole month inside: day tier serves Jan 2-31 and
    # Mar 1, hour serves the ragged edges (Jan 1 02:00-24:00, Mar 2 00-05)
    lo, hi = "2024-01-01 02:00:00", "2024-03-02 05:00:00"
    routed = read_series(spark, wh, lo, hi)
    hour = wh.read(spark, "agg.tier_hour").where(
        (F.col("bucket_start") >= lo) & (F.col("bucket_start") < hi)
    )
    # additive totals conserved exactly across the tier routing
    assert _tok_sum(routed) == _tok_sum(hour)
    tiers = {r.tier for r in routed.select("tier").distinct().collect()}
    assert tiers == {"hour", "day", "month"}
    # the routed plan reads far fewer rows than the hour tier would
    assert routed.count() < hour.count()

    # boundary sweep: for ANY [lo, hi) the routed read must equal the
    # hour tier filtered to the same range (slices partition the range
    # and every coarser bucket is the exact sum of its hour buckets)
    ranges = [
        ("2024-01-31 23:00:00", "2024-02-01 01:00:00"),  # straddles a month edge
        ("2024-01-01 00:00:00", "2024-03-01 00:00:00"),  # exact month bounds
        ("2024-01-15 07:00:00", "2024-01-15 19:00:00"),  # inside one day
        ("2024-01-02 13:00:00", "2024-02-29 11:00:00"),  # leap-February end
        ("2024-02-29 00:00:00", "2024-03-03 00:00:00"),  # leap day start
        ("2024-01-31 00:00:00", "2024-02-01 00:00:00"),  # exactly one day
    ]
    for lo2, hi2 in ranges:
        r2 = read_series(spark, wh, lo2, hi2)
        h2 = wh.read(spark, "agg.tier_hour").where(
            (F.col("bucket_start") >= lo2) & (F.col("bucket_start") < hi2)
        )
        assert _tok_sum(r2) == _tok_sum(h2), (lo2, hi2)


def test_expire_requires_coverage_then_drops(spark, wh):
    cutoff = "2024-01-20 00:00:00"
    pre = wh.read(spark, "agg.tier_hour")
    pre_total = _tok_sum(pre)
    old_range_total = _tok_sum(pre.where(F.col("bucket_start") < cutoff))
    res = expire_tier(spark, wh, "jobR", "hour", cutoff)
    assert res["expired"] > 0
    post = wh.read(spark, "agg.tier_hour")
    assert post.where(F.col("bucket_start") < cutoff).count() == 0
    assert post.count() == res["kept"]
    # the expired range is still fully answerable from the day tier
    day_route = read_series(spark, wh, "2024-01-01 00:00:00", cutoff)
    assert {r.tier for r in day_route.select("tier").distinct().collect()} == {"day"}
    assert _tok_sum(day_route) == old_range_total
    # nothing else was lost
    assert _tok_sum(post) == pre_total - old_range_total
    # month has no coarser tier to retain into
    with pytest.raises(ValueError):
        expire_tier(spark, wh, "jobR", "month", cutoff)


def test_expire_refuses_unaligned_cutoff(spark, wh):
    """A mid-coarse-bucket cutoff would pass the coverage check yet
    expire only part of that bucket's fine rows — must refuse before
    touching anything (and without needing the tier tables at all)."""
    n_before = wh.read(spark, "agg.tier_hour").count()
    with pytest.raises(RetentionError, match="not aligned"):
        expire_tier(spark, wh, "jobR", "hour", "2024-01-21 06:00:00")
    with pytest.raises(RetentionError, match="not aligned"):
        expire_tier(spark, wh, "jobR", "day", "2024-01-15 00:00:00")  # mid-month
    assert wh.read(spark, "agg.tier_hour").count() == n_before


def test_read_series_rejects_empty_range(spark, wh):
    with pytest.raises(ValueError, match="lo < hi"):
        read_series(spark, wh, "2024-02-01 00:00:00", "2024-02-01 00:00:00")
    with pytest.raises(ValueError, match="lo < hi"):
        read_series(spark, wh, "2024-02-02 00:00:00", "2024-02-01 00:00:00")


def test_expire_with_value_history_archive(spark, tmp_path):
    """archive_values=True: the doomed fine rows' float64 value series
    is packed into agg.value_history_<tier> BEFORE expiry and unpacks
    bit-exactly afterwards — downsample without losing the fine series."""
    from drought_t_spark.operators.value_history import unpack_value_history

    wh = Warehouse(str(tmp_path / "wh_arch"))
    seqs = synth.sequences_df(spark, n_sources=3, n_total=25_000)
    run_rollup_job(spark, wh, seqs, "jobA", n_groups=2, with_payloads=False)
    cutoff = "2024-01-04 00:00:00"
    doomed_before = (
        wh.read(spark, "agg.tier_hour")
        .where((F.col("bucket_start") < cutoff) & ~F.col("gap_filled"))
        .select("source", "bucket_start", F.col("value").cast("double").alias("value"))
        .localCheckpoint(eager=True)
    )
    res = expire_tier(spark, wh, "jobA", "hour", cutoff, archive_values=True)
    assert res["expired"] > 0
    back = unpack_value_history(wh.read(spark, "agg.value_history_hour"))
    assert doomed_before.exceptAll(back).count() == 0
    assert back.exceptAll(doomed_before).count() == 0


def test_value_history_survives_cycles_and_serves_reads(spark, tmp_path):
    """Two retention cycles: cycle 2's dynamic overwrite must NOT wipe
    cycle 1's archived history (the archive is partitioned by
    (source, coarse bucket), and successive aligned cutoffs touch
    disjoint coarse buckets). Then `read_values` over a range straddling
    the retention horizon serves the expired part bit-exactly from the
    archive and the live part from the tier."""
    from drought_t_spark.operators.value_history import unpack_value_history
    from drought_t_spark.plans.retention import read_values

    wh = Warehouse(str(tmp_path / "wh_arch2"))
    seqs = synth.sequences_df(spark, n_sources=3, n_total=25_000)
    run_rollup_job(spark, wh, seqs, "jobA2", n_groups=2, with_payloads=False)
    fine = (
        wh.read(spark, "agg.tier_hour")
        .where(~F.col("gap_filled"))
        .select("source", "bucket_start", F.col("value").cast("double").alias("value"))
        .localCheckpoint(eager=True)
    )
    r1 = expire_tier(spark, wh, "jobA2", "hour", "2024-01-03 00:00:00",
                     archive_values=True)
    n_cycle1 = unpack_value_history(
        wh.read(spark, "agg.value_history_hour")
    ).count()
    assert r1["expired"] > 0 and n_cycle1 > 0
    r2 = expire_tier(spark, wh, "jobA2", "hour", "2024-01-05 00:00:00",
                     archive_values=True)
    assert r2["expired"] > 0
    back = unpack_value_history(wh.read(spark, "agg.value_history_hour"))
    # cycle 1's rows survived cycle 2's overwrite: the archive now holds
    # EVERY expired fine row, not just the latest cycle's
    expected = fine.where(F.col("bucket_start") < "2024-01-05")
    assert back.exceptAll(expected).count() == 0
    assert expected.exceptAll(back).count() == 0
    assert back.count() > n_cycle1
    # archive-backed read across the horizon: bit-exact fine values
    got = read_values(spark, wh, "hour", "2024-01-02 00:00:00", "2024-01-07 00:00:00")
    want = fine.where(
        (F.col("bucket_start") >= "2024-01-02") & (F.col("bucket_start") < "2024-01-07")
    )
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0


def test_expire_refuses_uncovered_range(spark, tmp_path):
    wh2 = Warehouse(str(tmp_path / "wh_uncov"))
    seqs = synth.sequences_df(spark, n_sources=3, n_total=30_000)
    run_rollup_job(spark, wh2, seqs, "jobU", n_groups=2, with_payloads=False)
    # truncate the day tier so part of the would-be-expired range has
    # no coarser coverage — the expiry must refuse and change nothing
    day = wh2.read(spark, "agg.tier_day").localCheckpoint(eager=True)
    wh2.write_partitioned(
        day.where(F.col("bucket_start") < "2024-01-05"), "agg.tier_day", ["source"]
    )
    n_before = wh2.read(spark, "agg.tier_hour").count()
    with pytest.raises(RetentionError):
        expire_tier(spark, wh2, "jobU", "hour", "2024-01-08 00:00:00")
    assert wh2.read(spark, "agg.tier_hour").count() == n_before


def test_archive_merges_late_arrivals(spark, tmp_path):
    """Late-arriving fine rows landing in an ALREADY-ARCHIVED coarse
    bucket: the next cycle's archive write must merge with (not clobber)
    the existing (source, cb) partition — cycle 1's history survives,
    the late rows join it, and on a same-bucket collision the live
    tier's (most recent) value wins."""
    from datetime import timedelta

    from drought_t_spark.operators.value_history import unpack_value_history

    wh = Warehouse(str(tmp_path / "wh_late"))
    seqs = synth.sequences_df(spark, n_sources=3, n_total=25_000)
    run_rollup_job(spark, wh, seqs, "jobL", n_groups=2, with_payloads=False)
    fine = (
        wh.read(spark, "agg.tier_hour")
        .where(~F.col("gap_filled"))
        .select("source", "bucket_start", F.col("value").cast("double").alias("value"))
        .localCheckpoint(eager=True)
    )
    expire_tier(spark, wh, "jobL", "hour", "2024-01-03 00:00:00",
                archive_values=True)
    arch1 = unpack_value_history(
        wh.read(spark, "agg.value_history_hour")
    ).localCheckpoint(eager=True)

    # inject two late rows for a coarse bucket cycle 1 already archived:
    # one COLLIDING with an archived fine bucket (different value — the
    # late/live row must win) and one at a fine bucket the archive lacks
    tier = wh.read(spark, "agg.tier_hour")
    tmpl_src = tier.select("source").orderBy("source").first()["source"]
    tmpl = (
        tier.where((F.col("source") == tmpl_src) & ~F.col("gap_filled"))
        .orderBy("bucket_start").limit(1).localCheckpoint(eager=True)
    )
    row0 = (
        arch1.where(F.col("source") == tmpl_src).orderBy("bucket_start").first()
    )
    collide_ts, new_ts = row0["bucket_start"], row0["bucket_start"] + timedelta(minutes=30)
    late_collide = tmpl.withColumn("bucket_start", F.lit(collide_ts)).withColumn(
        "value", F.lit(float(row0["value"]) + 100.0)
    )
    late_new = tmpl.withColumn("bucket_start", F.lit(new_ts)).withColumn(
        "value", F.lit(-7.5)
    )
    patched = (
        tier.where(F.col("source") == tmpl_src)
        .unionByName(late_collide)
        .unionByName(late_new)
        .localCheckpoint(eager=True)
    )
    wh.write_partitioned(patched, "agg.tier_hour", ["source"])

    res = expire_tier(spark, wh, "jobL", "hour", "2024-01-05 00:00:00",
                      archive_values=True)
    assert res["expired"] > 0
    back = unpack_value_history(wh.read(spark, "agg.value_history_hour"))
    spark_ts = F.lit(collide_ts)
    expected = (
        arch1.where(~((F.col("source") == tmpl_src) & (F.col("bucket_start") == spark_ts)))
        .unionByName(
            spark.createDataFrame(
                [(tmpl_src, collide_ts, float(row0["value"]) + 100.0),
                 (tmpl_src, new_ts, -7.5)],
                schema=arch1.schema,
            )
        )
        .unionByName(
            fine.where(
                (F.col("bucket_start") >= "2024-01-03")
                & (F.col("bucket_start") < "2024-01-05")
            )
        )
    )
    assert back.exceptAll(expected).count() == 0
    assert expected.exceptAll(back).count() == 0


def _concat_tokens(pdf):
    """{source: flattened token list} in (bucket_start, chunk_id) order."""
    out = {}
    for src, grp in pdf.sort_values(["source", "bucket_start", "chunk_id"]).groupby(
        "source"
    ):
        out[src] = [int(t) for arr in grp.tokens for t in arr]
    return out


def test_read_payloads_routed_reconstruction(spark, tmp_path):
    """The payload twin of read_series: a [lo, hi) token range served
    from month/day/hour payload tables reconstructs the EXACT token
    stream of the fine tier — including after the fine payloads expire
    behind the retention horizon."""
    from drought_t_spark.codec.udfs import decode_tokens_udf
    from drought_t_spark.plans.retention import expire_payload_tier, read_payloads

    wh = Warehouse(str(tmp_path / "wh_pay"))
    # 150k rows: the heaviest source spans ~61 days (through Mar 2
    # ~04:00), so the range below exercises hour tails, day edges AND a
    # whole-month (February) slice
    seqs = synth.sequences_df(spark, n_sources=3, n_total=150_000)
    run_rollup_job(spark, wh, seqs, "jobP", n_groups=2, with_payloads=True)
    lo, hi = "2024-01-02 00:00:00", "2024-03-02 04:00:00"

    routed = read_payloads(spark, wh, lo, hi)
    tiers = {r.tier for r in routed.select("tier").distinct().collect()}
    assert tiers == {"hour", "day", "month"}
    baseline_pdf = (
        wh.read(spark, "agg.payload_hour")
        .where((F.col("bucket_start") >= lo) & (F.col("bucket_start") < hi))
        .select("source", "bucket_start", "chunk_id",
                decode_tokens_udf("payload").alias("tokens"))
        .toPandas()
    )
    want = _concat_tokens(baseline_pdf)
    got = _concat_tokens(routed.toPandas())
    assert set(got) == set(want)
    for src in want:
        assert got[src] == want[src], f"token stream mismatch for {src}"
    # routed read touches far fewer rows than the fine tier would
    assert routed.count() < len(baseline_pdf)

    # expire the fine payloads behind a day-aligned horizon: the routed
    # read must keep serving the SAME streams, now from coarse payloads
    with pytest.raises(RetentionError):
        expire_payload_tier(spark, wh, "jobP", "hour", "2024-02-01 12:30:00")
    res = expire_payload_tier(spark, wh, "jobP", "hour", "2024-02-01 00:00:00")
    assert res["expired"] > 0
    assert (
        wh.read(spark, "agg.payload_hour")
        .where(F.col("bucket_start") < "2024-02-01").count() == 0
    )
    got2 = _concat_tokens(read_payloads(spark, wh, lo, hi).toPandas())
    for src in want:
        assert got2[src] == want[src], f"post-expiry stream mismatch for {src}"


def test_expire_drops_fully_expired_source_with_escaped_name(spark, tmp_path):
    """A source whose rows all lie below the cutoff must leave the table,
    also when Spark escapes its name in the partition directory
    (`st:1` is stored as `source=st%3A1`). Checked for both expiries;
    the payload tables hold two chunks per bucket, so the coverage join
    must not multiply the counts."""
    from datetime import datetime, timedelta

    from drought_t_spark.plans.retention import expire_payload_tier

    wh = Warehouse(str(tmp_path / "wh_escaped"))
    d1, d2 = datetime(2024, 1, 1), datetime(2024, 1, 2)
    hours = {"st:1": [d1 + timedelta(hours=h) for h in range(6)],
             "plain": [d + timedelta(hours=h) for d in (d1, d2) for h in range(6)]}
    days = {"st:1": [d1], "plain": [d1, d2]}
    for prefix, chunks in (("tier", [0]), ("payload", [0, 1])):
        for tier, buckets in (("hour", hours), ("day", days)):
            tbl = f"agg.{prefix}_{tier}"
            rows = [(s, b, c) for s, bs in buckets.items() for b in bs for c in chunks]
            df = spark.createDataFrame(rows, "source string, bucket_start timestamp, chunk_id int")
            # widened to the declared columns: the ones this test does not need are null
            wh.write_partitioned(df.select(*[
                F.col(f.name) if f.name in df.columns
                else F.lit(None).cast(f.dataType).alias(f.name) for f in wh.schema(tbl)
            ]), tbl, ["source"])
    cutoff = "2024-01-02 00:00:00"
    assert expire_tier(spark, wh, "jobE", "hour", cutoff) == {"expired": 12, "kept": 6}
    assert expire_payload_tier(spark, wh, "jobE", "hour", cutoff) == {
        "expired": 24, "kept": 12}
    for prefix, n in (("tier", 6), ("payload", 12)):
        left = wh.read(spark, f"agg.{prefix}_hour")
        assert {r.source for r in left.select("source").distinct().collect()} == {"plain"}
        assert left.where(F.col("bucket_start") >= cutoff).count() == left.count() == n


def test_routed_reads_launch_no_job(spark, tmp_path):
    """`read_series` and `read_payloads(decode=False)` read every tier
    with its declared schema, so building either frame launches no Spark
    job; the frames still read what the tiers hold."""
    from drought_t_spark.plans.retention import read_payloads

    w = Warehouse(str(tmp_path / "wh_jobs"))
    seqs = synth.sequences_df(spark, n_sources=2, n_total=3000)
    run_rollup_job(spark, w, seqs, "jobN", n_groups=1, with_payloads=True)
    lo, hi = "2024-01-01 02:00:00", "2024-03-02 05:00:00"  # hour, day and month slices
    sc = spark.sparkContext
    sc.setJobGroup("routed-reads", "build the routed read frames")
    try:
        series = read_series(spark, w, lo, hi)
        payloads = read_payloads(spark, w, lo, hi, decode=False)
        assert list(sc.statusTracker().getJobIdsForGroup("routed-reads")) == []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    in_range = (F.col("bucket_start") >= lo) & (F.col("bucket_start") < hi)
    want = _tok_sum(w.read(spark, "agg.tier_hour").where(in_range))
    assert _tok_sum(series) == want
    assert payloads.agg(F.sum("n_tokens")).first()[0] == want


def test_expiry_and_value_read_job_counts(spark, tmp_path, jobs_in_group):
    """Every table read, the rewrites' own and the value archive's
    included, takes its declared schema, so no read launches a
    schema-inference job. On two sources: a first archiving
    `expire_tier` launches at most 8 Spark jobs and `expire_payload_tier`
    at most 6 (9 and 7 while those reads inferred); a second cycle,
    which probes the existing archive for overlap, at most 11 and 6 (13
    and 7); and building a `read_values` frame over live tier and
    archive launches none (1)."""
    from drought_t_spark.plans.retention import expire_payload_tier, read_values

    w = Warehouse(str(tmp_path / "wh_expiry_jobs"))
    seqs = synth.sequences_df(spark, n_sources=2, n_total=6000)
    run_rollup_job(spark, w, seqs, "jobX", n_groups=1, with_payloads=True)
    for cycle, (cutoff, max_tier, max_pay) in enumerate(
            [("2024-01-02 00:00:00", 8, 6), ("2024-01-03 00:00:00", 11, 6)]):
        res, jobs = jobs_in_group(f"expire-{cycle}", lambda: expire_tier(
            spark, w, "jobX", "hour", cutoff, archive_values=True))
        assert res["expired"] > 0 and len(jobs) <= max_tier, (cycle, jobs)
        res, jobs = jobs_in_group(f"expire-payload-{cycle}", lambda: expire_payload_tier(
            spark, w, "jobX", "hour", cutoff))
        assert res["expired"] > 0 and len(jobs) <= max_pay, (cycle, jobs)
    values, jobs = jobs_in_group("read-values", lambda: read_values(
        spark, w, "hour", "2024-01-01 00:00:00", "2024-01-04 00:00:00"))
    assert jobs == []
    # both sides serve rows: the archive below the cutoff, the tier above
    assert values.where(F.col("bucket_start") < "2024-01-03").count() > 0
    assert values.where(F.col("bucket_start") >= "2024-01-03").count() > 0
