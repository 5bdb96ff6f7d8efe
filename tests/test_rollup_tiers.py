"""Tier rollup + payload invariants (SURVEY.md §5.3; FIXTURES.md §F5).

- distributed generator == local generator (determinism)
- tier cascade consistency: sum(hour.n_tok_sum) per day == day.n_tok_sum
- payload: payload_n_tokens == Σ n_tok; decoded payload == seq-ordered
  concat of member tokens; day payloads cascaded from hour payloads ==
  day payloads packed from raw
- stats rollup plan never scans the `tokens` column (column pruning)
"""

import numpy as np
import pytest
from pyspark.sql import functions as F

from drought_t_spark import synth
from drought_t_spark.codec import tsz1
from drought_t_spark.config import DEFAULT
from drought_t_spark.operators import rollup as R
from drought_t_spark.operators.gapfill import missing_buckets
from drought_t_spark.plans.drought import rollup_tiers

CFG = DEFAULT


@pytest.fixture(scope="module")
def seqs(spark):
    return R.with_event_time(synth.sequences_df(spark, n_sources=4, n_total=6000)).cache()


def test_distributed_generator_matches_local(spark, seqs):
    got = seqs.select("doc_id", "n_tok", "source").orderBy("doc_id").toPandas()
    want = synth.sequences_pdf(n_sources=4, n_total=6000).sort_values("doc_id")
    assert list(got.doc_id) == list(want.doc_id)
    np.testing.assert_array_equal(got.n_tok.to_numpy(), want.n_tok.to_numpy())


def test_uniform_counts_fixture(spark):
    """The bucketed-layout scaling fixture (synth.uniform_counts): exact
    total, balanced sources, and the distributed generator honors the
    counts override deterministically."""
    counts = synth.uniform_counts(7, 500)
    assert int(counts.sum()) == 500
    assert int(counts.max()) - int(counts.min()) <= 1

    df = synth.sequences_df(spark, n_sources=7, n_total=500, counts=counts)
    got = df.select("doc_id", "n_tok", "source").orderBy("doc_id").toPandas()
    want = synth.sequences_pdf(n_sources=7, n_total=500, counts=counts).sort_values("doc_id")
    assert list(got.doc_id) == list(want.doc_id)
    np.testing.assert_array_equal(got.n_tok.to_numpy(), want.n_tok.to_numpy())

    # Balance survives gap deletion only with many hour buckets per
    # source (gaps drop WHOLE 60-seq buckets at 5%): 3000 seqs/source
    # = 50 buckets, so a source loses ~2-3 buckets, not most of one.
    big = synth.sequences_pdf(
        n_sources=7, n_total=21000, counts=synth.uniform_counts(7, 21000))
    per_src = big.groupby("source").size()
    assert per_src.max() <= 1.25 * per_src.min()


def test_tier_cascade_consistency(spark, seqs):
    tiers = rollup_tiers(seqs.drop("seq", "ts").select("doc_id", "tokens", "n_tok", "source"))
    hour, day, month = tiers["hour"], tiers["day"], tiers["month"]
    re_day = (
        hour.groupBy("source", F.date_trunc("day", "bucket_start").alias("bucket_start"))
        .agg(F.sum("n_tok_sum").alias("s"))
    )
    diff = (
        re_day.join(day, ["source", "bucket_start"])
        .where(F.col("s") != F.col("n_tok_sum"))
        .count()
    )
    assert diff == 0
    assert month.agg(F.sum("n_tok_sum")).first()[0] == hour.agg(F.sum("n_tok_sum")).first()[0]
    # gap-filled buckets never contribute tokens
    assert day.where(F.col("gap_filled")).count() == 0


def test_payload_roundtrip_and_invariants(spark, seqs):
    pay = R.pack_payloads(seqs, "hour")
    stats = R.rollup_hour(seqs)
    joined = pay.join(stats, ["source", "bucket_start"]).select(
        "source", "bucket_start", "payload", "payload_n_tokens", "n_tok_sum"
    )
    rows = joined.collect()
    assert len(rows) > 0
    for r in rows:
        assert r.payload_n_tokens == r.n_tok_sum
        toks = tsz1.decode_tokens(r.payload)
        assert len(toks) == r.payload_n_tokens
    # spot-check exact token equality for the heaviest bucket
    heavy = joined.orderBy(F.desc("payload_n_tokens")).first()
    member = (
        seqs.where(
            (F.col("source") == heavy.source)
            & (F.date_trunc("hour", "ts") == heavy.bucket_start)
        )
        .orderBy("seq")
        .select("tokens")
        .toPandas()
    )
    want = np.concatenate([np.asarray(t, np.int32) for t in member.tokens])
    np.testing.assert_array_equal(tsz1.decode_tokens(heavy.payload), want)


def test_payload_cascade_equals_from_raw(spark, seqs):
    hour_pay = R.pack_payloads(seqs, "hour")
    day_from_hour = R.cascade_payloads(hour_pay, "day")
    day_from_raw = R.pack_payloads(seqs, "day")
    a = day_from_hour.select("source", "bucket_start", "payload_crc32", "payload_n_tokens")
    b = day_from_raw.select("source", "bucket_start", "payload_crc32", "payload_n_tokens")
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0
    # second cascade hop: month re-coded from day partials == from raw
    month_from_day = R.cascade_payloads(day_from_hour, "month")
    month_from_raw = R.pack_payloads(seqs, "month")
    c = month_from_day.select("source", "bucket_start", "payload_crc32", "payload_n_tokens")
    d = month_from_raw.select("source", "bucket_start", "payload_crc32", "payload_n_tokens")
    assert c.exceptAll(d).count() == 0 and d.exceptAll(c).count() == 0


def test_pack_payloads_plan_is_streamed_arrow(spark, seqs, tmp_path):
    """The raw-tier pack must keep its streaming shape — one Exchange +
    one Sort + one MapInArrow — with NO pandas boundary at all: the
    Arrow kernel slices each group's token stream zero-copy from the
    list-values buffer, so a regression to mapInPandas (per-row object
    materialization) or applyInPandas (per-group Arrow batches) is a
    measured multi-×  slowdown on the north-rule headline metric."""
    p = str(tmp_path / "seqs_pp")
    seqs.write.parquet(p)
    df = R.pack_payloads(R.with_event_time(spark.read.parquet(p)), "hour")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "FlatMapGroupsInPandas" not in plan and "MapInPandas" not in plan
    assert plan.count("MapInArrow") == 1
    assert plan.count("Exchange") == 1 and plan.count("Sort") == 1


def test_cascade_payloads_plan_is_streamed(spark, seqs, tmp_path):
    """The cascade must keep pack_payloads' streaming shape — one
    Exchange + one Sort + one MapInArrow, no pandas boundary — and
    never fall back to the per-group applyInPandas shape (~5 ms/group
    fixed cost ≈ 50 h of overhead at 37M day-tier groups)."""
    p = str(tmp_path / "hour_pay")
    R.pack_payloads(seqs, "hour").write.parquet(p)
    df = R.cascade_payloads(spark.read.parquet(p), "day")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "FlatMapGroupsInPandas" not in plan and "MapInPandas" not in plan
    assert plan.count("MapInArrow") == 1
    assert plan.count("Exchange") == 1 and plan.count("Sort") == 1
    # and the streamed result is still correct (vs the raw-tier pack)
    a = df.select("source", "bucket_start", "payload_crc32")
    b = R.pack_payloads(seqs, "day").select(
        "source", "bucket_start", "payload_crc32"
    )
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_pool_events_plan_is_streamed_arrow(spark, seqs, tmp_path):
    """The drought method keeps its one-stage shape — one Exchange +
    one Sort + one MapInArrow on the group scaffold, no pandas
    boundary."""
    from drought_t_spark.operators.pooling import pool_events

    p = str(tmp_path / "hour")
    R.rollup_hour(seqs).write.parquet(p)
    df = pool_events(spark.read.parquet(p), "hour", CFG)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "FlatMapGroupsInPandas" not in plan and "MapInPandas" not in plan
    assert plan.count("MapInArrow") == 1
    assert plan.count("Exchange") == 1 and plan.count("Sort") == 1


def test_gap_injection_creates_missing_buckets(spark, seqs):
    stats = R.rollup_hour(seqs)
    assert missing_buckets(stats, "hour").count() > 0


def test_stats_plan_prunes_tokens_column(spark, seqs, tmp_path):
    # via parquet (pruning is visible in the scan's ReadSchema)
    p = str(tmp_path / "seqs")
    seqs.select("doc_id", "tokens", "n_tok", "source").write.parquet(p)
    df = R.rollup_hour(R.with_event_time(spark.read.parquet(p)))
    plan = df._jdf.queryExecution().executedPlan().toString()
    schemas = [l.split("ReadSchema:", 1)[1] for l in plan.splitlines() if "ReadSchema" in l]
    assert schemas and all("tokens" not in s for s in schemas), plan


def test_value_history_roundtrip_bit_exact(spark, seqs):
    """GZ3 tier consumer (value-history compaction): pack the hour
    tier's float64 value series into per-(source, month) offset+XOR
    payloads, unpack, and require BIT-exact float64 equality on every
    (source, bucket_start) — including sources with calendar gaps."""
    from drought_t_spark.operators.value_history import (
        pack_value_history,
        unpack_value_history,
    )

    hour = R.rollup_hour(seqs)
    hist = pack_value_history(hour, "month")
    # plan keeps the streamed shape (no per-group Arrow batches); judge
    # the pack in isolation from the synth generator's own MapInPandas
    # by planning over a parquet read of the tier
    import tempfile

    with tempfile.TemporaryDirectory() as td:
        hour.write.parquet(f"{td}/hour")
        iso = pack_value_history(spark.read.parquet(f"{td}/hour"), "month")
        plan = iso._jdf.queryExecution().executedPlan().toString()
        assert "FlatMapGroupsInPandas" not in plan and "MapInPandas" not in plan
        assert plan.count("MapInArrow") == 1

    back = unpack_value_history(hist)
    orig = hour.select("source", "bucket_start", F.col("value").cast("double").alias("value"))
    # exceptAll on the raw double is a bit-exact comparison
    assert orig.exceptAll(back).count() == 0
    assert back.exceptAll(orig).count() == 0
    # archive is materially smaller than the raw 8B/value + 8B/ts
    row = hist.agg(
        F.sum("n_points").alias("n"),
        (F.sum(F.length("ts_payload")) + F.sum(F.length("val_payload"))).alias("b"),
    ).first()
    assert int(row["b"]) < 16 * int(row["n"])
