"""asof_join_bucketed (r6) ≡ asof_join(how='inner') on step-aligned
right sides — the broadcast dense-calendar rewrite must be invisible in
results across the edge cases that differ structurally between the two
plans: probes before the first right row (dropped), probes after the
last right row (clamped to it), probes exactly ON a bucket (inclusive
tie), probes inside multi-bucket gaps (LOCF across the gap), and right
rows whose value columns are NULL (still a match)."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from drought_t_spark.operators.asof import asof_join, asof_join_bucketed


@pytest.fixture(scope="module")
def frames(spark):
    t0 = dt.datetime(2024, 1, 1)
    hours = [0, 1, 2, 5, 6, 11]  # gaps: 3-4, 7-10
    right = spark.createDataFrame(
        [("a", t0 + dt.timedelta(hours=h), float(h)) for h in hours]
        + [("a", t0 + dt.timedelta(hours=12), None)]  # null value, real row
        + [("b", t0 + dt.timedelta(hours=3), 30.0)],
        "key string, bucket_start timestamp, v double",
    )
    probes = []
    for i, mins in enumerate(
        [-90, -1, 0, 30, 59, 60, 150, 179, 200, 320, 360, 410, 700, 720, 721, 1000]
    ):
        probes.append(("a", i, t0 + dt.timedelta(minutes=mins)))
    probes += [("b", 100, t0 + dt.timedelta(hours=2)),  # before b's first
               ("b", 101, t0 + dt.timedelta(hours=3)),  # exact tie
               ("b", 102, t0 + dt.timedelta(hours=9))]  # after b's last
    left = spark.createDataFrame(probes, "key string, event_id long, probe timestamp")
    return left, right


def test_bucketed_equals_generic(frames):
    left, right = frames
    kw = dict(by=["key"], left_ts="probe", right_ts="bucket_start",
              value_cols=["bucket_start", "v"])
    ref = asof_join(left, right, how="inner", **kw)
    got = asof_join_bucketed(left, right, **kw)
    ref_rows = {tuple(r) for r in ref.collect()}
    got_rows = {tuple(r) for r in got.collect()}
    assert got_rows == ref_rows
    # sanity on the edge semantics themselves, not just parity
    by_id = {r["event_id"]: r for r in got.collect()}
    assert 0 not in by_id and 1 not in by_id and 100 not in by_id  # pre-first dropped
    assert by_id[2]["bucket_start"].hour == 0  # exact tie inclusive
    assert by_id[8]["bucket_start"].hour == 2  # inside the 3-4 gap → LOCF to 2
    assert by_id[15]["bucket_start"].hour == 12  # past last → clamped to last
    assert by_id[15]["v"] is None  # null-valued real row still matches
    assert by_id[101]["bucket_start"].hour == 3
    assert by_id[102]["bucket_start"].hour == 3


def test_bucketed_big_side_not_shuffled(frames):
    """Plan pin: the left side reaches the joins without any Exchange —
    the only exchanges below the result sit on the (tiny) right/calendar
    subtree, and both joins are broadcast."""
    left, right = frames
    out = asof_join_bucketed(
        left, right, by=["key"], left_ts="probe", right_ts="bucket_start",
        value_cols=["bucket_start", "v"],
    )
    out.collect()
    plan = out._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    assert "BroadcastHashJoin" in final
    assert "SortMergeJoin" not in final and "ShuffledHashJoin" not in final
