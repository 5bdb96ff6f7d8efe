"""Per-site parity: distributed pipeline == single-node reference
implementation, row-for-row (BASELINE.json:6 fixture contract;
SURVEY.md §5.1). Also a tiny hand-computed run-extraction check.
"""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from drought_t_spark import local_ref, synth
from drought_t_spark.config import EngineConfig
from drought_t_spark.plans.drought import drought_events_for_tier, series_to_tier


def _edge_sources() -> pd.DataFrame:
    """Sources at the pooling kernel's group edges: a single bucket,
    exactly one event, and a series whose last run is below threshold
    (its last event has no following gap)."""
    dates = pd.date_range("2016-01-01", "2018-12-31", freq="D")
    one = np.full(len(dates), 10.0)
    one[560:580] = 1.0
    trailing = one.copy()
    trailing[-20:] = 1.0
    return pd.concat([
        pd.DataFrame({"site": "edge_single", "date": dates[:1], "value": [10.0]}),
        pd.DataFrame({"site": "edge_one_event", "date": dates, "value": one}),
        pd.DataFrame({"site": "edge_trailing", "date": dates, "value": trailing}),
    ], ignore_index=True)


@pytest.fixture(scope="module")
def series(spark):
    pdf = pd.concat([synth.series_pdf(), _edge_sources()], ignore_index=True)
    df = spark.createDataFrame(pdf)
    return pdf, series_to_tier(df, ts_col="date")


def _compare(spark_pdf: pd.DataFrame, ref: pd.DataFrame, site: str):
    got = spark_pdf.sort_values("event_id").reset_index(drop=True)
    want = ref.sort_values("event_id").reset_index(drop=True)
    assert len(got) == len(want), f"{site}: {len(got)} events vs oracle {len(want)}"
    if len(want) == 0:
        return
    pd.testing.assert_series_equal(
        got.onset.astype("datetime64[us]"), want.onset.astype("datetime64[us]"),
        check_names=False, obj=f"{site}.onset")
    pd.testing.assert_series_equal(
        got.termination.astype("datetime64[us]"), want.termination.astype("datetime64[us]"),
        check_names=False, obj=f"{site}.termination")
    np.testing.assert_array_equal(got.duration.to_numpy(), want.duration.to_numpy(), err_msg=site)
    np.testing.assert_allclose(got.severity, want.severity, rtol=1e-9, err_msg=site)
    np.testing.assert_allclose(got.intensity, want.intensity, rtol=1e-9, err_msg=site)
    np.testing.assert_allclose(got.peak, want.peak, rtol=1e-9, err_msg=site)
    np.testing.assert_array_equal(got.pooled.to_numpy(), want.pooled.to_numpy(), err_msg=site)
    np.testing.assert_array_equal(got.excluded.to_numpy(), want.excluded.to_numpy(), err_msg=site)


def _parity(spark, pdf: pd.DataFrame, tier_df, tier: str, cfg: EngineConfig) -> pd.DataFrame:
    """Events of every site of `pdf` (= `tier_df`) equal
    `local_ref.run_site`'s, in the default Arrow batches and in 3-row
    ones: every source's series then spans several batches, so each
    group goes through grouped_stream's carry path. Returns the
    default-batch events."""
    events = drought_events_for_tier(tier_df, tier, cfg).toPandas()
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "3")
    try:
        small_batches = drought_events_for_tier(tier_df, tier, cfg).toPandas()
    finally:
        spark.conf.set(key, old)
    for site, g in pdf.groupby("site"):
        ref = local_ref.run_site(
            g.rename(columns={"date": "bucket_start"}), tier=tier, cfg=cfg
        )
        _compare(events[events.source == site], ref, site)
        _compare(small_batches[small_batches.source == site], ref, site)
    return events


@pytest.mark.parametrize("cfg", [
    EngineConfig(),                                            # fixture defaults
    EngineConfig(threshold_mode="fixed", pooling="none"),      # TH2, unpooled
    EngineConfig(ma_window=1, pool_tc=10, pool_pc=0.5),        # aggressive pooling
], ids=["default", "fixed-unpooled", "heavy-pool"])
def test_site_partition_parity(spark, series, cfg):
    pdf, tier_df = series
    events = _parity(spark, pdf, tier_df, "day", cfg)
    # the edge sources really hit their edge
    assert "edge_single" not in set(events.source)
    assert (events.source == "edge_one_event").sum() == 1
    trailing = events[events.source == "edge_trailing"]
    assert len(trailing) > 1
    assert trailing.termination.max() == pdf[pdf.site == "edge_trailing"].date.max()


def _seasonal_sites(dates: pd.DatetimeIndex, period: int, seed: int) -> pd.DataFrame:
    """Three seeded sites on `dates`: a `period`-bucket cycle, noise and
    a few dips; ~3% of buckets dropped and ~1% NaN values (missing
    buckets, like gaps)."""
    rng = np.random.default_rng(seed)
    n = len(dates)
    frames = []
    for k in range(3):
        val = 50.0 + 10.0 * k + 20.0 * np.sin(2 * np.pi * np.arange(n) / period)
        val += rng.normal(0.0, 3.0, n)
        for s in rng.integers(0, n - 8, 4):
            val[s:s + rng.integers(3, 8)] -= 30.0
        val[rng.random(n) < 0.01] = np.nan
        keep = rng.random(n) >= 0.03
        frames.append(pd.DataFrame({"site": f"site_{k}", "date": dates[keep], "value": val[keep]}))
    return pd.concat(frames, ignore_index=True)


@pytest.mark.parametrize("tier,dates,period", [
    # six weeks of hours from a Thursday: hour-of-week positions wrap
    # (Spark dayofweek, Sunday = 1) and the leap day falls inside
    ("hour", pd.date_range("2020-02-20", periods=24 * 7 * 6, freq="h"), 24),
    # six years of months over the 2016 leap year: calendar months of
    # 28-31 days, month-of-year positions
    ("month", pd.date_range("2014-01-01", "2019-12-01", freq="MS"), 12),
], ids=["hour-weeks", "month-leap-year"])
def test_calendar_tier_parity(spark, tier, dates, period):
    pdf = _seasonal_sites(dates, period, seed=7)
    tier_df = series_to_tier(spark.createDataFrame(pdf), ts_col="date")
    for cfg in (EngineConfig(ma_window=3), EngineConfig(ma_window=1, threshold_mode="fixed")):
        events = _parity(spark, pdf, tier_df, tier, cfg)
        assert len(events) > 0


def test_session_time_zone_calendar(spark):
    """Calendar days, cycle positions and event dates are the session
    time zone's, as for Spark's own date functions: the same wall-clock
    series gives the same events in UTC and across New York's
    daylight-saving changes (23- and 25-hour days)."""
    sql = """SELECT 's' AS source, t AS bucket_start,
                    50 + 20 * sin(2 * pi() * dayofyear(t) / 365.25)
                       - 30 * CAST(pmod(dayofyear(t) * 37, 23) < 5 AS INT) AS value
             FROM (SELECT explode(sequence(timestamp'2019-01-01', timestamp'2021-12-31',
                                           interval 1 day)) AS t)"""
    key = "spark.sql.session.timeZone"
    old = spark.conf.get(key)
    out = {}
    try:
        for tz in ("UTC", "America/New_York"):
            spark.conf.set(key, tz)
            ev = drought_events_for_tier(spark.sql(sql), "day", EngineConfig(ma_window=3))
            out[tz] = ev.select(
                "event_id", "duration", "severity", "pooled", "excluded",
                *[F.date_format(c, "yyyy-MM-dd HH:mm").alias(c) for c in ("onset", "termination")],
            ).toPandas()
    finally:
        spark.conf.set(key, old)
    assert len(out["UTC"]) > 0
    pd.testing.assert_frame_equal(out["UTC"], out["America/New_York"])


def test_constant_site_has_no_events(spark, series):
    _, tier_df = series
    events = drought_events_for_tier(tier_df, "day", EngineConfig()).toPandas()
    # strict '<' ⇒ a constant series never dips below its own percentile
    assert len(events[events.source == "site_0000"]) == 0


def test_hand_computed_runs(spark):
    # values [5,1,1,5,5,1,5]: fixed P50 threshold = 5 → two runs:
    # len-2 severity 8, len-1 severity 4 (Yevjevich run sums by hand)
    pdf = pd.DataFrame({
        "site": "s",
        "date": pd.date_range("2024-01-01", periods=7, freq="D"),
        "value": [5.0, 1.0, 1.0, 5.0, 5.0, 1.0, 5.0],
    })
    cfg = EngineConfig(ma_window=1, threshold_mode="fixed", pooling="none",
                       min_duration=1, min_severity_abs=0.0)
    ev = (
        drought_events_for_tier(series_to_tier(spark.createDataFrame(pdf), ts_col="date"), "day", cfg)
        .orderBy("event_id").toPandas()
    )
    assert list(ev.duration) == [2, 1]
    assert list(ev.severity) == [8.0, 4.0]
    assert list(ev.peak) == [4.0, 4.0]
    assert ev.onset.iloc[0] == pd.Timestamp("2024-01-02")
    assert ev.termination.iloc[0] == pd.Timestamp("2024-01-03")


def _pool_fixture(vals: list[float]) -> pd.DataFrame:
    return pd.DataFrame({
        "site": "s",
        "date": pd.date_range("2024-01-01", periods=len(vals), freq="D"),
        "value": vals,
    })


def test_pooling_merges_close_events(spark):
    cfg = EngineConfig(ma_window=1, threshold_mode="fixed", threshold_pct=0.5,
                       pooling="ic", pool_tc=5, pool_pc=0.5,
                       min_duration=1, min_severity_abs=0.0)
    # two severe dips separated by a 2-bucket weak excess gap: with
    # t_c=5, p_c=0.5 they pool into one event with d = d1+t+d2
    two_dips = [10.0] * 10 + [1.0] * 4 + [10.2, 10.2] + [1.0] * 4 + [10.0] * 10
    # one severe dip (deficit 10) then 65 weak dips (deficit 1.5), each
    # behind a 1-bucket gap of excess 1 > p_c·1.5: no weak pair ever
    # pools, and the grown event absorbs exactly one weak dip per pass
    # (severity +0.5 per merge) — 66 passes to the fixed point
    n_weak = 65
    chain = [10.0] * 10 + [0.0] + [11.0, 8.5] * n_weak + [10.0] * 10
    for vals, duration, severity in [
        (two_dips, 4 + 2 + 4, None),
        (chain, 1 + 2 * n_weak, 10.0 + 0.5 * n_weak),
    ]:
        pdf = _pool_fixture(vals)
        ev = (
            drought_events_for_tier(series_to_tier(spark.createDataFrame(pdf), ts_col="date"), "day", cfg)
            .orderBy("event_id").toPandas()
        )
        ref = local_ref.run_site(pdf.rename(columns={"date": "bucket_start"}), "day", cfg)
        assert len(ev) == len(ref) == 1
        assert bool(ev.pooled.iloc[0])
        assert int(ev.duration.iloc[0]) == duration
        if severity is not None:
            assert float(ev.severity.iloc[0]) == severity
        np.testing.assert_allclose(ev.severity.iloc[0], ref.severity.iloc[0], rtol=1e-12)
        _compare(ev, ref, "s")
