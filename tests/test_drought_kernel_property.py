"""Property test for the drought kernel as a PURE function (no Spark):
for ANY batch of sources on the hour, day or month calendar — missing
values, gaps, single-bucket and constant sources, thresholds with
nothing or nearly everything below them — `pooling._source_events`
returns, per source, exactly the events `local_ref.run_site` computes
on that source alone.

Values are quarter-integers, so every MA frame sum is exact in any
order and the kernel's left-to-right sums and pandas' rolling sums
give the same means; dates, durations and flags must then match
exactly, and severities up to summation order. For `locf` and `zero`
the reference gets the series pre-filled the same way over its dense
calendar (`run_site` itself leaves gaps missing)."""

import numpy as np
import pandas as pd
import pyarrow as pa
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from drought_t_spark import local_ref
from drought_t_spark.config import EngineConfig
from drought_t_spark.operators.pooling import _source_events

_FREQ = {"hour": "h", "day": "D", "month": "MS"}
#: first bucket of every drawn source: hourly series cross week
#: boundaries, daily and monthly ones the 2016 leap day
_START = {"hour": "2019-12-26 05:00", "day": "2015-12-01", "month": "2014-01-01"}

values = st.one_of(
    st.integers(min_value=-40, max_value=40).map(lambda i: i / 4),
    st.just(float("nan")),
)


@st.composite
def sources(draw, tier):
    """(calendar, values, observed mask) of one source; the first and
    last calendar buckets are observed, so the calendar is the span."""
    shape = draw(st.sampled_from(["random", "constant", "single"]))
    n = 1 if shape == "single" else draw(st.integers(min_value=2, max_value=160))
    if shape == "constant":
        v = [draw(values)] * n
    else:
        v = draw(st.lists(values, min_size=n, max_size=n))
    seen = draw(st.lists(st.booleans(), min_size=n, max_size=n))
    seen[0] = seen[-1] = True
    offset = draw(st.integers(min_value=0, max_value=400))
    cal = pd.date_range(_START[tier], periods=offset + n, freq=_FREQ[tier])[offset:]
    return cal, np.array(v, dtype=np.float64), np.array(seen)


@st.composite
def cases(draw):
    tier = draw(st.sampled_from(["hour", "day", "month"]))
    cfg = EngineConfig(
        ma_window=draw(st.sampled_from([1, 29])),
        threshold_mode=draw(st.sampled_from(["fixed", "variable"])),
        threshold_pct=draw(st.sampled_from([0.0, 0.5, 1.0])),
        pooling=draw(st.sampled_from(["none", "ic"])),
        pool_pc=draw(st.sampled_from([0.1, 0.5])),
        gap_fill_mode=draw(st.sampled_from(["none", "locf", "zero"])),
    )
    srcs = draw(st.lists(sources(tier), min_size=1, max_size=3))
    return tier, cfg, srcs


def _prefilled(cal, v, seen, mode) -> pd.DataFrame:
    """What `run_site` must see: the observed rows, or for locf/zero
    the whole calendar filled the way the kernel's gap-fill does."""
    x = pd.Series(np.where(seen, v, np.nan), index=cal)
    if mode == "locf":
        x = x.ffill()
    elif mode == "zero":
        x = x.fillna(0.0)
    else:
        x = x[seen]
    return pd.DataFrame({"bucket_start": x.index, "value": x.to_numpy()})


def _check(got: pd.DataFrame, want: pd.DataFrame) -> None:
    got = got.reset_index(drop=True)
    assert len(got) == len(want)
    if not len(want):
        return
    for c in ("onset", "termination"):
        np.testing.assert_array_equal(
            got[c].to_numpy().astype("datetime64[us]"),
            want[c].to_numpy().astype("datetime64[us]"), err_msg=c)
    for c in ("event_id", "duration", "pooled", "excluded"):
        np.testing.assert_array_equal(got[c].to_numpy(), want[c].to_numpy(), err_msg=c)
    for c in ("severity", "intensity", "peak"):
        w = want[c].to_numpy(float)
        np.testing.assert_allclose(got[c].to_numpy(), w, rtol=1e-9,
                                   atol=1e-9 * np.abs(w).max(), err_msg=c)


@given(cases())
@settings(max_examples=300, deadline=None)
def test_kernel_matches_run_site(case):
    tier, cfg, srcs = case
    rows = []
    for i, (cal, v, seen) in enumerate(srcs):
        rows.append(pd.DataFrame({
            "source": f"s{i}",
            "ts": cal[seen].to_numpy().astype("datetime64[us]").astype(np.int64),
            "value": v[seen],
        }))
    sizes = np.array([len(r) for r in rows])
    ends = np.cumsum(sizes)
    rb = pa.RecordBatch.from_pandas(pd.concat(rows, ignore_index=True))
    got = _source_events(rb, ends - sizes, ends, tier, cfg).to_pandas()
    for i, (cal, v, seen) in enumerate(srcs):
        want = local_ref.run_site(_prefilled(cal, v, seen, cfg.gap_fill_mode), tier, cfg)
        _check(got[got.source == f"s{i}"], want)


@pytest.mark.parametrize("tier,ts", [
    ("day", [0, 43_200_000_000]),        # half a day after the first bucket
    ("hour", [0, 0]),                    # the same bucket twice
    ("month", [86_400_000_000]),         # January 2nd is no month start
], ids=["off-calendar", "repeated", "mid-month"])
def test_bucket_off_the_calendar_is_an_error(tier, ts):
    rb = pa.RecordBatch.from_pandas(pd.DataFrame({"source": "s", "ts": ts, "value": 1.0}))
    with pytest.raises(ValueError, match="calendar"):
        _source_events(rb, np.array([0]), np.array([len(ts)]), tier, EngineConfig())
