"""Property tests for the run step `operators.runs.run_table` and the
streaming run-extraction fold built on it, as PURE functions (no
Spark): for ANY series (several sources at once for the run step) and
ANY micro-batch split, they must give exactly the runs a sequential
reference computes — and the addition order must make severity/excess
equal to a plain left-fold sum, the same order batch F.sum uses on the
sorted partition."""

import numpy as np
import pandas as pd
from hypothesis import given, settings
from hypothesis import strategies as st

from drought_t_spark.operators.runs import run_table
from drought_t_spark.streaming.runs_stream import _fold_runs


class FakeState:
    def __init__(self):
        self.exists = False
        self._t = None

    @property
    def get(self):
        return self._t

    def update(self, t):
        self._t = t
        self.exists = True


def _reference_runs(values, x0=0.0, include_open=False):
    """Sequential per-row reference (the drought method's run
    definition): maximal constant-below stretches; left-fold sums. The
    trailing run is still open; `include_open` returns it too."""
    out, cur = [], None
    for i, v in enumerate(values):
        isnum = v is not None and not np.isnan(v)
        b = 1 if (isnum and v < x0) else 0
        d = max(x0 - v, 0.0) if isnum else 0.0
        e = max(v - x0, 0.0) if isnum else 0.0
        if cur is not None and cur["below"] == b:
            cur["duration"] += 1
            cur["severity"] += d
            cur["peak"] = max(cur["peak"], d)
            cur["excess"] += e
            cur["term"] = i
        else:
            if cur is not None:
                out.append(cur)
            cur = {"below": b, "onset": i, "term": i, "duration": 1,
                   "severity": d, "peak": d, "excess": e,
                   "run_id": (out[-1]["run_id"] + 1) if out else 1}
    # trailing run stays OPEN (never emitted by the stream)
    return out + [cur] if include_open and cur is not None else out


def _drive(values, cut_points):
    """Feed `values` to _fold_runs in chunks split at cut_points."""
    t0 = np.datetime64("2024-01-01", "us")
    ts = t0 + np.arange(len(values)) * np.timedelta64(3600_000_000, "us")
    state = FakeState()
    emitted = []
    bounds = [0] + sorted(cut_points) + [len(values)]
    for lo, hi in zip(bounds, bounds[1:]):
        if lo == hi:
            continue
        pdf = pd.DataFrame(
            {
                "source": "s",
                "bucket_start": ts[lo:hi],
                "x_ma": np.array(values[lo:hi], dtype=np.float64),
                "x0": 0.0,
            }
        )
        for out in _fold_runs(("s",), iter([pdf]), state):
            emitted.append(out)
    return pd.concat(emitted, ignore_index=True) if emitted else pd.DataFrame()


@given(
    values=st.lists(
        st.one_of(
            st.floats(min_value=-10, max_value=10, allow_nan=False),
            st.just(float("nan")),
        ),
        min_size=1,
        max_size=120,
    ),
    data=st.data(),
)
@settings(max_examples=150, deadline=None)
def test_fold_matches_sequential_reference(values, data):
    n_cuts = data.draw(st.integers(min_value=0, max_value=6))
    cuts = data.draw(
        st.lists(st.integers(min_value=0, max_value=len(values)),
                 min_size=n_cuts, max_size=n_cuts)
    )
    got = _drive(values, cuts)
    ref = _reference_runs(values)
    assert len(got) == len(ref)
    for i, r in enumerate(ref):
        row = got.iloc[i]
        assert int(row["run_id"]) == r["run_id"]
        assert int(row["below"]) == r["below"]
        assert int(row["duration"]) == r["duration"]
        # exact: both sides are the same left-fold addition order
        assert float(row["severity"]) == r["severity"]
        assert float(row["peak"]) == r["peak"]
        assert float(row["excess"]) == r["excess"]
        t0 = np.datetime64("2024-01-01", "us")
        hr = np.timedelta64(3600_000_000, "us")
        assert np.datetime64(row["onset"], "us") == t0 + r["onset"] * hr
        assert np.datetime64(row["termination"], "us") == t0 + r["term"] * hr


_VALUES = st.lists(
    st.one_of(
        st.floats(min_value=-10, max_value=10, allow_nan=False),
        st.just(float("nan")),
    ),
    min_size=1,
    max_size=60,
)


def _table(values, x0, seed=(0.0, 0.0)):
    """run_table over one source's `values` (bucket index as ts)."""
    x = np.array(values, dtype=np.float64)
    return run_table(np.arange(len(x)) == 0, np.arange(len(x)), x,
                     np.full(len(x), x0), seed)


def _rows(t):
    cols = ("below", "onset", "termination", "duration", "severity", "peak", "excess")
    return [tuple(t[c][i].item() for c in cols) for i in range(len(t["first"]))]


def _ref_rows(values, x0):
    return [(bool(r["below"]), r["onset"], r["term"], r["duration"], r["severity"],
             r["peak"], r["excess"]) for r in _reference_runs(values, x0, include_open=True)]


@given(sources=st.lists(_VALUES, min_size=1, max_size=4),
       x0=st.floats(min_value=-2, max_value=2, allow_nan=False))
@settings(max_examples=150, deadline=None)
def test_run_table_matches_sequential_reference(sources, x0):
    """Concatenated sources with `head` at each start: every run of every
    source, the trailing open one included, equals the left-fold
    reference exactly (== on severity, peak and excess)."""
    x = np.concatenate([np.array(v, dtype=np.float64) for v in sources])
    sizes = [len(v) for v in sources]
    offsets = np.cumsum([0] + sizes[:-1])
    head = np.zeros(len(x), bool)
    head[offsets] = True
    pos = np.arange(len(x)) - np.repeat(offsets, sizes)  # bucket index in its source
    t = run_table(head, pos, x, np.full(len(x), x0))
    got = _rows(t)
    want = [row for v in sources for row in _ref_rows(v, x0)]
    assert got == want
    src = np.repeat(np.arange(len(sources)), sizes)
    assert [int(src[i]) for i in t["first"]] == [
        k for k, v in enumerate(sources) for _ in _ref_rows(v, x0)]


@given(values=_VALUES, data=st.data())
@settings(max_examples=150, deadline=None)
def test_run_table_split_seeded_equals_whole(values, data):
    """One source cut at any point: the second call, seeded from the
    first call's last run when it continues that run, gives the same
    bits as one call over the whole source."""
    cut = data.draw(st.integers(min_value=1, max_value=len(values)))
    whole = _rows(_table(values, 0.0))
    a = _rows(_table(values[:cut], 0.0))
    if cut == len(values):
        assert a == whole
        return
    last = a[-1]
    cont = _rows(_table(values[cut:], 0.0))[0][0] == last[0]  # same `below`
    b = _rows(_table(values[cut:], 0.0, (last[4], last[6]) if cont else (0.0, 0.0)))
    b = [(r[0], r[1] + cut, r[2] + cut) + r[3:] for r in b]
    if cont:  # the first call's last run goes on into the second call
        r = b[0]
        b[0] = (last[0], last[1], r[2], last[3] + r[3], r[4], max(last[5], r[5]), r[6])
        a = a[:-1]
    assert a + b == whole


def test_fold_drops_late_rows_pure():
    """Out-of-order chunk (all rows behind the high-water mark) changes
    nothing: state and emissions are as if it never arrived."""
    vals = [-1.0, -2.0, 1.0, -3.0]
    a = _drive(vals, [2])
    state = FakeState()
    t0 = np.datetime64("2024-01-01", "us")
    ts = t0 + np.arange(4) * np.timedelta64(3600_000_000, "us")
    chunks = [
        pd.DataFrame({"source": "s", "bucket_start": ts[:2],
                      "x_ma": [-1.0, -2.0], "x0": 0.0}),
        pd.DataFrame({"source": "s", "bucket_start": ts[:1],  # late replay
                      "x_ma": [99.0], "x0": 0.0}),
        pd.DataFrame({"source": "s", "bucket_start": ts[2:],
                      "x_ma": [1.0, -3.0], "x0": 0.0}),
    ]
    emitted = []
    for c in chunks:
        for out in _fold_runs(("s",), iter([c]), state):
            emitted.append(out)
    b = pd.concat(emitted, ignore_index=True)
    pd.testing.assert_frame_equal(a, b)


def test_fold_intra_batch_duplicate_equals_cross_batch(  # r6 ADVICE fix
):
    """An at-least-once upstream can deliver the same bucket twice in
    ONE micro-batch (two files, one trigger) or in TWO micro-batches.
    Both replays must fold identically: the duplicate is dropped, so
    the emitted runs equal the no-duplicate fold."""
    t0 = np.datetime64("2024-01-01", "us")
    hr = np.timedelta64(3600_000_000, "us")
    vals = [-1.0, -2.0, 3.0, -4.0, -5.0, 6.0]
    ts = t0 + np.arange(len(vals)) * hr

    def run(chunks):
        state = FakeState()
        emitted = []
        for idx in chunks:
            pdf = pd.DataFrame(
                {
                    "source": "s",
                    "bucket_start": ts[idx],
                    "x_ma": np.array([vals[i] for i in idx], dtype=np.float64),
                    "x0": 0.0,
                }
            )
            for out in _fold_runs(("s",), iter([pdf]), state):
                emitted.append(out)
        return pd.concat(emitted, ignore_index=True) if emitted else pd.DataFrame()

    clean = run([[0, 1, 2], [3, 4, 5]])
    # duplicate of bucket 1 inside the SAME batch as the original
    intra = run([[0, 1, 1, 2], [3, 4, 5]])
    # the identical duplicate arriving one batch later instead
    cross = run([[0, 1, 2], [1, 3, 4, 5]])
    for dup in (intra, cross):
        assert len(dup) == len(clean)
        for c in ("run_id", "below", "duration", "severity", "peak",
                  "excess", "onset", "termination"):
            assert list(dup[c]) == list(clean[c]), c
