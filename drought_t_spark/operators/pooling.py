"""The drought method per source in one grouped NumPy stage, ending in
PL1 inter-event time-and-volume (IC) pooling to fixed point
(SURVEY.md §2.10; Fleig et al. 2006 §3.2), event numbering and EX1
minor-drought exclusion (Fleig et al. 2006 §3.3).

Spark shape: the tier series (source, bucket_start, value) goes through
ONE repartition(source) → sortWithinPartitions(source, bucket_start) →
mapInArrow stage on the `rollup.grouped_stream` scaffold: no window
pass, no join, no checkpoint. The kernel works on whole Arrow batches,
with no pandas conversion;
every complete source in a batch goes through each step at once, one
vectorized NumPy pass over all of the batch's buckets or runs, with no
per-bucket or per-run Python:

  1. GF1 gap-fill: a dense calendar by index arithmetic, then the
     `gap_fill_mode` ('none' leaves gaps missing, 'locf', 'zero');
  2. W1 centered MA: mean of the present values in the truncated
     ±k frame (`_moving_avg`);
  3. TH1/TH2 threshold: Spark's exact `percentile` per (source,
     cycle position) or per source (`_threshold`);
  4. RL1/RL2/EV1: `runs.run_table`, the run step the streaming run
     fold shares: below = x_ma < x0 (strict, missing → not below),
     deficit/excess floored at 0 (missing → 0) and summed left to
     right per run, as Spark's `F.sum` does;
  5. pooling, numbering and exclusion (`_pool_runs`), the last step.

Null and NaN values are both missing buckets, as in `local_ref`.
Timestamps cross the boundary as wall-clock microseconds of the
session time zone (UTC under `session.build_session`), so calendar
days, months and cycle positions are the ones Spark's `dayofyear`,
`dayofweek` and `month` read; hours are 3600 s wall-clock steps.

Pooling semantics (`local_ref.run_site` implements the SAME algorithm
independently — the executable spec standing in for the empty
reference snapshot):

  repeat until no merge:
    for consecutive events (i, i+1) within a source (onset order):
      mergeable(i) ⇔ gap_t(i) ≤ t_c  AND  gap_v(i) ≤ p_c · s_i
      (gap_t/gap_v = inter-event bucket count / excess volume of the
       above-threshold run between them; s_i = CURRENT severity of the
       left event, i.e. pre-pass value)
    merge maximal chains of mergeable pairs in one pass:
      onset = onset_first, termination = term_last,
      duration = Σ d_members + Σ internal gap_t   (= d_i + t_i + d_{i+1})
      severity = Σ s_members − Σ internal gap_v   (= s_i + s_{i+1} − v_i)

Severities grow monotonically, so iterating reaches the sequential-
pooling fixed point. After pooling, events are numbered 1.. per source
in onset order, intensity = severity / duration, and an event is
flagged `excluded` iff duration < d_min OR severity < s_min, where
s_min is absolute or α·max-severity-per-source (relative, the
default). Excluded events stay in the table; reports filter them.
Each pass (`_pool_pass`) is one vectorized chain merge over all of the
batch's events. Consecutive sources never chain: the last event of a
source has no inter-event gap.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import from_arrow_schema

from drought_t_spark.config import EngineConfig, DEFAULT
from drought_t_spark.operators.rollup import grouped_stream
from drought_t_spark.operators.runs import run_table

_KERNEL_SCHEMA = pa.schema([
    ("source", pa.string()), ("event_id", pa.int64()), ("onset", pa.int64()),
    ("termination", pa.int64()), ("duration", pa.int64()), ("severity", pa.float64()),
    ("intensity", pa.float64()), ("peak", pa.float64()), ("pooled", pa.bool_()),
    ("excluded", pa.bool_()),
])

_STEP_US = {"hour": 3_600_000_000, "day": 86_400_000_000}
#: cycle positions per tier (hour-of-week 0..167, day-of-year 1..366,
#: month 1..12); the threshold table is sources × this
_N_CYCLE = {"hour": 168, "day": 367, "month": 13}


def _months(ts: np.ndarray) -> np.ndarray:
    """Calendar months since 1970-01 of epoch microseconds."""
    return ts.astype("datetime64[us]").astype("datetime64[M]").astype(np.int64)


def _month_start(m: np.ndarray) -> np.ndarray:
    return m.astype("datetime64[M]").astype("datetime64[us]").astype(np.int64)


def _buckets_from(t0: np.ndarray, ts: np.ndarray, tier: str):
    """(buckets from t0 to ts, whether ts is on t0's tier calendar):
    fixed steps for hours and days, calendar months starting on the 1st."""
    if tier == "month":
        m = _months(ts)
        return m - _months(t0), _month_start(m) == ts
    rel = ts - t0
    return rel // _STEP_US[tier], rel % _STEP_US[tier] == 0


def _bucket_after(t0: np.ndarray, k: np.ndarray, tier: str) -> np.ndarray:
    """The k-th bucket after t0 (inverse of `_buckets_from`)."""
    if tier == "month":
        return _month_start(_months(t0) + k)
    return t0 + k * _STEP_US[tier]


def _cycle_pos(ts: np.ndarray, tier: str) -> np.ndarray:
    """`functions.scalars.cycle_pos` on microseconds: hour-of-week from
    Spark's dayofweek (Sunday = 1; 1970-01-01 was a Thursday, 5),
    day-of-year, month."""
    if tier == "hour":
        hours = ts // _STEP_US["hour"]
        return (hours // 24 + 4) % 7 * 24 + hours % 24
    if tier == "day":
        d = ts.astype("datetime64[us]").astype("datetime64[D]")
        return (d - d.astype("datetime64[Y]")).astype(np.int64) + 1
    return _months(ts) % 12 + 1


def _moving_avg(x: np.ndarray, back: np.ndarray, ahead: np.ndarray, window: int) -> np.ndarray:
    """Centered MA over the dense calendar; `back`/`ahead` = buckets of
    the same source before/after each bucket. Spark's `avg` over
    rowsBetween(-k, k) sums its frame left to right from 0.0, adding
    0.0 for a null, and divides by the count of non-nulls: the same
    2k+1 shifted vector adds here, bit for bit. NaN for an empty frame."""
    k = window // 2
    n = len(x)
    ok = ~np.isnan(x)
    xz = np.where(ok, x, 0.0)
    s = np.zeros(n)
    c = np.zeros(n)
    for j in range(-min(k, n - 1), min(k, n - 1) + 1):
        lo, hi = max(0, -j), min(n, n - j)
        room = back[lo:hi] >= -j if j < 0 else ahead[lo:hi] >= j
        take = room & ok[lo + j:hi + j]
        s[lo:hi] += np.where(take, xz[lo + j:hi + j], 0.0)
        c[lo:hi] += take
    with np.errstate(invalid="ignore"):
        return s / c


def _threshold(x: np.ndarray, key: np.ndarray, n_keys: int, pct: float) -> np.ndarray:
    """Spark `percentile(x, pct)` per key over the non-missing values,
    looked up for every bucket (NaN where a key has none). Spark's
    rule: pos = (n−1)·pct, lo/hi = floor/ceil; the value at lo when
    lo = hi or both values are equal, else (hi − pos)·a + (pos − lo)·b."""
    ok = ~np.isnan(x)
    k, v = key[ok], x[ok]
    order = np.lexsort((v, k))
    v = v[order]
    n = np.bincount(k, minlength=n_keys)
    has = n > 0
    first = (np.cumsum(n) - n)[has]
    pos = (n[has] - 1) * pct
    lo, hi = np.floor(pos), np.ceil(pos)
    a, b = v[first + lo.astype(np.int64)], v[first + hi.astype(np.int64)]
    table = np.full(n_keys, np.nan)
    table[has] = np.where((lo == hi) | (a == b), a, (hi - pos) * a + (pos - lo) * b)
    return table[key]


def _pool_pass(ev: dict, cfg: EngineConfig) -> dict:
    """One pass of the normative rule over a batch's event arrays
    (onset order, sources contiguous). Returns `ev` itself when no pair
    is mergeable. A NaN gap (no following event) never merges."""
    s, gt, gv = ev["severity"], ev["gap_t"], ev["gap_v"]
    join_prev = np.zeros(len(s), bool)
    join_prev[1:] = (gt[:-1] <= cfg.pool_tc) & (gv[:-1] <= cfg.pool_pc * s[:-1])
    if not join_prev.any():
        return ev
    heads = np.flatnonzero(~join_prev)
    last = np.append(heads[1:], len(s)) - 1
    inner = np.append(join_prev[1:], False)  # member's gap lies inside its chain
    add = np.add.reduceat
    return {
        "gid": ev["gid"][heads],
        "onset": ev["onset"][heads],
        "termination": ev["termination"][last],
        "duration": add(ev["duration"], heads)
        + add(np.where(inner, gt, 0.0), heads).astype(np.int64),
        "severity": add(s, heads) - add(np.where(inner, gv, 0.0), heads),
        "peak": np.maximum.reduceat(ev["peak"], heads),
        "gap_t": gt[last],
        "gap_v": gv[last],
        "pooled": np.logical_or.reduceat(ev["pooled"], heads) | (last > heads),
    }


def _pool_runs(runs: dict, cfg: EngineConfig) -> dict:
    """Run arrays (one entry per below- AND above-run, sources `gid`
    contiguous, onset order) → pooled, numbered, exclusion-flagged
    events."""
    n = len(runs["gid"])
    idx = np.flatnonzero(runs["below"])
    g = runs["gid"][idx]
    # the run after an event is an inter-event gap only if another
    # event of the same source follows it
    has_next = np.append(g[1:] == g[:-1], False)
    nxt = np.minimum(idx + 1, max(n - 1, 0))
    ev = {
        "gid": g,
        "onset": runs["onset"][idx],
        "termination": runs["termination"][idx],
        "duration": runs["duration"][idx],
        "severity": runs["severity"][idx],
        "peak": runs["peak"][idx],
        "gap_t": np.where(has_next, runs["duration"][nxt], np.nan),
        "gap_v": np.where(has_next, runs["excess"][nxt], np.nan),
        "pooled": np.zeros(len(idx), bool),
    }
    if cfg.pooling == "ic":
        while True:
            m = len(ev["gid"])
            ev = _pool_pass(ev, cfg)
            if len(ev["gid"]) == m:
                break

    g, sev, dur = ev["gid"], ev["severity"], ev["duration"]
    m = len(g)
    first = np.ones(m, bool)
    first[1:] = g[1:] != g[:-1]
    heads = np.flatnonzero(first)
    sizes = np.diff(np.append(heads, m))
    if cfg.min_severity_abs is not None:
        s_min = float(cfg.min_severity_abs)
    else:
        s_min = cfg.min_severity_frac * np.repeat(np.maximum.reduceat(sev, heads), sizes)
    return {
        "gid": g,
        "event_id": np.arange(m, dtype=np.int64) - np.repeat(heads, sizes) + 1,
        "onset": ev["onset"],
        "termination": ev["termination"],
        "duration": dur,
        "severity": sev,
        "intensity": sev / dur,
        "peak": ev["peak"],
        "pooled": ev["pooled"],
        "excluded": (dur < cfg.min_duration) | (sev < s_min),
    }


def _source_events(rb: pa.RecordBatch, starts: np.ndarray, ends: np.ndarray,
                   tier: str, cfg: EngineConfig) -> pa.RecordBatch:
    """The whole method for the complete sources [starts[i], ends[i])
    that make up `rb`: rows (source, ts, value) sorted by (source, ts),
    `ts` in microseconds → the kernel schema's event rows."""
    n = rb.num_rows
    sizes = ends - starts
    ts = rb.column("ts").to_numpy()
    t0 = ts[starts]
    # GF1: position of each observed bucket on its source's calendar
    pos, aligned = _buckets_from(np.repeat(t0, sizes), ts, tier)
    rising = np.ones(n, bool)
    rising[1:] = pos[1:] > pos[:-1]
    rising[starts] = True
    if not (aligned & rising).all():
        raise ValueError(f"a source's buckets must be distinct and on the {tier} calendar")
    length = pos[ends - 1] + 1
    off = np.cumsum(length) - length
    N = int(length.sum())
    gid = np.repeat(np.arange(len(starts)), length)
    back = np.arange(N) - off[gid]
    ahead = length[gid] - 1 - back
    x = np.full(N, np.nan)
    x[np.repeat(off, sizes) + pos] = rb.column("value").to_numpy(zero_copy_only=False)
    if cfg.gap_fill_mode == "zero":
        x[np.isnan(x)] = 0.0
    elif cfg.gap_fill_mode == "locf":
        last = np.maximum.accumulate(np.where(np.isnan(x), -1, np.arange(N)))
        x = np.where(last >= off[gid], x[last], np.nan)  # never the previous source's
    bts = _bucket_after(t0[gid], back, tier)

    x_ma = _moving_avg(x, back, ahead, cfg.ma_window)
    if cfg.threshold_mode == "variable":
        n_cycle = _N_CYCLE[tier]
        key = gid * n_cycle + _cycle_pos(bts, tier)
    else:
        n_cycle, key = 1, gid
    x0 = _threshold(x_ma, key, len(starts) * n_cycle, cfg.threshold_pct)

    runs = run_table(back == 0, bts, x_ma, x0)
    ev = _pool_runs({**runs, "gid": gid[runs["first"]]}, cfg)
    source = rb.column("source").take(starts[ev["gid"]])
    return pa.RecordBatch.from_arrays(
        [source] + [ev[c] for c in _KERNEL_SCHEMA.names[1:]], schema=_KERNEL_SCHEMA)


def pool_events(series: DataFrame, tier: str, cfg: EngineConfig = DEFAULT) -> DataFrame:
    """Tier series (source, bucket_start, value) → final event table
    (source, event_id, onset, termination, duration, severity,
    intensity, peak, pooled, excluded). Pooling runs to fixed point for
    `cfg.pooling == "ic"` and is skipped for "none". Lazy: one Exchange
    + one Sort + one MapInArrow."""
    tz = series.sparkSession.conf.get("spark.sql.session.timeZone")
    rows = series.select(
        "source",
        F.unix_micros(F.from_utc_timestamp("bucket_start", tz)).alias("ts"),
        F.col("value").cast("double").alias("value"),
    )
    parts = rows.repartition("source").sortWithinPartitions("source", "ts")
    out = parts.mapInArrow(
        lambda batches: grouped_stream(
            batches, ["source"], lambda rb, s, e: _source_events(rb, s, e, tier, cfg)),
        from_arrow_schema(_KERNEL_SCHEMA),
    )
    wall = lambda c: F.to_utc_timestamp(F.timestamp_micros(c), tz).alias(c)  # noqa: E731
    return out.select(
        "source", "event_id", wall("onset"), wall("termination"),
        "duration", "severity", "intensity", "peak", "pooled", "excluded",
    )
