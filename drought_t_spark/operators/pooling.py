"""PL1 — inter-event time-and-volume (IC) pooling to fixed point
(SURVEY.md §2.10; Fleig et al. 2006 §3.2), then event numbering and
EX1 minor-drought exclusion (Fleig et al. 2006 §3.3).

Normative semantics (`local_ref.run_site` implements the SAME
algorithm independently — this is the executable spec standing in for
the empty reference snapshot):

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

Spark shape: the run table (one row per below- AND above-run) goes
through ONE repartition(source) → sortWithinPartitions(source, run_id)
→ mapInPandas stage on the `rollup.grouped_stream` scaffold. The kernel
works on whole Arrow batches: every complete source in a batch is
pooled at once with NumPy, each pass (`_pool_pass`) one vectorized
chain merge over all of the batch's events — no loop of Spark jobs,
no checkpoint, no per-row Python. Consecutive sources never chain: the
last event of a source has no inter-event gap.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from drought_t_spark.config import EngineConfig, DEFAULT
from drought_t_spark.operators.rollup import grouped_stream

_KERNEL_SCHEMA = (
    "source string, event_id long, onset long, termination long, "
    "duration long, severity double, intensity double, peak double, "
    "pooled boolean, excluded boolean"
)


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


def _pool_stream(batches, cfg: EngineConfig):
    """mapInPandas kernel: run rows sorted by (source, run_id) →
    pooled, numbered, exclusion-flagged events per source."""
    def emit(pdf, starts, ends):
        n = int(ends[-1]) if len(ends) else 0
        gid = np.repeat(np.arange(len(starts)), ends - starts)
        col = {c: pdf[c].to_numpy()[:n] for c in (
            "below", "onset", "termination", "duration", "severity", "peak", "excess")}
        idx = np.flatnonzero(col["below"] == 1)
        g = gid[idx]
        # the run after an event is an inter-event gap only if another
        # event of the same source follows it
        has_next = np.append(g[1:] == g[:-1], False)
        nxt = np.minimum(idx + 1, max(n - 1, 0))
        ev = {
            "gid": g,
            "onset": col["onset"][idx],
            "termination": col["termination"][idx],
            "duration": col["duration"][idx],
            "severity": col["severity"][idx],
            "peak": col["peak"][idx],
            "gap_t": np.where(has_next, col["duration"][nxt], np.nan),
            "gap_v": np.where(has_next, col["excess"][nxt], np.nan),
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
        return pd.DataFrame({
            "source": pdf["source"].to_numpy()[starts][g],
            "event_id": np.arange(m, dtype=np.int64) - np.repeat(heads, sizes) + 1,
            "onset": ev["onset"],
            "termination": ev["termination"],
            "duration": dur,
            "severity": sev,
            "intensity": sev / dur,
            "peak": ev["peak"],
            "pooled": ev["pooled"],
            "excluded": (dur < cfg.min_duration) | (sev < s_min),
        })

    yield from grouped_stream(batches, ["source"], emit)


def pool_events(run_events: DataFrame, cfg: EngineConfig = DEFAULT) -> DataFrame:
    """Run table (`runs.extract_events`) → final event table
    (source, event_id, onset, termination, duration, severity,
    intensity, peak, pooled, excluded). Pooling runs to fixed point for
    `cfg.pooling == "ic"` and is skipped for "none". Lazy: one Exchange
    + one Sort + one MapInPandas. Timestamps cross the Python boundary
    as epoch microseconds (exact, no session-timezone conversion)."""
    rows = run_events.select(
        "source", "run_id", "below",
        F.unix_micros("onset").alias("onset"),
        F.unix_micros("termination").alias("termination"),
        "duration", "severity", "peak", "excess",
    )
    parts = rows.repartition("source").sortWithinPartitions("source", "run_id")
    out = parts.mapInPandas(lambda batches: _pool_stream(batches, cfg), _KERNEL_SCHEMA)
    return out.select(
        "source", "event_id",
        F.timestamp_micros("onset").alias("onset"),
        F.timestamp_micros("termination").alias("termination"),
        "duration", "severity", "intensity", "peak", "pooled", "excluded",
    )
