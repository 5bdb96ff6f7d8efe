"""RL1/RL2/EV1 — below-mask, run segmentation, raw event extraction
(SURVEY.md §2.10; Yevjevich 1967 run theory).

below(t) = x_ma(t) < x0(t), strict, null→false. Runs are maximal
consecutive stretches of equal `below` per source. Both below and above
runs are kept — pooling (PL1) needs the above-runs' inter-event time and
excess volume.

Two implementations, equal bit for bit (tests/test_streaming_runs.py):

* `run_table` — the NumPy run step under the drought kernel
  (`pooling._source_events`) and the streaming run fold
  (`streaming.runs_stream._fold_runs`);
* `below_mask` → `segment_runs` → `extract_events` — the Spark window
  form (lag→change-flag→running-sum idiom, W2/W3): one shuffle keyed
  by source, no self-joins. It serves `runs_events_variable` and is the
  independent reference the streaming fold is checked against.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from drought_t_spark.functions.scalars import deficit


def below_mask(df: DataFrame) -> DataFrame:
    """RL1 — strict below-threshold flag x_ma < x0; null-safe false."""
    return df.withColumn(
        "below",
        F.when(F.col("x_ma") < F.col("x0"), F.lit(1)).otherwise(F.lit(0)),
    )


def segment_runs(df: DataFrame) -> DataFrame:
    """RL2 — run_id per maximal constant-`below` stretch per source, in
    bucket_start order."""
    w = Window.partitionBy("source").orderBy("bucket_start")
    chg = F.when(
        F.lag("below").over(w).isNull() | (F.lag("below").over(w) != F.col("below")),
        F.lit(1),
    ).otherwise(F.lit(0))
    return df.withColumn("chg", chg).withColumn(
        "run_id", F.sum("chg").over(w.rowsBetween(Window.unboundedPreceding, 0))
    ).drop("chg")


def extract_events(runs: DataFrame) -> DataFrame:
    """EV1 — one row per below-run AND per above-run (gap).

    Below-runs carry (onset, termination, duration, severity, peak);
    above-runs carry (gap_len, gap_excess) = the inter-event time and
    excess volume PL1's pooling criterion needs. Severity uses
    deficit = max(x0 − x_ma, 0); excess is the mirror image.
    """
    d = deficit("x_ma", "x0")
    e = deficit("x0", "x_ma")  # excess above threshold
    return (
        runs.groupBy("source", "run_id")
        .agg(
            F.first("below").alias("below"),
            F.min("bucket_start").alias("onset"),
            F.max("bucket_start").alias("termination"),
            F.count("*").cast("long").alias("duration"),
            F.sum(d).alias("severity"),
            F.max(d).alias("peak"),
            F.sum(e).alias("excess"),
        )
    )


def _left_sums(v: np.ndarray, first: np.ndarray, length: np.ndarray) -> np.ndarray:
    """Per run, the rows v[first:first + length] summed left to right,
    each column on its own. The runs of one power-of-two length class
    are one matrix, a row per run holding the run and whatever follows
    it up to the class width, and one `cumsum` along the rows read at
    each run's last element, so what follows never enters a sum. The
    loop runs once per class, and a class's matrix is at most twice the
    size of its runs."""
    out = np.empty((len(first), v.shape[1]))
    cls = np.frexp(length - 1)[1]  # 2**(cls-1) < length <= 2**cls
    for c in np.unique(cls):
        i = np.flatnonzero(cls == c)
        pos = np.minimum(first[i, None] + np.arange(1 << int(c)), len(v) - 1)
        out[i] = np.cumsum(v[pos], axis=1)[np.arange(len(i)), length[i] - 1]
    return out


def run_table(head: np.ndarray, ts: np.ndarray, x_ma: np.ndarray, x0: np.ndarray,
              seed: tuple[float, float] = (0.0, 0.0)) -> dict:
    """RL1/RL2/EV1 over buckets sorted by (source, ts), `head` marking
    each source's first bucket → one array entry per run: `first` (the
    index of its first bucket), `below`, `onset`, `termination`,
    `duration`, `severity`, `peak`, `excess`.

    below = x_ma < x0; deficit and excess are floored at 0. A missing
    (NaN) value is not below and contributes 0. A run starts at a head
    or where `below` changes. Severity and excess are summed left to
    right from 0.0, the order Spark's `F.sum` folds a sorted partition,
    and the first run's from `seed`: the totals carried by a run that
    an earlier call left open, so a run split across calls sums to the
    same bits as the whole run."""
    below = x_ma < x0
    # + 0.0 turns -0.0 into 0.0; then 0.0 + x = x, so a run's sum from
    # 0.0 is the sum from its first value
    deficit = np.fmax(x0 - x_ma, 0.0) + 0.0
    excess = np.fmax(x_ma - x0, 0.0) + 0.0
    starts = head.copy()
    starts[1:] |= below[1:] != below[:-1]
    first = np.flatnonzero(starts)
    length = np.diff(np.append(first, len(ts)))
    dev = np.stack([deficit, excess], axis=1)
    dev[first[0]] += seed
    sums = _left_sums(dev, first, length)
    return {
        "first": first,
        "below": below[first],
        "onset": ts[first],
        "termination": ts[first + length - 1],
        "duration": length,
        "severity": sums[:, 0],
        "peak": np.maximum.reduceat(deficit, first),
        "excess": sums[:, 1],
    }
