"""Chunked window operators for pathologically long per-source
calendars (SURVEY.md §4 skew row, §7 hard-part 3).

`Window.partitionBy('source')` puts a source's ENTIRE calendar into one
task — AQE splits skewed joins but NOT skewed window partitions. After
rollup a calendar is bounded by time span (not sequence count), but a
decades-long hour-tier series is ~10^5-10^6 buckets, i.e. one straggler
task per heavy source on a 1000-executor cluster. These operators split
each source's timeline into fixed `chunk_buckets`-wide chunks, run the
window per (source, chunk), and make the result exact across edges:

* ``moving_avg_chunked`` — centered MA with a halo: the k buckets
  adjacent to each chunk edge are duplicated into the neighbor chunk,
  so every owned row sees its full ±k frame. Exactness needs the dense
  calendar invariant (gap-fill first), same as ``moving_avg``.
* ``chunked_run_events`` — run segmentation per (source, chunk), then a
  single stitching pass: consecutive runs (per source, onset order)
  with the same `below` flag and bucket-adjacent boundaries merge via
  the chain idiom (lag → chain-id running sum → re-aggregate). One pass
  suffices — contiguity is not value-dependent, so chains of any length
  collapse in one grouping (unlike IC pooling's fixed point).

Measured for the drought method itself (4 vCPUs, local[4]): one
10^6-bucket hour-tier source (114 years, 3% gaps) through
`drought_events_for_tier` completes as ONE task of the grouped NumPy
kernel — 2.75 s warm (6.9 s cold), 1.6 GB peak RSS of the whole process
tree, the same 26169 events as the window DAG it replaced (9.2 s warm,
2.1 GB). The method therefore no longer needs chunking: a source's whole
calendar is a few arrays of 8 MB in one Python worker, linear in its
length. This module stays for the declared window queries that still
partition by source (`ma_chunked`, `runs_events_chunked`), where the
reason above holds.

Parity with the global-window operators is asserted by
tests/test_chunked.py on the F2 fixture, and `runs_events_chunked` /
`ma_chunked` in __spark_entry__ are oracle-checked against the SAME
DuckDB SQL as their global twins.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from drought_t_spark.config import TIER_SECONDS
from drought_t_spark.functions.scalars import deficit


def _with_chunk(df: DataFrame, tier: str, chunk_buckets: int,
                order_col: str = "bucket_start") -> DataFrame:
    span = TIER_SECONDS[tier]  # KeyError for 'month' on purpose: no fixed span
    epoch_b = (F.col(order_col).cast("long") / span).cast("long")
    return (
        df.withColumn("_eb", epoch_b)
        .withColumn("_chunk", F.floor(F.col("_eb") / chunk_buckets).cast("long"))
        .withColumn("_pos", F.pmod(F.col("_eb"), F.lit(chunk_buckets)))
    )


def moving_avg_chunked(
    df: DataFrame,
    window: int,
    tier: str,
    chunk_buckets: int = 8192,
    value_col: str = "value",
    out_col: str = "x_ma",
    order_col: str = "bucket_start",
) -> DataFrame:
    """Centered MA of width `window` over a DENSE calendar, computed per
    (source, chunk) with k-bucket halos — bit-equal to ``moving_avg``."""
    assert window % 2 == 1, "centered window must be odd"
    k = window // 2
    assert chunk_buckets > 2 * k, "chunk must be wider than the window"
    base = _with_chunk(df, tier, chunk_buckets, order_col).withColumn(
        "_own", F.lit(True)
    )
    left_halo = base.where(F.col("_pos") < k).withColumn(
        "_chunk", F.col("_chunk") - 1
    ).withColumn("_own", F.lit(False))
    right_halo = base.where(F.col("_pos") >= chunk_buckets - k).withColumn(
        "_chunk", F.col("_chunk") + 1
    ).withColumn("_own", F.lit(False))
    ext = base.unionByName(left_halo).unionByName(right_halo)
    w = (
        Window.partitionBy("source", "_chunk")
        .orderBy(order_col)
        .rowsBetween(-k, k)
    )
    out = ext.withColumn(out_col, F.avg(value_col).over(w))
    return out.where(F.col("_own")).drop("_eb", "_chunk", "_pos", "_own")


def chunked_run_events(
    masked: DataFrame,
    tier: str,
    chunk_buckets: int = 8192,
    order_col: str = "bucket_start",
) -> DataFrame:
    """extract_events(segment_runs(masked)) computed per (source, chunk)
    + one edge-stitching pass. `masked` must carry source, bucket_start,
    x_ma, x0, below over a dense calendar."""
    span = TIER_SECONDS[tier]
    base = _with_chunk(masked, tier, chunk_buckets, order_col)

    # per-(source, chunk) run segmentation — the RL2 idiom, local window
    wc = Window.partitionBy("source", "_chunk").orderBy(order_col)
    chg = F.when(
        F.lag("below").over(wc).isNull() | (F.lag("below").over(wc) != F.col("below")),
        F.lit(1),
    ).otherwise(F.lit(0))
    runs = base.withColumn("_chg", chg).withColumn(
        "_rid", F.sum("_chg").over(wc.rowsBetween(Window.unboundedPreceding, 0))
    )

    d = deficit("x_ma", "x0")
    e = deficit("x0", "x_ma")
    local_ev = runs.groupBy("source", "_chunk", "_rid").agg(
        F.first("below").alias("below"),
        F.min(order_col).alias("onset"),
        F.max(order_col).alias("termination"),
        F.count("*").cast("long").alias("duration"),
        F.sum(d).alias("severity"),
        F.max(d).alias("peak"),
        F.sum(e).alias("excess"),
    )

    # stitch: merge consecutive same-below runs with bucket-adjacent
    # boundaries (only possible at chunk edges — inside a chunk runs
    # alternate `below` by construction)
    ws = Window.partitionBy("source").orderBy("onset")
    join_prev = (
        F.lag("below").over(ws).isNotNull()
        & (F.lag("below").over(ws) == F.col("below"))
        & (F.col("onset").cast("long") - F.lag(F.col("termination").cast("long")).over(ws) == span)
    )
    chained = local_ev.withColumn(
        "_join", F.coalesce(join_prev, F.lit(False))
    ).withColumn(
        "_chain",
        F.sum(F.when(F.col("_join"), 0).otherwise(1)).over(
            ws.rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    stitched = chained.groupBy("source", "_chain").agg(
        F.first("below").alias("below"),
        F.min("onset").alias("onset"),
        F.max("termination").alias("termination"),
        F.sum("duration").cast("long").alias("duration"),
        F.sum("severity").alias("severity"),
        F.max("peak").alias("peak"),
        F.sum("excess").alias("excess"),
    )
    wid = Window.partitionBy("source").orderBy("onset")
    return stitched.withColumn(
        "run_id", F.row_number().over(wid).cast("long")
    ).drop("_chain")
