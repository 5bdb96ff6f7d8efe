"""Chunked window operator for pathologically long per-source
calendars (SURVEY.md §4 skew row, §7 hard-part 3).

`Window.partitionBy('source')` puts a source's ENTIRE calendar into one
task — AQE splits skewed joins but NOT skewed window partitions. After
rollup a calendar is bounded by time span (not sequence count), but a
decades-long hour-tier series is ~10^5-10^6 buckets, i.e. one straggler
task per heavy source on a 1000-executor cluster.
``moving_avg_chunked`` splits each source's timeline into fixed
`chunk_buckets`-wide chunks and runs the centered MA per (source,
chunk) with a halo: the k buckets adjacent to each chunk edge are
duplicated into the neighbor chunk, so every owned row sees its full
±k frame. Exactness needs the dense calendar invariant (gap-fill
first), same as ``moving_avg``.

Measured for the drought method itself (4 vCPUs, local[4]): one
10^6-bucket hour-tier source (114 years, 3% gaps) through
`drought_events_for_tier` completes as ONE task of the grouped NumPy
kernel — 2.75 s warm (6.9 s cold), 1.6 GB peak RSS of the whole process
tree, the same 26169 events as the window DAG it replaced (9.2 s warm,
2.1 GB). The method therefore needs no chunking: a source's whole
calendar is a few arrays of 8 MB in one Python worker, linear in its
length. The chunked run stitch went for that reason, and the declared
`runs_events_chunked` query now runs the kernel; this module stays for
the declared window query `ma_chunked`.

Parity with ``moving_avg`` is asserted by tests/test_chunked.py on the
F2 fixture, and `ma_chunked` in __spark_entry__ is oracle-checked
against the SAME DuckDB SQL as its global twin.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from drought_t_spark.config import TIER_SECONDS


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
