"""Value-history compaction — the GZ3 (float64 XOR) tier consumer the
spec names for retention (SURVEY.md §2.9 GZ3: "tier `value` history
compaction").

When `expire_tier` ages a fine tier out behind the retention horizon,
the integer stats survive in the coarser tier by construction, but the
fine-grained float64 `value` SERIES (the drought variable per bucket) is
gone. `pack_value_history` archives it first: per (source, coarse
bucket) one row holding TWO codec payloads —

* `ts_payload`  — GZ1 delta-of-delta over int32 minute OFFSETS of each
  fine bucket from the coarse bucket start (gaps in the fine calendar
  survive exactly; offsets are small and monotone, the codec's best
  case);
* `val_payload` — GZ3 Gorilla-XOR over the float64 values, bit-exact.

`unpack_value_history` inverts it: decode both arrays (Arrow pandas
UDFs), `arrays_zip` + `posexplode` (JVM) → the original
(source, bucket_start, value) rows, exactly.

Shape: the same repartition + sortWithinPartitions + mapInArrow stream
on the `rollup.grouped_stream` scaffold as `pack_payloads` (BENCH/
PLANS.md §C/§L) — one row shuffle keyed by the group, group boundaries
found vectorized, no per-group Arrow batches and no pandas boundary.
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import from_arrow_schema, to_arrow_schema

from drought_t_spark.schemas import VALUE_HISTORY

#: the pack's rows: the archive table's columns but its `cb` partition
_HISTORY_SCHEMA = to_arrow_schema(T.StructType([f for f in VALUE_HISTORY if f.name != "cb"]))


def _pack_stream(batches):
    import numpy as np

    from drought_t_spark.codec import tsz1
    from drought_t_spark.operators.rollup import grouped_stream

    def emit(rb, starts, ends):
        offs = rb.column("off_min").to_numpy()
        vals = rb.column("value").to_numpy(zero_copy_only=False)
        return pa.RecordBatch.from_arrays([
            rb.column("source").take(starts),
            rb.column("coarse").take(starts),
            pa.array(ends - starts),
            pa.array([tsz1.encode_tokens(offs[s:e].astype(np.int32))
                      for s, e in zip(starts, ends)], pa.binary()),
            pa.array([tsz1.encode_floats(vals[s:e].astype(np.float64))
                      for s, e in zip(starts, ends)], pa.binary()),
        ], schema=_HISTORY_SCHEMA)

    yield from grouped_stream(batches, ["source", "coarse"], emit)


def pack_value_history(tier_df: DataFrame, to_tier: str = "month") -> DataFrame:
    """Compact a stats tier's (bucket_start, value) series into one row
    per (source, `to_tier` bucket): minute-offset GZ1 payload + float64
    GZ3 payload. Gap-filled rows are excluded (they carry no observed
    value; gap positions are reconstructible from the offsets)."""
    coarse = F.date_trunc(to_tier, "bucket_start").alias("coarse")
    base = (
        tier_df.where(~F.col("gap_filled"))
        .select(
            "source",
            coarse,
            F.floor(
                (F.col("bucket_start").cast("long") - F.date_trunc(to_tier, "bucket_start").cast("long")) / 60
            ).cast("int").alias("off_min"),
            F.col("value").cast("double").alias("value"),
        )
    )
    parts = base.repartition("source", "coarse").sortWithinPartitions(
        "source", "coarse", "off_min"
    )
    return parts.mapInArrow(_pack_stream, from_arrow_schema(_HISTORY_SCHEMA))


def unpack_value_history(hist_df: DataFrame) -> DataFrame:
    """Inverse of `pack_value_history`: back to the original
    (source, bucket_start, value) rows, bit-exact float64."""
    from drought_t_spark.codec.udfs import decode_floats_udf, decode_tokens_udf

    z = hist_df.select(
        "source",
        F.col("bucket_start").alias("coarse"),
        decode_tokens_udf("ts_payload").alias("offs"),
        decode_floats_udf("val_payload").alias("vals"),
    )
    ex = z.select(
        "source", "coarse", F.posexplode(F.arrays_zip("offs", "vals"))
    )
    return ex.select(
        "source",
        (F.col("coarse").cast("long") + F.col("col.offs").cast("long") * 60)
        .cast("timestamp").alias("bucket_start"),
        F.col("col.vals").alias("value"),
    )
