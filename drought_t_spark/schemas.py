"""Fixed, explicit schemas for every engine table (SURVEY.md §1.2).

T0 ``raw.sequences`` is exactly the input hint from BASELINE.json:15:
``(doc_id string, tokens array<int32>, n_tok int32, source string)``.
Everything downstream is flat columns (no nested structs) so the DuckDB
oracle comparison stays trivial.

`TABLES` maps each warehouse table to its schema, the only place that
knows it (Iceberg: the table metadata); `sources.warehouse` reads and
writes every table by it.
"""

from __future__ import annotations

from pyspark.sql import types as T

# T0 — the input token table
SEQUENCES = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("tokens", T.ArrayType(T.IntegerType(), False), False),
        T.StructField("n_tok", T.IntegerType(), False),
        T.StructField("source", T.StringType(), False),
    ]
)

# T2 — rollup tiers (FIXTURES.md §F5). Every tier is written as two
# tables: stats (`agg.tier_{hour,day,month}`, one shared schema) and
# TSZ1 token payloads (`agg.payload_{hour,day,month}`).
TIER = T.StructType(
    [
        T.StructField("source", T.StringType(), False),
        T.StructField("bucket_start", T.TimestampType(), False),
        T.StructField("n_seq", T.LongType(), True),
        T.StructField("n_tok_sum", T.LongType(), True),
        T.StructField("n_tok_min", T.IntegerType(), True),
        T.StructField("n_tok_max", T.IntegerType(), True),
        T.StructField("n_tok_avg", T.DoubleType(), True),
        T.StructField("value", T.DoubleType(), True),
        T.StructField("gap_filled", T.BooleanType(), False),
    ]
)

PAYLOAD = T.StructType(
    [
        T.StructField("source", T.StringType(), False),
        T.StructField("bucket_start", T.TimestampType(), False),
        T.StructField("chunk_id", T.IntegerType(), False),
        T.StructField("payload", T.BinaryType(), True),
        T.StructField("payload_codec", T.StringType(), True),
        T.StructField("payload_n_tokens", T.LongType(), True),
        T.StructField("payload_crc32", T.LongType(), True),
    ]
)

# Streaming ingest tables (`streaming/rollup_stream.py`,
# `streaming/payload_stream.py`). Each micro-batch lands in its own
# `batch_key` partition: `agg.stream_partials_hour` holds hour-tier
# stats partials, `agg.stream_payload_partials` raw token rows, and the
# seal folds the latter into the per-source `agg.stream_payload_tail`.
_BATCH_KEY = T.StructField("batch_key", T.StringType(), True)
STREAM_PARTIALS = T.StructType(TIER.fields + [_BATCH_KEY])
STREAM_RAW = T.StructType(
    [
        T.StructField("source", T.StringType(), True),
        T.StructField("ts", T.TimestampType(), True),
        T.StructField("seq", T.LongType(), True),
        T.StructField("tokens", T.ArrayType(T.IntegerType(), True), True),
        T.StructField("n_tok", T.IntegerType(), True),
    ]
)
STREAM_RAW_PARTIALS = T.StructType(STREAM_RAW.fields + [_BATCH_KEY])
# `drought.stream_runs` (`streaming/runs_stream.py`): one row per run
# the stream closed, bit-equal to `operators.runs.extract_events`' row
# for it, in its micro-batch's `batch_key` partition
STREAM_RUNS = T.StructType(
    [
        T.StructField("source", T.StringType(), True),
        T.StructField("run_id", T.LongType(), True),
        T.StructField("below", T.IntegerType(), True),
        T.StructField("onset", T.TimestampType(), True),
        T.StructField("termination", T.TimestampType(), True),
        T.StructField("duration", T.LongType(), True),
        T.StructField("severity", T.DoubleType(), True),
        T.StructField("peak", T.DoubleType(), True),
        T.StructField("excess", T.DoubleType(), True),
        _BATCH_KEY,
    ]
)

# Value history of expired fine tiers (`retention._archive_values`):
# one row per (source, coarse bucket), `cb` = its yyyyMMdd partition
VALUE_HISTORY = T.StructType(
    [
        T.StructField("source", T.StringType(), True),
        T.StructField("bucket_start", T.TimestampType(), True),
        T.StructField("n_points", T.LongType(), True),
        T.StructField("ts_payload", T.BinaryType(), True),
        T.StructField("val_payload", T.BinaryType(), True),
        T.StructField("cb", T.StringType(), True),
    ]
)

# T3 — drought event table (FIXTURES.md §F3)
EVENTS = T.StructType(
    [
        T.StructField("source", T.StringType(), False),
        T.StructField("event_id", T.LongType(), False),
        T.StructField("onset", T.TimestampType(), False),
        T.StructField("termination", T.TimestampType(), False),
        T.StructField("duration", T.LongType(), False),
        T.StructField("severity", T.DoubleType(), False),
        T.StructField("intensity", T.DoubleType(), False),
        T.StructField("peak", T.DoubleType(), False),
        T.StructField("pooled", T.BooleanType(), False),
        T.StructField("excluded", T.BooleanType(), False),
    ]
)

# T4 — ops tables (BASELINE.json:14 "resumable from checkpoint with
# per-partition lineage and metrics")
CHECKPOINTS = T.StructType(
    [
        T.StructField("job_id", T.StringType(), False),
        T.StructField("stage", T.StringType(), False),
        T.StructField("partition_id", T.StringType(), False),
        T.StructField("state", T.StringType(), False),
        T.StructField("snapshot_id", T.StringType(), True),
    ]
)

LINEAGE = T.StructType(
    [
        T.StructField("job_id", T.StringType(), False),
        T.StructField("stage", T.StringType(), False),
        T.StructField("input_snapshot", T.StringType(), True),
        T.StructField("output_snapshot", T.StringType(), True),
        T.StructField("partition_id", T.StringType(), False),
        T.StructField("rows_in", T.LongType(), False),
        T.StructField("rows_out", T.LongType(), False),
    ]
)

METRICS = T.StructType(
    [
        T.StructField("job_id", T.StringType(), False),
        T.StructField("stage", T.StringType(), False),
        T.StructField("name", T.StringType(), False),
        T.StructField("value", T.DoubleType(), False),
    ]
)

_TIERS = ("hour", "day", "month")
TABLES: dict[str, T.StructType] = {
    **{f"agg.tier_{t}": TIER for t in _TIERS},
    **{f"agg.payload_{t}": PAYLOAD for t in _TIERS},
    **{f"agg.value_history_{t}": VALUE_HISTORY for t in ("hour", "day")},  # tiers that expire
    **{f"drought.events_{t}": EVENTS for t in _TIERS},
    "agg.stream_partials_hour": STREAM_PARTIALS,
    "agg.stream_payload_partials": STREAM_RAW_PARTIALS,
    "agg.stream_payload_tail": STREAM_RAW,
    "drought.stream_runs": STREAM_RUNS,
    "ops.checkpoints": CHECKPOINTS,
    "ops.lineage": LINEAGE,
    "ops.metrics": METRICS,
}
