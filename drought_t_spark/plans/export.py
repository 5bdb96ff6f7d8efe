"""Event/threshold export — the reference lifecycle's last step
(SURVEY.md §3.1: "export events CSV"), Spark-first.

The reference writes one research CSV per analysis from a pandas frame.
At engine scale the same step is a distributed write, so the exporter
has two modes:

- `single_file=False` (default, the scale path): one CSV directory,
  partitioned however the upstream plan is partitioned, each part file
  internally sorted by (source, onset) — a downstream shell/pandas
  consumer globs the parts. No repartition is forced: exporting must
  not add a shuffle to a plan that already placed its data.
- `single_file=True` (the research-workflow path): coalesce(1) into
  one part file and rename it to the exact target name. Only sane for
  event-scale outputs (runs, not buckets); documented as such.

Timestamps are formatted ISO-8601 UTC (`spark.sql.session.timeZone` is
pinned to UTC by the session factory), floats keep full repr precision
so a CSV round-trip stays bit-exact for doubles that came out of the
engine — pinned by tests/test_export.py.

Plots are presentation, not data, and stay out of engine scope (no
plotting libs in this environment; the exported CSV is the interchange
point a plotting notebook consumes).
"""

from __future__ import annotations

import glob
import os
import shutil

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from drought_t_spark.schemas import EVENTS

# Column order of the reference's events table (onset/termination/
# duration/severity/intensity/peak per site) — stable order so diffs of
# exported files are meaningful across runs.
EVENT_COLUMNS = [c for c in EVENTS.names if c not in ("pooled", "excluded")]

_TS_FMT = "yyyy-MM-dd'T'HH:mm:ss'Z'"


def _finalize_single_file(out_dir: str, target: str) -> None:
    parts = sorted(glob.glob(os.path.join(out_dir, "part-*")))
    if len(parts) != 1:
        # not an assert: must hold under `python -O` too
        raise RuntimeError(
            f"single-file export expected exactly one part in {out_dir}, got {parts}"
        )
    if os.path.isdir(target):
        # shutil.move would silently move the part INTO the directory
        # (e.g. a prior default-mode export to the same name), leaving
        # nothing at the expected file path — refuse instead
        raise IsADirectoryError(
            f"single-file export target {target} is an existing directory"
        )
    shutil.move(parts[0], target)
    shutil.rmtree(out_dir, ignore_errors=True)


def export_events_csv(
    events: DataFrame,
    path: str,
    single_file: bool = False,
) -> None:
    """Write a drought-events frame's `EVENT_COLUMNS` as CSV with a
    header, ISO-8601 UTC timestamps, and per-file (source, onset)
    ordering. `path` is a directory in the default mode, an exact file
    name with single_file=True."""
    cols = [c for c in EVENT_COLUMNS if c in events.columns]
    out = events.select(*cols).sortWithinPartitions("source", "onset")
    if single_file:
        out = out.coalesce(1)
    out_dir = path + "._spark_csv" if single_file else path
    (
        out.write.mode("overwrite")
        .option("header", "true")
        .option("timestampFormat", _TS_FMT)
        .csv(out_dir)
    )
    if single_file:
        _finalize_single_file(out_dir, path)


def export_threshold_csv(
    threshold: DataFrame,
    path: str,
    single_file: bool = False,
) -> None:
    """The threshold-only workflow's output (SURVEY.md §3.1 #2): the
    per-cycle-position x0 curve per source, ordered for inspection."""
    cols = [c for c in ("source", "cycle_pos", "x0") if c in threshold.columns]
    out = threshold.select(*cols).sortWithinPartitions(*cols[:2])
    if single_file:
        out = out.coalesce(1)
    out_dir = path + "._spark_csv" if single_file else path
    (
        out.write.mode("overwrite")
        .option("header", "true")
        .csv(out_dir)
    )
    if single_file:
        _finalize_single_file(out_dir, path)


def read_events_csv(spark, path: str) -> DataFrame:
    """Schema-stable read-back of an exported events CSV (round-trip
    twin of export_events_csv; used by tests and downstream consumers
    that want the frame back instead of raw text)."""
    return (
        spark.read.option("header", "true")
        .option("timestampFormat", _TS_FMT)
        .schema(T.StructType([EVENTS[c] for c in EVENT_COLUMNS]))
        .csv(path)
    )
