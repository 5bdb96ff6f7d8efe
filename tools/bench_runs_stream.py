"""Throughput probe for the streaming stateful run extraction
(streaming/runs_stream.py): N sources × H hourly buckets of a
deterministic multi-run series, fed as `slices` parquet file drops
through applyInPandasWithState into `drought.stream_runs` of a
warehouse under the probe's temp root, timed end-to-end (all
micro-batches, sink writes included) and cross-checked against the
batch operator (terminated-run counts AND a severity checksum must
agree — the probe never times a wrong answer).

Reported: buckets/sec through the stateful operator, emitted runs,
per-micro-batch wall. State is O(sources) fixed-width, so the number
that matters at 10^5 sources is buckets/sec per core, not state size.
One JSON line on stdout.

Usage:
    python tools/bench_runs_stream.py [n_sources] [hours] [slices]
"""

from __future__ import annotations

import json
import math
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import numpy as np  # noqa: E402
import pandas as pd  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from drought_t_spark.operators import runs as R  # noqa: E402
from drought_t_spark.session import build_session  # noqa: E402
from drought_t_spark.sources.warehouse import Warehouse  # noqa: E402
from drought_t_spark.streaming.runs_stream import (  # noqa: E402
    RUN_STREAM_INPUT,
    RUNS_TBL,
    start_runs_stream,
)

CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def _series(n_sources: int, hours: int) -> pd.DataFrame:
    """Vectorized deterministic series: per-source period 8..40h around
    x0=0, many runs per source."""
    t0 = np.datetime64("2024-01-01", "us")
    h = np.arange(hours, dtype=np.int64)
    frames = []
    for s in range(n_sources):
        period = 8.0 + (s % 33)
        x = np.sin(2 * math.pi * (h + 2 * s) / period) + 0.03 * (s % 7)
        frames.append(
            pd.DataFrame(
                {
                    "source": f"src_{s:05d}",
                    "bucket_start": t0 + h * np.timedelta64(3600_000_000, "us"),
                    "x_ma": x,
                    "x0": 0.0,
                }
            )
        )
    return pd.concat(frames, ignore_index=True)


def main() -> None:
    n_sources = int(sys.argv[1]) if len(sys.argv) > 1 else 512
    hours = int(sys.argv[2]) if len(sys.argv) > 2 else 2000
    slices = int(sys.argv[3]) if len(sys.argv) > 3 else 8
    spark = build_session(
        "bench-runs-stream", master=f"local[{CPUS}]", shuffle_partitions=CPUS
    )
    pdf = _series(n_sources, hours)
    root = tempfile.mkdtemp(prefix="runs_stream_bench_")
    try:
        in_dir = f"{root}/series"
        # pre-split by time into `slices` files; the stream is driven
        # one slice per processAllAvailable so arrival is in order
        bounds = [hours * i // slices for i in range(slices + 1)]
        t0 = pd.Timestamp("2024-01-01")
        sdf_all = spark.createDataFrame(pdf, RUN_STREAM_INPUT).localCheckpoint(
            eager=True
        )
        cuts = [
            (t0 + pd.Timedelta(hours=bounds[i]), t0 + pd.Timedelta(hours=bounds[i + 1]))
            for i in range(slices)
        ]
        # first slice must exist before the stream starts (schema probe)
        batch_walls: list[float] = []
        lo, hi = cuts[0]
        sdf_all.where(
            (F.col("bucket_start") >= F.lit(lo)) & (F.col("bucket_start") < F.lit(hi))
        ).write.mode("append").parquet(in_dir)
        wh = Warehouse(f"{root}/wh")
        wall0 = time.time()
        q = start_runs_stream(spark, in_dir, wh, f"{root}/ckpt",
                              files_per_trigger=10_000)
        try:
            t = time.time()
            q.processAllAvailable()
            batch_walls.append(round(time.time() - t, 3))
            for lo, hi in cuts[1:]:
                sdf_all.where(
                    (F.col("bucket_start") >= F.lit(lo))
                    & (F.col("bucket_start") < F.lit(hi))
                ).write.mode("append").parquet(in_dir)
                t = time.time()
                q.processAllAvailable()
                batch_walls.append(round(time.time() - t, 3))
            stream_wall = time.time() - wall0
        finally:
            q.stop()
        streamed = wh.read(spark, RUNS_TBL).agg(
            F.count("*").alias("n"), F.sum("severity").alias("sev")
        ).collect()[0]
        # batch cross-check: terminated runs only
        ev = R.extract_events(R.segment_runs(R.below_mask(sdf_all)))
        rid = ev.groupBy("source").agg(F.max("run_id").alias("m"))
        term = ev.join(F.broadcast(rid), "source").where(F.col("run_id") < F.col("m"))
        t = time.time()
        b = term.agg(
            F.count("*").alias("n"), F.sum("severity").alias("sev")
        ).collect()[0]
        batch_wall = time.time() - t
        assert streamed["n"] == b["n"], (streamed["n"], b["n"])
        assert abs(streamed["sev"] - b["sev"]) < 1e-6 * max(abs(b["sev"]), 1.0), (
            streamed["sev"], b["sev"],
        )
        print(
            json.dumps(
                {
                    "metric": "streaming_runs_buckets_per_sec",
                    "value": round(n_sources * hours / stream_wall, 1),
                    "unit": "buckets/sec",
                    "n_sources": n_sources,
                    "hours": hours,
                    "slices": slices,
                    "stream_wall_s": round(stream_wall, 3),
                    "micro_batch_walls_s": batch_walls,
                    "runs_emitted": streamed["n"],
                    "batch_recompute_wall_s": round(batch_wall, 3),
                    "cpus": CPUS,
                }
            ),
            flush=True,
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)
        spark.stop()


if __name__ == "__main__":
    main()
