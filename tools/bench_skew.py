"""Skewed-fixture A/B for window skew (SURVEY.md §4): chunked vs global
per-source window MA on a dense series whose skew is SERIES LENGTH: one
source owns a multi-million-bucket hourly calendar, so the global
window is a single-task sort while the chunked variant fans out over
(source, chunk) with halos.

Each variant runs `iters` times; min wall is reported (the host steals
CPU in bursts — min is the least-contaminated sample, same convention
as bench.py). The pair also cross-checks equality on (count, bit_xor of
the value rounded to micro-units) so the A/B can never silently compare
different answers. One JSON line on stdout.

Usage:
    python tools/bench_skew.py [n_buckets]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from drought_t_spark.operators.chunked import moving_avg_chunked  # noqa: E402
from drought_t_spark.operators.smoothing import moving_avg  # noqa: E402
from drought_t_spark.session import build_session  # noqa: E402

CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def _log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def _min_wall(fn, iters: int = 3) -> tuple[float, object]:
    walls, last = [], None
    for _ in range(iters):
        t0 = time.time()
        last = fn()
        walls.append(time.time() - t0)
    return min(walls), last


def bench_chunked(spark, n_buckets: int, out: dict) -> None:
    # one 'giant' source owning n_buckets dense hourly buckets + 31
    # small sources of n_buckets/256 each: per-source global windows
    # serialize the giant source into ONE sort task
    small = n_buckets // 256
    series = (
        spark.range(0, n_buckets + 31 * small, 1, CPUS * 4)
        .select(
            F.when(F.col("id") < n_buckets, F.lit("giant"))
            .otherwise(F.concat(F.lit("s"), ((F.col("id") - n_buckets) / small).cast("int")))
            .alias("source"),
            F.timestamp_seconds(
                F.lit(946_684_800)
                + F.when(F.col("id") < n_buckets, F.col("id"))
                .otherwise(F.pmod(F.col("id") - n_buckets, F.lit(small)))
                * 3600
            ).alias("bucket_start"),
            (F.pmod(F.xxhash64("id"), F.lit(1_000_000)) / 1000.0).alias("value"),
        )
        .localCheckpoint(eager=True)
    )
    out["window"] = {"n_rows": series.count(), "giant_buckets": n_buckets}

    def _sig(df):
        # equality witness: micro-unit-quantized MA folded with bit_xor
        return df.agg(
            F.count("*").alias("n"),
            F.expr("bit_xor(cast(round(x_ma * 1000000) as bigint))").alias("x"),
        ).first()

    for name, fn in (
        ("global", lambda: _sig(moving_avg(series, 721))),
        ("chunked", lambda: _sig(moving_avg_chunked(series, 721, "hour"))),
    ):
        w, row = _min_wall(fn)
        out["window"][name] = {"sec": round(w, 3), "n": int(row["n"]), "xor": int(row["x"])}
        _log(f"window[{name}]: {out['window'][name]}")
    g, c = out["window"]["global"], out["window"]["chunked"]
    assert (g["n"], g["xor"]) == (c["n"], c["xor"]), "chunked != global"


def main(n_buckets: int) -> None:
    spark = build_session(
        "bench-skew",
        master=f"local[{CPUS}]",
        shuffle_partitions=max(32, CPUS),
        extra_conf={"spark.driver.maxResultSize": "8g"},
    )
    out: dict = {"cpus": CPUS, "n_buckets": n_buckets}
    bench_chunked(spark, n_buckets, out)
    print(json.dumps(out))


if __name__ == "__main__":
    main(int(sys.argv[1]) if len(sys.argv) > 1 else 2_000_000)
