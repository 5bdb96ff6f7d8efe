#!/usr/bin/env python
"""spark-submit entry point for the resumable tier-rollup job — the
north rule's launch mode (BASELINE.json: "run via spark-submit
--py-files on a multi-executor cluster"). SURVEY.md §3.2 #1.

Cluster launch (package the engine first: `python tools/make_pyfiles.py`):

    spark-submit --master <cluster> --py-files dist/drought_t_spark.zip \
        tools/run_rollup_job.py \
        --input  <path to raw.sequences parquet> \
        --warehouse <warehouse root> --job-id nightly --n-groups 64

The same script re-run after a crash resumes from the committed
checkpoint groups (idempotent per-partition sinks — see test_resume and
test_submit). `--master` stays empty under spark-submit (the launcher
owns it); pass `--master local[N]` only for direct `python` runs.
"""

from __future__ import annotations

import argparse
import sys


def main(argv=None) -> None:
    p = argparse.ArgumentParser(description=__doc__)
    p.add_argument("--input", required=True, help="raw sequences parquet path")
    p.add_argument("--warehouse", required=True, help="warehouse root path")
    p.add_argument("--job-id", default="rollup")
    p.add_argument("--n-groups", type=int, default=8,
                   help="checkpoint hash-bucket count (~executors/4 at scale)")
    p.add_argument("--no-payloads", action="store_true",
                   help="skip the TSZ1 payload pack stage")
    p.add_argument("--master", default="",
                   help="Spark master for direct python runs; leave empty "
                        "under spark-submit")
    a = p.parse_args(argv)

    from drought_t_spark.plans.rollup_job import run_rollup_job
    from drought_t_spark.session import build_session
    from drought_t_spark.sources.warehouse import Warehouse

    spark = build_session(f"rollup-{a.job_id}", master=a.master)
    seqs = spark.read.parquet(a.input)
    run_rollup_job(
        spark, Warehouse(a.warehouse), seqs, a.job_id,
        n_groups=a.n_groups, with_payloads=not a.no_payloads,
    )
    print(f"rollup job {a.job_id} complete", file=sys.stderr)


if __name__ == "__main__":
    main()
