#!/usr/bin/env python
"""spark-submit entry point for the drought-method job — the
reference's MAIN analysis workflow (SURVEY.md §3.1 #1 / §3.2 #2):
TOML config → committed tier scan → gap-fill → MA → threshold →
runs → pooling → exclusion → `drought.events_<tier>` table, with an
optional events-CSV export (the reference workflow's final artifact).

Cluster launch (package the engine first: `python tools/make_pyfiles.py`):

    spark-submit --master <cluster> --py-files dist/drought_t_spark.zip \
        tools/run_drought_job.py \
        --warehouse <warehouse root> --tier day \
        --config analysis.toml --export-csv /out/events.csv

Runs AFTER the rollup job committed `agg.tier_<tier>`
(tools/run_rollup_job.py). `--master` stays empty under spark-submit;
pass `--master local[N]` only for direct `python` runs.
"""

from __future__ import annotations

import argparse
import sys


def main(argv=None) -> None:
    p = argparse.ArgumentParser(description=__doc__)
    p.add_argument("--warehouse", required=True, help="warehouse root path")
    p.add_argument("--tier", default="day", choices=["hour", "day", "month"])
    p.add_argument("--config", default=None,
                   help="TOML config file (EngineConfig.from_toml); defaults "
                        "to the Fleig-fixture defaults")
    p.add_argument("--export-csv", default=None,
                   help="also export the events table to this CSV file "
                        "(single file — the research-workflow artifact)")
    p.add_argument("--master", default="",
                   help="Spark master for direct python runs; leave empty "
                        "under spark-submit")
    a = p.parse_args(argv)

    from drought_t_spark.config import DEFAULT, EngineConfig
    from drought_t_spark.plans.drought import drought_events_for_tier
    from drought_t_spark.plans.export import export_events_csv
    from drought_t_spark.session import build_session
    from drought_t_spark.sources.warehouse import Warehouse

    cfg = EngineConfig.from_toml(a.config) if a.config else DEFAULT
    spark = build_session(f"drought-{a.tier}", master=a.master)
    wh = Warehouse(a.warehouse)
    tier_df = wh.read(spark, f"agg.tier_{a.tier}")
    events = drought_events_for_tier(tier_df, a.tier, cfg)
    table = f"drought.events_{a.tier}"
    n, _ = wh.write_partitioned(events, table, ["source"], key_cols=["source", "event_id"])
    if a.export_csv:
        # from the committed table: the method runs once, for the write
        export_events_csv(wh.read(spark, table), a.export_csv, single_file=True)
    print(f"drought job tier={a.tier}: {n} events committed", file=sys.stderr)


if __name__ == "__main__":
    main()
