"""Driver contract for the spark-graft builder (PySpark target).

`entry(spark)` runs the flagship drought pipeline on sf0.001.
`queries()` exposes one DataFrame builder per implemented operator from
SURVEY.md §2; `oracle_sql()` gives the DuckDB twin for every
SQL-expressible one (identical column names/ordering; floats rounded
identically on both sides). Non-SQL-expressible operators (codec,
pooling fixed point, LSH approximations, multimodal stubs) are
rows-only by design.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from drought_t_spark.config import EngineConfig
from drought_t_spark.operators import rollup as R
from drought_t_spark.operators import similarity as SIM
from drought_t_spark.operators import textstats as TS
from drought_t_spark.operators.dedup import (
    exact_dedup,
    embedding_near_dups,
    minhash_lsh_pairs,
    simhash_near_pairs,
)
from drought_t_spark.operators.gapfill import gap_fill, missing_buckets
from drought_t_spark.operators.multimodal import decode_image_features, sample_frames, synth_media
from drought_t_spark.operators.smoothing import moving_avg
from drought_t_spark.plans.drought import drought_events_for_tier, rollup_tiers, series_to_tier

# ----------------------------------------------------------- helpers --


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _scaled(spark: SparkSession, df: DataFrame) -> DataFrame:
    """Scale-out for CPU-bound per-row operators: the sf* tables are
    single small parquet files, so Spark reads them as ONE partition and
    interpreted-lambda work (shingling, minhash, stopword voting) runs
    single-threaded. A real production table arrives in many files; this
    repartition recreates that so the op uses every core. The shuffle
    moves only the tiny input, never the derived arrays."""
    return df.repartition(spark.sparkContext.defaultParallelism)


def _hour_stats(spark, sf_dir) -> DataFrame:
    """Observed hourly buckets of the events table (event_type plays the
    role of source): n, sum, avg of `value` — the AG1 shape."""
    return (
        _t(spark, sf_dir, "events")
        .groupBy(
            F.col("event_type").alias("source"),
            F.date_trunc("hour", "ts").alias("bucket_start"),
        )
        .agg(
            F.count("*").alias("n_rows"),
            F.sum("value").alias("sum_raw"),
            F.avg("value").alias("avg_raw"),
        )
    )


_RUNS_CFG = EngineConfig(
    ma_window=1, threshold_mode="fixed", threshold_pct=0.5, pooling="none",
    min_duration=1, min_severity_abs=0.0, gap_fill_mode="none",
)

# fixed threshold: the events table spans ~1 month, so a day-of-year
# variable threshold would see one observation per cycle position and
# strict '<' would never fire (degenerate). Variable mode is exercised
# on multi-year fixtures in tests/test_drought_parity.py.
_FLAGSHIP_CFG = EngineConfig(
    ma_window=5, threshold_mode="fixed", threshold_pct=0.5, pooling="ic",
    pool_tc=3, pool_pc=0.2, min_duration=1, min_severity_abs=0.0,
)


def _daily_series(spark, sf_dir) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.col("event_type").alias("source"),
        F.date_trunc("day", "ts").alias("bucket_start"),
    ).agg(F.avg("value").alias("value"))
    return daily


# SQL fragment shared by the time-series oracles: observed hourly buckets
_SQL_HOURLY = """
b AS (
  SELECT event_type, date_trunc('hour', ts) AS bucket_start,
         CAST(count(*) AS BIGINT) AS n_rows,
         sum(value) AS sum_raw, avg(value) AS avg_raw
  FROM events GROUP BY 1, 2
),
r AS (SELECT event_type, min(bucket_start) lo, max(bucket_start) hi FROM b GROUP BY 1),
cal AS (
  SELECT event_type, unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS bucket_start
  FROM r
),
s AS (
  SELECT cal.event_type, cal.bucket_start, b.n_rows, b.sum_raw, b.avg_raw,
         b.bucket_start IS NULL AS gap_filled
  FROM cal LEFT JOIN b
    ON cal.event_type = b.event_type AND cal.bucket_start = b.bucket_start
)
"""


# ----------------------------------------------------------- queries --


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: full drought pipeline (gap-fill → MA → variable
    threshold → runs → IC pooling → exclusion) on sf0.001 daily tier."""
    sf_dir = "/root/testdata/sf0.001"
    tier = series_to_tier(_daily_series(spark, sf_dir), site_col="source",
                          ts_col="bucket_start")
    return drought_events_for_tier(tier, "day", _FLAGSHIP_CFG)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    q: dict[str, Callable[[SparkSession, str], DataFrame]] = {}

    # --- rollup / tiers (AG1/AG2) ---
    def rollup_hourly(spark, sf_dir):
        return _hour_stats(spark, sf_dir).select(
            F.col("source").alias("event_type"),
            "bucket_start",
            F.col("n_rows").cast("long").alias("n_rows"),
            F.round("sum_raw", 3).alias("sum_value"),
            F.round("avg_raw", 6).alias("avg_value"),
        )
    q["rollup_hourly"] = rollup_hourly

    def rollup_daily_cascade(spark, sf_dir):
        h = _hour_stats(spark, sf_dir)
        return (
            h.groupBy("source", F.date_trunc("day", "bucket_start").alias("bucket_start"))
            .agg(F.sum("n_rows").cast("long").alias("n_rows"),
                 F.round(F.sum("sum_raw"), 3).alias("sum_value"))
            .select(F.col("source").alias("event_type"), "bucket_start", "n_rows", "sum_value")
        )
    q["rollup_daily_cascade"] = rollup_daily_cascade

    # --- gap-fill family (GF1/J3/J4) ---
    def gapfill_hourly(spark, sf_dir):
        h = _hour_stats(spark, sf_dir).withColumn("value", F.col("sum_raw"))
        filled = gap_fill(h, "hour", EngineConfig(), value_cols=("value",))
        return filled.select(
            F.col("source").alias("event_type"), "bucket_start",
            F.round("value", 3).alias("sum_value"), "gap_filled",
        )
    q["gapfill_hourly"] = gapfill_hourly

    def locf_fill(spark, sf_dir):
        h = _hour_stats(spark, sf_dir).withColumn("value", F.col("sum_raw"))
        filled = gap_fill(h, "hour", EngineConfig(gap_fill_mode="locf"), value_cols=("value",))
        return filled.select(
            F.col("source").alias("event_type"), "bucket_start",
            F.round("value", 3).alias("v_locf"),
        )
    q["locf_fill"] = locf_fill

    def missing_hourly(spark, sf_dir):
        h = _hour_stats(spark, sf_dir)
        return (
            missing_buckets(h, "hour")
            .groupBy(F.col("source").alias("event_type"))
            .agg(F.count("*").cast("long").alias("n_missing"))
        )
    q["missing_buckets"] = missing_hourly

    # --- smoothing (W1) ---
    def moving_avg_centered(spark, sf_dir):
        h = _hour_stats(spark, sf_dir).withColumn("value", F.col("avg_raw"))
        filled = gap_fill(h, "hour", EngineConfig(), value_cols=("value",))
        sm = moving_avg(filled, 7)
        return sm.select(
            F.col("source").alias("event_type"), "bucket_start",
            F.round("x_ma", 6).alias("x_ma"),
        )
    q["moving_avg_centered"] = moving_avg_centered

    # --- thresholds (TH1/TH2) ---
    def threshold_fixed(spark, sf_dir):
        h = _hour_stats(spark, sf_dir)
        return h.groupBy(F.col("source").alias("event_type")).agg(
            F.round(F.percentile("avg_raw", F.lit(0.5)), 6).alias("x0")
        )
    q["threshold_fixed"] = threshold_fixed

    def threshold_variable(spark, sf_dir):
        h = _hour_stats(spark, sf_dir)
        return (
            h.groupBy(
                F.col("source").alias("event_type"),
                F.hour("bucket_start").cast("int").alias("cycle_pos"),
            )
            .agg(F.round(F.percentile("avg_raw", F.lit(0.5)), 6).alias("x0"))
        )
    q["threshold_variable"] = threshold_variable

    # --- runs / events (RL1/RL2/EV1, unpooled — SQL-expressible) ---
    def runs_events(spark, sf_dir):
        tier = _daily_series(spark, sf_dir)
        ev = drought_events_for_tier(tier, "day", _RUNS_CFG)
        return ev.select(
            F.col("source").alias("event_type"), "onset", "termination",
            F.col("duration").cast("long").alias("duration"),
            F.round("severity", 3).alias("severity"),
        )
    q["runs_events"] = runs_events

    def run_summary(spark, sf_dir):
        tier = _daily_series(spark, sf_dir)
        ev = drought_events_for_tier(tier, "day", _RUNS_CFG)
        return ev.groupBy(F.col("source").alias("event_type")).agg(
            F.count("*").cast("long").alias("n_runs"),
            F.round(F.avg("duration"), 6).alias("mean_duration"),
            F.round(F.max("severity"), 3).alias("max_severity"),
        )
    q["run_summary"] = run_summary

    def runs_events_variable(spark, sf_dir):
        """Variable-threshold (TH1) runs on the hourly tier: x0 varies
        by hour-of-week cycle position (the seasonal threshold the
        method prescribes for sub-daily tiers), strict below, run
        extraction — the variable-mode twin of `runs_events`."""
        from drought_t_spark.operators.runs import below_mask, segment_runs
        from drought_t_spark.operators.threshold import attach_threshold, variable_threshold

        # inputs rounded to 6dp BEFORE the threshold so the percentile
        # operands — and hence x0, a 6dp value or an exact midpoint —
        # are identical across engines; severity in half-micro integer
        # units ((x0−x_ma)·2e6 is integer-valued for such operands) is
        # then exact under ANY summation order (the W6 trick)
        h = _hour_stats(spark, sf_dir).withColumn("value", F.round("avg_raw", 6))
        filled = gap_fill(h, "hour", EngineConfig(), value_cols=("value",))
        sm = moving_avg(filled, 1)
        cfg_v = EngineConfig(threshold_pct=0.5)
        th = variable_threshold(sm, "hour", cfg_v)
        joined = attach_threshold(sm, th, "hour")
        runs = segment_runs(below_mask(joined))
        du = F.round((F.col("x0") - F.col("x_ma")) * 2e6, 0).cast("long")
        return (
            runs.where(F.col("below") == 1)
            .groupBy(F.col("source").alias("event_type"), "run_id")
            .agg(
                F.min("bucket_start").alias("onset"),
                F.max("bucket_start").alias("termination"),
                F.count("*").cast("long").alias("duration"),
                F.sum(du).cast("long").alias("severity_units"),
            )
            .drop("run_id")
        )
    q["runs_events_variable"] = runs_events_variable

    # --- cumulative deficit (W6) ---
    def cumulative_deficit(spark, sf_dir):
        # inputs rounded to 6dp on BOTH engines before the running sum so
        # the summands (and hence the sequential cumsum) are bit-identical
        h = _hour_stats(spark, sf_dir).withColumn("value", F.round("avg_raw", 6))
        filled = gap_fill(h, "hour", EngineConfig(), value_cols=("value",))
        # x0 as a window percentile over the SAME frame (percentile
        # ignores the gap rows' nulls) — one scan of events total, where
        # a separate groupBy+join would re-derive _hour_stats twice
        j = filled.withColumn(
            "x0",
            F.round(
                F.percentile("value", F.lit(0.5)).over(Window.partitionBy("source")), 6
            ),
        )
        # deficit in integer micro-units: the running sum is then exact
        # under ANY accumulation order (DuckDB windows aggregate pairwise)
        defc = F.round(
            F.greatest(F.coalesce(F.col("x0") - F.col("value"), F.lit(0.0)), F.lit(0.0))
            * 1e6, 0
        ).cast("long")
        w = Window.partitionBy("source").orderBy("bucket_start").rowsBetween(
            Window.unboundedPreceding, 0
        )
        return j.select(
            F.col("source").alias("event_type"), "bucket_start",
            F.sum(defc).over(w).cast("long").alias("cum_deficit_micro"),
        )
    q["cumulative_deficit"] = cumulative_deficit

    # --- former chunked-window skew path (SURVEY §4): both now run
    # their global twins, with the same oracles ---
    def ma_chunked(spark, sf_dir):
        # the drought method's MA runs in its per-source kernel (a 10^6-bucket
        # source is one 2.75 s task), so the window MA needs no chunked twin
        return moving_avg_centered(spark, sf_dir)
    q["ma_chunked"] = ma_chunked

    def runs_events_chunked(spark, sf_dir):
        # no chunk stitch: the kernel runs a 10^6-bucket source as one task in 2.75 s
        return runs_events(spark, sf_dir)
    q["runs_events_chunked"] = runs_events_chunked

    # --- frequency reporting (FR1/AG5) ---
    def frequency_yearly(spark, sf_dir):
        from drought_t_spark.operators.frequency import frequency

        tier = _daily_series(spark, sf_dir)
        ev = drought_events_for_tier(tier, "day", _RUNS_CFG)
        return frequency(ev).select(
            F.col("source").alias("event_type"),
            F.col("year").cast("int").alias("year"),
            "n_events",
            F.round("mean_duration", 6).alias("mean_duration"),
            F.round("max_severity", 3).alias("max_severity"),
        )
    q["frequency_yearly"] = frequency_yearly

    # --- event–bucket interval join (J6) ---
    def interval_join(spark, sf_dir):
        tier = _daily_series(spark, sf_dir).alias("b")
        ev = (
            drought_events_for_tier(_daily_series(spark, sf_dir), "day", _RUNS_CFG)
            .select("source", "onset", "termination")
            .alias("e")
        )
        j = tier.join(
            F.broadcast(ev),
            (F.col("b.source") == F.col("e.source"))
            & (F.col("b.bucket_start") >= F.col("e.onset"))
            & (F.col("b.bucket_start") <= F.col("e.termination")),
        )
        return j.groupBy(
            F.col("b.source").alias("event_type"), F.col("e.onset").alias("onset")
        ).agg(
            F.count("*").cast("long").alias("n_buckets"),
            F.round(F.sum("b.value"), 3).alias("sum_value"),
        )
    q["interval_join"] = interval_join

    def asof_join_hourly(spark, sf_dir):
        """J7 — generic backward as-of join: each event probes at
        ts + 30 min for the latest hourly bucket at-or-before the probe
        (crossing the hour boundary when the next bucket exists, falling
        back across gaps when it doesn't). DuckDB's native ASOF JOIN is
        the oracle."""
        from drought_t_spark.operators.asof import asof_join_bucketed

        ev = _t(spark, sf_dir, "events").select(
            "event_type", "event_id",
            F.expr("ts + interval 30 minutes").alias("probe"),
        )
        h = _hour_stats(spark, sf_dir).select(
            F.col("source").alias("event_type"), "bucket_start", "avg_raw"
        )
        # r6: the hourly right side is step-aligned and tiny, so the
        # dense-calendar broadcast variant replaces the union+window
        # plan — the 1M-row left side is no longer shuffled/sorted into
        # a handful of per-key partitions (result-identical; DuckDB
        # native ASOF JOIN oracle unchanged)
        out = asof_join_bucketed(
            ev, h, by=["event_type"], left_ts="probe", right_ts="bucket_start",
            value_cols=["bucket_start", "avg_raw"],
        )
        return out.select(
            "event_type", "event_id", "bucket_start",
            F.round("avg_raw", 6).alias("avg_value"),
        )
    q["asof_join_hourly"] = asof_join_hourly

    # --- time-keyed range frame (W7) ---
    def ma_rangebetween(spark, sf_dir):
        h = _hour_stats(spark, sf_dir)
        w = (
            Window.partitionBy("source")
            .orderBy(F.col("bucket_start").cast("long"))
            .rangeBetween(-3 * 3600, 0)
        )
        return h.select(
            F.col("source").alias("event_type"), "bucket_start",
            F.round(F.avg("avg_raw").over(w), 6).alias("x_ma_range"),
        )
    q["ma_rangebetween"] = ma_rangebetween

    # --- tier union (SE1) ---
    def union_tiers(spark, sf_dir):
        h = _hour_stats(spark, sf_dir)
        d = h.groupBy(
            "source", F.date_trunc("day", "bucket_start").alias("bucket_start")
        ).agg(F.sum("n_rows").alias("n_rows"))
        u = h.select("source", "bucket_start", "n_rows").withColumn(
            "tier", F.lit("hour")
        ).unionByName(d.withColumn("tier", F.lit("day")))
        return u.groupBy(F.col("source").alias("event_type"), "tier").agg(
            F.count("*").cast("long").alias("n_buckets"),
            F.sum("n_rows").cast("long").alias("n_rows"),
        )
    q["union_tiers"] = union_tiers

    # --- ranking / top-k (W4/SO2) ---
    def topk_per_group(spark, sf_dir):
        # r6 sketch-prefiltered top-k. The one-window plan shuffles and
        # sorts the whole table with one partition per event_type; the
        # expensive part at this input shape is pushing every row
        # through the exchange at all. Instead, a mergeable
        # percentile_approx (Greenwald-Khanna) finds a per-group cutoff
        # provably at-or-below the 3rd-largest value — rank error is
        # ≤ n/accuracy = n/10000, so at q=0.999 at least 0.0009·n ≥ 9
        # rows sit at-or-above the returned value for n ≥ 10000; groups
        # below 10000 rows skip the cut (-inf) — and the exact window
        # runs on only the rows ≥ cutoff (~0.1% of the table; null
        # values are kept for the degenerate all-null-group case).
        # Value-based ≥ keeps every tie, so the survivor set is a
        # superset of the top 3 and rn is identical to the one-window
        # plan. The sketch aggregation is map-side partial (a bounded
        # sketch per partition crosses the exchange, not the rows —
        # guide §2.3 "aggregate before you shuffle").
        ev = _t(spark, sf_dir, "events").select("event_type", "event_id", "value")
        th = ev.groupBy("event_type").agg(
            F.when(F.count("*") < 10000, F.lit(float("-inf")))
            .otherwise(F.percentile_approx("value", F.lit(0.999), F.lit(10000)))
            .alias("_cut")
        )
        w = Window.partitionBy("event_type").orderBy(F.desc("value"), F.col("event_id"))
        return (
            ev.join(F.broadcast(th), "event_type")
            .where((F.col("value") >= F.col("_cut")) | F.col("value").isNull())
            .withColumn("rn", F.row_number().over(w).cast("long"))
            .where(F.col("rn") <= 3)
            .select("event_type", "event_id", "value", "rn")
        )
    q["topk_per_group"] = topk_per_group

    def global_topk(spark, sf_dir):
        return (
            _t(spark, sf_dir, "events")
            .orderBy(F.desc("value"), F.col("event_id"))
            .limit(10)
            .select("event_id", "event_type", "value")
        )
    q["global_topk"] = global_topk

    # --- joins (J2/J5) / set ops (SE2) / rollup report (AG7) ---
    def join_star(spark, sf_dir):
        o = _t(spark, sf_dir, "orders")
        c = _t(spark, sf_dir, "customer")
        n = _t(spark, sf_dir, "nation")
        r = _t(spark, sf_dir, "region")
        return (
            o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
            .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
            .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
            .groupBy("r_name")
            .agg(F.count("*").cast("long").alias("n_orders"),
                 F.round(F.sum("o_totalprice"), 2).alias("total_price"))
        )
    q["join_star"] = join_star

    def tpch_q1(spark, sf_dir):
        l = _t(spark, sf_dir, "lineitem").where(F.col("l_shipdate") <= "1998-09-02")
        return (
            l.groupBy("l_returnflag", "l_linestatus")
            .agg(
                F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
                F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
                F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("sum_disc_price"),
                F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
                F.round(F.avg("l_extendedprice"), 6).alias("avg_price"),
                F.count("*").cast("long").alias("count_order"),
            )
        )
    q["tpch_q1"] = tpch_q1

    def anti_join(spark, sf_dir):
        c = _t(spark, sf_dir, "customer")
        o = _t(spark, sf_dir, "orders")
        return (
            c.join(o, c.c_custkey == o.o_custkey, "left_anti")
            .groupBy("c_mktsegment")
            .agg(F.count("*").cast("long").alias("n_customers"))
        )
    q["anti_join"] = anti_join

    def semi_join(spark, sf_dir):
        c = _t(spark, sf_dir, "customer")
        o = _t(spark, sf_dir, "orders")
        return (
            c.join(o, c.c_custkey == o.o_custkey, "left_semi")
            .groupBy("c_mktsegment")
            .agg(F.count("*").cast("long").alias("n_customers"))
        )
    q["semi_join"] = semi_join

    def set_except(spark, sf_dir):
        o = _t(spark, sf_dir, "orders")
        a = o.where(F.col("o_orderstatus") == "O").select("o_custkey").distinct()
        b = o.where(F.col("o_orderstatus") == "F").select("o_custkey").distinct()
        return a.exceptAll(b.intersect(a)).select("o_custkey")  # == EXCEPT (distinct)
    q["set_except"] = set_except

    def grouping_rollup(spark, sf_dir):
        o = _t(spark, sf_dir, "orders")
        return (
            o.rollup("o_orderpriority", F.year("o_orderdate").alias("year"))
            .agg(F.count("*").cast("long").alias("n_orders"),
                 F.round(F.sum("o_totalprice"), 2).alias("total_price"))
            .select(
                F.coalesce("o_orderpriority", F.lit("ALL")).alias("o_orderpriority"),
                F.coalesce(F.col("year"), F.lit(-1)).cast("int").alias("year"),
                "n_orders", "total_price",
            )
        )
    q["grouping_rollup"] = grouping_rollup

    def json_extract(spark, sf_dir):
        ev = _t(spark, sf_dir, "events")
        return (
            ev.select(F.get_json_object("props", "$.k").alias("k_str"))
            .groupBy("k_str")
            .agg(F.count("*").cast("long").alias("n"))
        )
    q["json_extract"] = json_extract

    # --- dedup / text analysis ---
    def dedup_exact(spark, sf_dir):
        d = _t(spark, sf_dir, "documents")
        return exact_dedup(d, ["text"], "doc_id").select(
            F.col("keeper").cast("long").alias("keeper"), "n_copies"
        )
    q["dedup_exact"] = dedup_exact

    def ngram_jaccard(spark, sf_dir):
        from drought_t_spark.operators.dedup import ngram_jaccard_pairs

        d = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 40).select(
            "doc_id", "text"
        )
        return ngram_jaccard_pairs(d, threshold=0.2).select(
            F.col("id_a").cast("long").alias("id_a"),
            F.col("id_b").cast("long").alias("id_b"),
            F.round("jaccard", 6).alias("jaccard"),
        )
    q["ngram_jaccard"] = ngram_jaccard

    def fingerprint_docs(spark, sf_dir):
        d = _scaled(spark, _t(spark, sf_dir, "documents"))
        return TS.fingerprint(d).select("doc_id", "fp_md5")
    q["fingerprint_docs"] = fingerprint_docs

    def text_stats(spark, sf_dir):
        # r6: _scaled like the other per-row text ops — the single-file
        # table otherwise runs the regexp/split projection on one core
        return TS.text_stats(_scaled(spark, _t(spark, sf_dir, "documents")))
    q["text_stats"] = text_stats

    def lang_id(spark, sf_dir):
        return TS.lang_id(_scaled(spark, _t(spark, sf_dir, "documents"))).select(
            "doc_id", "lang_pred", F.col("lang_hits").cast("int").alias("lang_hits")
        )
    q["lang_id"] = lang_id

    def token_count(spark, sf_dir):
        return TS.token_count(_t(spark, sf_dir, "documents"))
    q["token_count"] = token_count

    def quality_score(spark, sf_dir):
        return TS.quality_score(_t(spark, sf_dir, "documents"))
    q["quality_score"] = quality_score

    def repetition_stats(spark, sf_dir):
        return TS.repetition_stats(_scaled(spark, _t(spark, sf_dir, "documents")))
    q["repetition_stats"] = repetition_stats

    # --- similarity search ---
    def cosine_topk(spark, sf_dir):
        e = _t(spark, sf_dir, "embeddings")
        qv = e.where(F.col("vec_id") == 0).select("embedding").first()[0]
        return SIM.cosine_topk(e, qv).select(
            "vec_id", F.round("score", 6).alias("score")
        )
    q["cosine_topk"] = cosine_topk

    # --- approximate dedup/ANN paths: ORACLE-CHECKED recall gates.
    # Each approximate method verifies candidates with the exact score,
    # so its result is always a SUBSET of the exact-threshold pair set;
    # the DuckDB twin computes that exact set over the same planted
    # perturbed near-dups. hash_match green ⟺ recall == 1 on the
    # fixture — a recall regression flips the row red. Margins (probed
    # at sf0.01): planted jaccard ≳ 0.9 vs noise ≤ 0.69 at threshold
    # 0.8; planted cosine ≳ 0.9987 vs noise ≤ 0.52 at threshold 0.95.
    def minhash_pairs(spark, sf_dir):
        d = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 100).select(
            F.col("doc_id").cast("long").alias("doc_id"), "text"
        )
        pert = d.select(
            (F.col("doc_id") + 100000).alias("doc_id"),
            F.concat("text", F.lit(" q")).alias("text"),
        )
        both = _scaled(spark, d.unionByName(pert))
        return minhash_lsh_pairs(both, jaccard_threshold=0.8).select(
            "id_a", "id_b", F.round("jaccard", 6).alias("jaccard")
        )
    q["minhash_pairs"] = minhash_pairs

    def simhash_pairs(spark, sf_dir):
        """Gate: pigeonhole-blocked pairs ≡ brute-force hamming ≤ 3
        pairs (missed = extra = 0), and every planted copy pair found.
        The fingerprints themselves are not SQL-expressible, so the
        oracle pins the planted-pair count (one per document) plus the
        blocked-vs-brute-force deltas, which are 0 by construction."""
        from drought_t_spark.operators.dedup import simhash

        d = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 200).select(
            F.col("doc_id").cast("long").alias("doc_id"), "text"
        )
        both = _scaled(
            spark,
            d.unionByName(d.select((F.col("doc_id") + 100000).alias("doc_id"), "text")),
        )
        blocked = simhash_near_pairs(both, max_hamming=3).select(
            "id_a", "id_b", F.col("hamming").alias("h_blk"), F.lit(1).alias("in_blk")
        )
        sh = simhash(both)
        brute = (
            sh.alias("a")
            .join(F.broadcast(sh.alias("b")), F.col("a.id") < F.col("b.id"))
            .select(
                F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"),
                F.bit_count(
                    F.col("a.simhash64").bitwiseXOR(F.col("b.simhash64"))
                ).alias("hamming"),
            )
            .where(F.col("hamming") <= 3)
            .select("id_a", "id_b", F.lit(1).alias("in_brute"))
        )
        return blocked.join(brute, ["id_a", "id_b"], "full").agg(
            F.sum(
                F.when(
                    (F.col("h_blk") == 0) & (F.col("id_b") == F.col("id_a") + 100000), 1
                ).otherwise(0)
            ).cast("long").alias("n_copy_pairs"),
            F.sum(F.when(F.col("in_blk").isNull(), 1).otherwise(0)).cast("long").alias("missed"),
            F.sum(F.when(F.col("in_brute").isNull(), 1).otherwise(0)).cast("long").alias("extra"),
        )
    q["simhash_pairs"] = simhash_pairs

    def dedup_clusters(spark, sf_dir):
        """Near-dup clustering: 100 docs + two graduated perturbed
        copies each; exact-jaccard pairs at 0.8 (A~c1 and c1~c2 always
        pair; A~c2 only sometimes) → connected components must collapse
        each chain to one keeper = the original id. At scale the pair
        input comes from minhash_lsh_pairs — same (id_a, id_b) shape."""
        from drought_t_spark.operators.dedup import near_dup_clusters, ngram_jaccard_pairs

        d = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 100).select(
            F.col("doc_id").cast("long").alias("doc_id"), "text"
        )
        c1 = d.select((F.col("doc_id") + 100000).alias("doc_id"),
                      F.concat("text", F.lit(" q")).alias("text"))
        c2 = d.select((F.col("doc_id") + 200000).alias("doc_id"),
                      F.concat("text", F.lit(" q qq zz")).alias("text"))
        all3 = _scaled(spark, d.unionByName(c1).unionByName(c2))
        pairs = ngram_jaccard_pairs(all3, threshold=0.8).select("id_a", "id_b")
        return near_dup_clusters(
            pairs, all3.select(F.col("doc_id").alias("id"))
        ).select("id", "keeper")
    q["dedup_clusters"] = dedup_clusters

    def _emb_double(spark, sf_dir):
        return _t(spark, sf_dir, "embeddings").select(
            F.col("vec_id").cast("long").alias("vec_id"),
            F.expr("transform(embedding, x -> cast(x as double))").alias("embedding"),
        )

    def embedding_neardups(spark, sf_dir):
        e = _emb_double(spark, sf_dir)
        pert = e.select(
            (F.col("vec_id") + 100000).alias("vec_id"),
            F.expr(
                "concat(array(embedding[0] + cast(0.05 as double)),"
                " slice(embedding, 2, size(embedding) - 1))"
            ).alias("embedding"),
        )
        both = e.unionByName(pert)
        return embedding_near_dups(both, threshold=0.95).select(
            "id_a", "id_b", F.round("cosine", 6).alias("cosine")
        )
    q["embedding_neardups"] = embedding_neardups

    def _aug_embeddings(spark, sf_dir):
        """Base embeddings + 5 planted perturbations of vec 0 (coord 0
        shifted by s·0.01, s = 1..5): the exact top-6 for query vec 0 is
        itself + the 5 plants (cosine ≥ 0.9987 vs ≤ 0.52 noise), so an
        ANN result equal to the exact top-6 proves near-dup recall 1."""
        e = _emb_double(spark, sf_dir)
        qv = [float(x) for x in
              e.where(F.col("vec_id") == 0).first()["embedding"]]
        planted = [
            (100000 + s, [qv[0] + 0.01 * s] + qv[1:]) for s in range(1, 6)
        ]
        aug = e.unionByName(
            spark.createDataFrame(planted, "vec_id long, embedding array<double>")
        )
        return aug, qv

    def cosine_topk_ivf(spark, sf_dir):
        aug, qv = _aug_embeddings(spark, sf_dir)
        return SIM.cosine_topk_ivf(aug, qv, k=6).select(
            "vec_id", F.round("score", 6).alias("score")
        )
    q["cosine_topk_ivf"] = cosine_topk_ivf

    def cosine_topk_lsh(spark, sf_dir):
        aug, qv = _aug_embeddings(spark, sf_dir)
        return SIM.cosine_topk_lsh(aug, qv, k=6, n_planes=8, probe_hamming=2).select(
            "vec_id", F.round("score", 6).alias("score")
        )
    q["cosine_topk_lsh"] = cosine_topk_lsh

    def codec_roundtrip(spark, sf_dir):
        """GZ1/GZ2 + GZ3 round-trips in one entry: int32 token payloads
        (synthetic T0) and float64 XOR payloads (embeddings)."""
        from drought_t_spark import synth
        from drought_t_spark.codec.udfs import (
            decode_floats_udf,
            decode_tokens_udf,
            encode_floats_udf,
            encode_tokens_udf,
        )

        seqs = synth.sequences_df(spark, n_sources=4, n_total=2000, slices=8)
        ints = seqs.select(
            F.col("tokens").alias("orig"),
            decode_tokens_udf(encode_tokens_udf("tokens")).alias("decoded"),
        ).select(
            F.count("*").cast("long").alias("n_payloads"),
            F.sum((F.col("orig") != F.col("decoded")).cast("int")).cast("long").alias("n_mismatch"),
        )
        vec = F.expr("transform(embedding, x -> cast(x as double))")
        floats = _t(spark, sf_dir, "embeddings").select(
            vec.alias("orig"),
            decode_floats_udf(encode_floats_udf(vec)).alias("decoded"),
        ).select(
            F.count("*").cast("long").alias("n_float_payloads"),
            F.sum((F.col("orig") != F.col("decoded")).cast("int")).cast("long").alias("n_float_mismatch"),
        )
        # two 1-row frames; literal-key broadcast join, not a cross join
        return (
            ints.withColumn("_k", F.lit(1))
            .join(F.broadcast(floats.withColumn("_k", F.lit(1))), "_k")
            .drop("_k")
        )
    q["codec_roundtrip"] = codec_roundtrip

    def tier_payload_synth(spark, sf_dir):
        """AG2 tier cascade + AG8/GZ1 payload pack over the same synth
        T0, summarized per source (rows-only: synth input)."""
        from drought_t_spark import synth

        seqs = synth.sequences_df(spark, n_sources=4, n_total=4000, slices=8)
        day = rollup_tiers(seqs)["day"].groupBy("source").agg(
            F.count("*").cast("long").alias("n_day_buckets"),
            F.sum("n_tok_sum").cast("long").alias("n_tok_sum"),
        )
        pay = (
            R.pack_payloads(R.with_event_time(seqs), "hour")
            .groupBy("source")
            .agg(
                F.count("*").cast("long").alias("n_payload_buckets"),
                F.sum("payload_n_tokens").cast("long").alias("n_tokens"),
                F.sum(F.length("payload")).cast("long").alias("payload_bytes"),
            )
        )
        return day.join(pay, "source")
    q["tier_payload_synth"] = tier_payload_synth

    def retention_route_synth(spark, sf_dir):
        """Retention engine end-to-end, STATS + TOKEN sides over one
        warehouse: roll up ~32 days of synthetic sequences into
        hour/day/month stats tiers AND packed payload tiers, expire
        both fine tiers behind a coverage-checked cutoff, then answer
        a 5-week range via BOTH tier-routed reads (`read_series`,
        r5's `read_payloads` with decode). One row per serving tier;
        `n_tokens` (stats route) must equal `pay_tokens` ==
        `pay_decoded` (payload route) — the two independent paths
        count the same tokens, so the row is self-validating.
        Determinism: seeded synth + bit-exact packing
        (test_rollup_tiers); routed payload exactness pinned by
        test_retention."""
        import shutil
        import tempfile

        from drought_t_spark import synth
        from drought_t_spark.plans.retention import (
            expire_payload_tier,
            expire_tier,
            read_payloads,
            read_series,
        )
        from drought_t_spark.sources.warehouse import Warehouse

        root = tempfile.mkdtemp(prefix="wh_ret_")
        try:
            wh = Warehouse(root)
            # 2 sources: the heavy one spans ~33 days (needs one whole
            # month for the month-tier route). Tiers written directly —
            # the checkpointed job path is covered by test_retention /
            # test_resume; this query smokes expiry + routed reads.
            seqs = synth.sequences_df(spark, n_sources=2, n_total=68_000)
            seqs_t1 = R.with_event_time(seqs).localCheckpoint(eager=True)
            # checkpoint the cascade inputs: each tier is consumed by
            # both its write and the next cascade stage
            hour = R.rollup_hour(seqs_t1).localCheckpoint(eager=True)
            day = R.cascade(hour, "day").localCheckpoint(eager=True)
            wh.write_partitioned(hour, "agg.tier_hour", ["source"])
            wh.write_partitioned(day, "agg.tier_day", ["source"])
            wh.write_partitioned(R.cascade(day, "month"), "agg.tier_month", ["source"])
            phour = R.pack_payloads(seqs_t1, "hour").localCheckpoint(eager=True)
            pday = R.cascade_payloads(phour, "day").localCheckpoint(eager=True)
            wh.write_partitioned(phour, "agg.payload_hour", ["source"])
            wh.write_partitioned(pday, "agg.payload_day", ["source"])
            wh.write_partitioned(
                R.cascade_payloads(pday, "month"), "agg.payload_month", ["source"]
            )
            expire_tier(spark, wh, "jobQ", "hour", "2024-01-10 00:00:00")
            expire_payload_tier(spark, wh, "jobQ", "hour", "2024-01-10 00:00:00")
            lo, hi = "2024-01-01 00:00:00", "2024-02-05 00:00:00"
            stats = (
                read_series(spark, wh, lo, hi)
                .groupBy("tier")
                .agg(
                    F.count("*").cast("long").alias("n_buckets"),
                    F.sum("n_tok_sum").cast("long").alias("n_tokens"),
                )
            )
            pay = (
                read_payloads(spark, wh, lo, hi)
                .groupBy("tier")
                .agg(
                    F.count("*").cast("long").alias("pay_chunks"),
                    F.sum("n_tokens").cast("long").alias("pay_tokens"),
                    F.sum(F.size("tokens")).cast("long").alias("pay_decoded"),
                )
            )
            out = stats.join(pay, "tier", "full_outer")
            # materialize before the warehouse directory disappears
            return out.localCheckpoint(eager=True)
        finally:
            shutil.rmtree(root, ignore_errors=True)
    q["retention_route_synth"] = retention_route_synth

    def drought_events_full(spark, sf_dir):
        tier = _daily_series(spark, sf_dir)
        return drought_events_for_tier(tier, "day", _FLAGSHIP_CFG).select(
            F.col("source").alias("event_type"), "event_id", "onset", "termination",
            "duration", F.round("severity", 3).alias("severity"),
            F.round("intensity", 6).alias("intensity"), "pooled", "excluded",
        )
    q["drought_events_full"] = drought_events_full

    def streaming_rollup(spark, sf_dir):
        import shutil
        import tempfile

        from drought_t_spark import synth
        from drought_t_spark.sources.warehouse import Warehouse
        from drought_t_spark.streaming.rollup_stream import (
            read_stream_hour_tier,
            start_tier_ingest,
        )

        root = tempfile.mkdtemp(prefix="stream_t0_")
        try:
            # 8 input files, 8 per trigger → one micro-batch: multi-batch
            # increments are pinned by test_streaming; this entry
            # smoke-checks the streamed live hour tier cheaply
            synth.sequences_df(spark, n_sources=3, n_total=3000, slices=8).write.mode(
                "overwrite"
            ).parquet(f"{root}/in")
            wh = Warehouse(f"{root}/wh")
            sq = start_tier_ingest(spark, f"{root}/in", wh, f"{root}/ckpt",
                                   files_per_trigger=8)
            sq.processAllAvailable()
            sq.stop()
            out = read_stream_hour_tier(spark, wh).select(
                "source", "bucket_start", "n_seq", "n_tok_sum",
            )
            # materialized before the warehouse directory goes
            return out.localCheckpoint(eager=True)
        finally:
            shutil.rmtree(root, ignore_errors=True)
    q["streaming_rollup"] = streaming_rollup

    # --- multimodal plumbing, ORACLE-CHECKED: the decoder body stays a
    # documented stub (no media libs in this container), but the
    # mapInPandas plumbing — row coverage, payload byte accounting,
    # feature-vector shape + normalization, frame slicing — is now
    # hash-checked against DuckDB twins computed from the same text
    # bytes (payload = UTF-8 text; sizes are SQL-derivable).
    def streaming_ingest_synth(spark, sf_dir):
        """Incremental continuous-aggregate ingest end-to-end, ALL THREE
        streamed paths on one input (joined into one entry, the
        multimodal_pipeline precedent — the driver records 50 rows):
        stats — micro-batches → idempotent per-batch partials → exact
        live view → compaction into the committed tier; payload (r5) —
        micro-batches → seal → watermark-gated pack into the committed
        payload tier (bit-identical to the batch kernel, pinned by
        test_streaming_payload); stateful runs (r5, §2.11's last row) —
        the committed hour series re-streamed in two micro-batches
        through applyInPandasWithState run extraction into
        `drought.stream_runs`, whose emitted events must be bit-equal
        to the batch operator over the same series minus each source's
        open trailing run (pinned by test_streaming_runs;
        cross-checked here per source). The
        returned row cross-checks the paths: `n_tokens` (streamed stats
        sums) must equal `n_tokens_payload` (live decoded token-view
        sizes), and `runs_match` is 1 iff streamed == batch-terminated
        events for that source."""
        import shutil
        import tempfile

        from drought_t_spark import synth
        from drought_t_spark.sources.warehouse import Warehouse
        from drought_t_spark.streaming.payload_stream import (
            pack_complete_buckets,
            read_stream_tokens,
            seal_payload_partials,
            start_payload_ingest,
        )
        from drought_t_spark.streaming.rollup_stream import (
            compact_stream_partials,
            read_stream_hour_tier,
            start_tier_ingest,
        )

        root = tempfile.mkdtemp(prefix="stream_ingest_")
        try:
            in_dir = f"{root}/in"
            wh = Warehouse(f"{root}/wh")
            # 4 input files × files_per_trigger=2 → exactly 2 micro-
            # batches: still exercises multi-batch partials + compaction
            # at ~1/8 the micro-batch overhead of the 32-file default
            # (r2: 16 batches ≈ 43 s dominated the harness tail)
            synth.sequences_df(spark, n_sources=3, n_total=3000, slices=4).write.mode(
                "append"
            ).parquet(in_dir)
            sq = start_tier_ingest(spark, in_dir, wh, f"{root}/ckpt", files_per_trigger=2)
            sq.processAllAvailable()
            sq.stop()
            compact_stream_partials(spark, wh)
            sq = start_payload_ingest(spark, in_dir, wh, f"{root}/ckpt_pay",
                                      files_per_trigger=2)
            sq.processAllAvailable()
            sq.stop()
            seal_payload_partials(spark, wh)
            pack_complete_buckets(spark, wh)
            stats = (
                read_stream_hour_tier(spark, wh)
                .groupBy("source")
                .agg(
                    F.count("*").cast("long").alias("n_buckets"),
                    F.sum("n_tok_sum").cast("long").alias("n_tokens"),
                )
            )
            pay = (
                read_stream_tokens(spark, wh)
                .groupBy("source")
                .agg(
                    F.sum("n_tokens").cast("long").alias("n_tokens_payload"),
                    F.sum((F.col("state") == "packed").cast("long")).alias(
                        "n_packed_buckets"
                    ),
                )
            )
            # third streamed path: stateful run extraction over the
            # committed hour series (x_ma = mean tokens/bucket, x0 =
            # per-source mean), driven in two in-order micro-batches
            from drought_t_spark.operators import runs as RUNS
            from drought_t_spark.streaming.runs_stream import RUNS_TBL, start_runs_stream

            ser = read_stream_hour_tier(spark, wh).select(
                "source",
                "bucket_start",
                (F.col("n_tok_sum").cast("double") / F.col("n_seq")).alias("x_ma"),
            )
            x0 = ser.groupBy("source").agg(F.avg("x_ma").alias("x0"))
            ser = (
                ser.join(F.broadcast(x0), "source")
                .select("source", "bucket_start", "x_ma", "x0")
                .localCheckpoint(eager=True)  # reused 3× below
            )
            bnd = ser.agg(
                F.min("bucket_start").alias("lo"), F.max("bucket_start").alias("hi")
            ).collect()[0]
            mid = bnd["lo"] + (bnd["hi"] - bnd["lo"]) / 2
            ser_dir = f"{root}/run_series"
            ser.where(F.col("bucket_start") < F.lit(mid)).coalesce(1).write.mode(
                "append"
            ).parquet(ser_dir)
            rq = start_runs_stream(spark, ser_dir, wh, f"{root}/ckpt_runs")
            try:
                rq.processAllAvailable()
                ser.where(F.col("bucket_start") >= F.lit(mid)).coalesce(
                    1
                ).write.mode("append").parquet(ser_dir)
                rq.processAllAvailable()
            finally:
                rq.stop()
            cols = ["source", "run_id", "below", "onset", "termination",
                    "duration", "severity", "peak", "excess"]
            streamed = wh.read(spark, RUNS_TBL).select(cols)
            ev = RUNS.extract_events(RUNS.segment_runs(RUNS.below_mask(ser)))
            rid_max = ev.groupBy("source").agg(F.max("run_id").alias("rid_max"))
            term = (
                ev.join(F.broadcast(rid_max), "source")
                .where(F.col("run_id") < F.col("rid_max"))  # drop open trailing run
                .select(cols)
            )
            sym = streamed.exceptAll(term).unionByName(term.exceptAll(streamed))
            # full outer: a source with ZERO batch-terminated runs but
            # spurious streamed rows must still surface (it appears in
            # `sym` only) — a left join from `term` coalesced such a
            # mismatch to runs_match=1 silently (r5 ADVICE)
            runs = (
                term.groupBy("source")
                .agg(F.count("*").cast("long").alias("n_runs_closed"))
                .join(
                    sym.groupBy("source").agg(F.count("*").alias("n_mm")),
                    "source",
                    "full_outer",
                )
                .withColumn(
                    "n_runs_closed", F.coalesce(F.col("n_runs_closed"), F.lit(0))
                )
                .withColumn(
                    "runs_match",
                    (F.coalesce(F.col("n_mm"), F.lit(0)) == 0).cast("int"),
                )
                .drop("n_mm")
            )
            out = (
                stats.join(pay, "source")
                .join(runs, "source", "left")
                .withColumn(
                    "n_runs_closed", F.coalesce(F.col("n_runs_closed"), F.lit(0))
                )
                .withColumn("runs_match", F.coalesce(F.col("runs_match"), F.lit(1)))
            )
            return out.localCheckpoint(eager=True)
        finally:
            shutil.rmtree(root, ignore_errors=True)
    q["streaming_ingest_synth"] = streaming_ingest_synth

    def multimodal_pipeline(spark, sf_dir):
        """All three multimodal ops in one oracle-checked entry:
        feature extraction (shape + normalization), resize byte
        accounting, and frame sampling — joined per media_id. The
        decoder body stays a documented stub; the Spark plumbing
        (mapInPandas schema, batch shape, byte accounting) is real
        and hash-checked against the SQL twin."""
        from drought_t_spark.operators.multimodal import resize_images

        media = synth_media(_t(spark, sf_dir, "documents"))
        feats = decode_image_features(media).select(
            "media_id",
            "n_bytes",
            F.size("features").alias("n_features"),
            F.round(
                F.aggregate("features", F.lit(0.0), lambda a, x: a + x), 6
            ).alias("feat_sum"),
        )
        rs = resize_images(media, 16, 16).select(
            "media_id", "width", "height", F.col("n_bytes").alias("resize_bytes")
        )
        fr = (
            sample_frames(media)
            .groupBy("media_id")
            .agg(F.count("*").cast("long").alias("n_frames"),
                 F.sum(F.length("frame")).cast("long").alias("frame_bytes"))
        )
        return feats.join(rs, "media_id").join(fr, "media_id")
    q["multimodal_pipeline"] = multimodal_pipeline

    # Registration order IS the driver's execution order, and the r2
    # harness recorded exactly the first 50 entries — so the list is
    # pinned to 50 (every SURVEY §2 operator keeps a row under either a
    # 50-entry cap or a wall-clock budget), cheap/previously-dropped
    # entries run first, and the rows-only synthetic/streaming entries
    # run last (their semantics are pytest-pinned).
    _ORDER = [
        "rollup_hourly", "rollup_daily_cascade",
        "multimodal_pipeline", "streaming_ingest_synth",  # dropped in r2 — early
        "gapfill_hourly", "locf_fill", "missing_buckets",
        "moving_avg_centered", "threshold_fixed", "threshold_variable",
        "runs_events", "run_summary", "runs_events_variable",
        "cumulative_deficit", "ma_chunked", "runs_events_chunked",
        "frequency_yearly", "interval_join", "asof_join_hourly",
        "ma_rangebetween", "union_tiers", "topk_per_group", "global_topk",
        "join_star", "tpch_q1", "anti_join", "semi_join", "set_except",
        "grouping_rollup", "json_extract", "dedup_exact", "ngram_jaccard",
        "fingerprint_docs", "text_stats", "lang_id", "token_count",
        "quality_score", "repetition_stats", "cosine_topk", "minhash_pairs",
        "simhash_pairs", "dedup_clusters", "embedding_neardups",
        "cosine_topk_ivf", "cosine_topk_lsh", "drought_events_full",
        "codec_roundtrip", "tier_payload_synth", "retention_route_synth",
        "streaming_rollup",
    ]
    assert len(_ORDER) == 50 and set(_ORDER) == set(q), (
        sorted(set(q) ^ set(_ORDER))
    )
    return {name: q[name] for name in _ORDER}


def oracle_sql() -> dict[str, str]:
    o: dict[str, str] = {}

    o["rollup_hourly"] = """
    SELECT event_type, date_trunc('hour', ts) AS bucket_start,
           CAST(count(*) AS BIGINT) AS n_rows,
           round(sum(value), 3) AS sum_value,
           round(avg(value), 6) AS avg_value
    FROM events GROUP BY 1, 2
    """

    o["rollup_daily_cascade"] = """
    SELECT event_type, date_trunc('day', ts) AS bucket_start,
           CAST(count(*) AS BIGINT) AS n_rows,
           round(sum(value), 3) AS sum_value
    FROM events GROUP BY 1, 2
    """

    o["gapfill_hourly"] = f"""
    WITH {_SQL_HOURLY}
    SELECT event_type, bucket_start, round(sum_raw, 3) AS sum_value, gap_filled
    FROM s
    """

    o["locf_fill"] = f"""
    WITH {_SQL_HOURLY}
    SELECT event_type, bucket_start,
           round(last_value(sum_raw IGNORE NULLS) OVER (
               PARTITION BY event_type ORDER BY bucket_start
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 3) AS v_locf
    FROM s
    """

    o["missing_buckets"] = f"""
    WITH {_SQL_HOURLY}
    SELECT event_type, CAST(count(*) AS BIGINT) AS n_missing
    FROM s WHERE gap_filled GROUP BY 1
    """

    o["moving_avg_centered"] = f"""
    WITH {_SQL_HOURLY}
    SELECT event_type, bucket_start,
           round(avg(avg_raw) OVER (
               PARTITION BY event_type ORDER BY bucket_start
               ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING), 6) AS x_ma
    FROM s
    """

    o["threshold_fixed"] = """
    SELECT event_type,
           round(CAST(quantile_cont(avg_raw, 0.5) AS DOUBLE), 6) AS x0
    FROM (SELECT event_type, date_trunc('hour', ts) h, avg(value) avg_raw
          FROM events GROUP BY 1, 2) b
    GROUP BY 1
    """

    o["threshold_variable"] = """
    SELECT event_type, CAST(extract(hour FROM h) AS INTEGER) AS cycle_pos,
           round(CAST(quantile_cont(avg_raw, 0.5) AS DOUBLE), 6) AS x0
    FROM (SELECT event_type, date_trunc('hour', ts) h, avg(value) avg_raw
          FROM events GROUP BY 1, 2) b
    GROUP BY 1, 2
    """

    _runs_core = """
    b AS (SELECT event_type, date_trunc('day', ts) AS d, avg(value) AS v
          FROM events GROUP BY 1, 2),
    r AS (SELECT event_type, min(d) lo, max(d) hi FROM b GROUP BY 1),
    cal AS (SELECT event_type, unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS d FROM r),
    s AS (SELECT cal.event_type, cal.d, b.v
          FROM cal LEFT JOIN b ON cal.event_type = b.event_type AND cal.d = b.d),
    th AS (SELECT event_type, CAST(quantile_cont(v, 0.5) AS DOUBLE) AS x0
           FROM s WHERE v IS NOT NULL GROUP BY 1),
    m AS (SELECT s.event_type, s.d, s.v, th.x0,
                 CASE WHEN s.v < th.x0 THEN 1 ELSE 0 END AS below
          FROM s JOIN th ON s.event_type = th.event_type),
    seg AS (SELECT *, CASE WHEN lag(below) OVER w IS NULL
                             OR lag(below) OVER w <> below THEN 1 ELSE 0 END AS chg
            FROM m WINDOW w AS (PARTITION BY event_type ORDER BY d)),
    rid AS (SELECT *, sum(chg) OVER (PARTITION BY event_type ORDER BY d
                                     ROWS UNBOUNDED PRECEDING) AS run_id
            FROM seg),
    ev AS (SELECT event_type, run_id, min(d) AS onset, max(d) AS termination,
                  CAST(count(*) AS BIGINT) AS duration,
                  sum(x0 - v) AS sev_raw
           FROM rid WHERE below = 1 GROUP BY event_type, run_id)
    """

    o["runs_events"] = f"""
    WITH {_runs_core}
    SELECT event_type, onset, termination, duration, round(sev_raw, 3) AS severity
    FROM ev
    """

    o["run_summary"] = f"""
    WITH {_runs_core}
    SELECT event_type, CAST(count(*) AS BIGINT) AS n_runs,
           round(avg(duration), 6) AS mean_duration,
           round(max(sev_raw), 3) AS max_severity
    FROM ev GROUP BY 1
    """

    # variable-threshold runs: cycle position = hour-of-week; Spark's
    # cycle_pos is (dayofweek-1)*24+hour with Sunday=1, DuckDB's
    # dayofweek is Sunday=0 — same 0..167 index on both engines
    o["runs_events_variable"] = f"""
    WITH {_SQL_HOURLY},
    sm AS (SELECT event_type, bucket_start, round(avg_raw, 6) AS x_ma,
                  dayofweek(bucket_start) * 24 + hour(bucket_start) AS cp
           FROM s),
    th AS (SELECT event_type, cp, CAST(quantile_cont(x_ma, 0.5) AS DOUBLE) AS x0
           FROM sm GROUP BY 1, 2),
    m AS (SELECT sm.event_type, sm.bucket_start, sm.x_ma, th.x0,
                 CASE WHEN sm.x_ma < th.x0 THEN 1 ELSE 0 END AS below
          FROM sm LEFT JOIN th ON sm.event_type = th.event_type AND sm.cp = th.cp),
    seg AS (SELECT *, CASE WHEN lag(below) OVER w IS NULL
                             OR lag(below) OVER w <> below THEN 1 ELSE 0 END AS chg
            FROM m WINDOW w AS (PARTITION BY event_type ORDER BY bucket_start)),
    rid AS (SELECT *, sum(chg) OVER (PARTITION BY event_type ORDER BY bucket_start
                                     ROWS UNBOUNDED PRECEDING) AS run_id
            FROM seg),
    ev AS (SELECT event_type, run_id, min(bucket_start) AS onset,
                  max(bucket_start) AS termination,
                  CAST(count(*) AS BIGINT) AS duration,
                  CAST(sum(CAST(round((x0 - x_ma) * 2000000.0, 0) AS BIGINT))
                       AS BIGINT) AS severity_units
           FROM rid WHERE below = 1 GROUP BY 1, 2)
    SELECT event_type, onset, termination, duration, severity_units
    FROM ev
    """

    o["cumulative_deficit"] = f"""
    WITH {_SQL_HOURLY},
    th AS (SELECT event_type,
                  round(CAST(quantile_cont(round(avg_raw, 6), 0.5) AS DOUBLE), 6) AS x0
           FROM b GROUP BY 1)
    SELECT s.event_type, s.bucket_start,
           CAST(sum(CAST(round(greatest(coalesce(th.x0 - round(s.avg_raw, 6), 0.0), 0.0)
                    * 1000000.0, 0) AS BIGINT)) OVER (
               PARTITION BY s.event_type ORDER BY s.bucket_start
               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_deficit_micro
    FROM s JOIN th ON s.event_type = th.event_type
    """

    o["ma_chunked"] = o["moving_avg_centered"]

    o["runs_events_chunked"] = f"""
    WITH {_runs_core}
    SELECT event_type, onset, termination, duration, round(sev_raw, 3) AS severity
    FROM ev
    """

    o["frequency_yearly"] = f"""
    WITH {_runs_core}
    SELECT event_type, CAST(year(onset) AS INTEGER) AS year,
           CAST(count(*) AS BIGINT) AS n_events,
           round(avg(duration), 6) AS mean_duration,
           round(max(sev_raw), 3) AS max_severity
    FROM ev GROUP BY 1, 2
    """

    o["interval_join"] = f"""
    WITH {_runs_core}
    SELECT b.event_type, ev.onset,
           CAST(count(*) AS BIGINT) AS n_buckets,
           round(sum(b.v), 3) AS sum_value
    FROM b JOIN ev ON b.event_type = ev.event_type
                  AND b.d BETWEEN ev.onset AND ev.termination
    GROUP BY 1, 2
    """

    o["asof_join_hourly"] = """
    WITH b AS (SELECT event_type, date_trunc('hour', ts) AS bucket_start,
                      avg(value) AS avg_raw
               FROM events GROUP BY 1, 2)
    SELECT e.event_type, e.event_id, b.bucket_start,
           round(b.avg_raw, 6) AS avg_value
    FROM (SELECT event_type, event_id, ts + INTERVAL 30 MINUTE AS probe
          FROM events) e
    ASOF JOIN b ON e.event_type = b.event_type AND e.probe >= b.bucket_start
    """

    o["ma_rangebetween"] = """
    SELECT event_type, bucket_start,
           round(avg(avg_raw) OVER (
               PARTITION BY event_type ORDER BY epoch(bucket_start)
               RANGE BETWEEN 10800 PRECEDING AND CURRENT ROW), 6) AS x_ma_range
    FROM (SELECT event_type, date_trunc('hour', ts) AS bucket_start,
                 avg(value) AS avg_raw
          FROM events GROUP BY 1, 2) b
    """

    o["union_tiers"] = """
    WITH h AS (SELECT event_type, date_trunc('hour', ts) AS bucket_start,
                      CAST(count(*) AS BIGINT) AS n_rows
               FROM events GROUP BY 1, 2),
    d AS (SELECT event_type, date_trunc('day', bucket_start) AS bucket_start,
                 CAST(sum(n_rows) AS BIGINT) AS n_rows
          FROM h GROUP BY 1, 2),
    u AS (SELECT event_type, bucket_start, n_rows, 'hour' AS tier FROM h
          UNION ALL
          SELECT event_type, bucket_start, n_rows, 'day' AS tier FROM d)
    SELECT event_type, tier, CAST(count(*) AS BIGINT) AS n_buckets,
           CAST(sum(n_rows) AS BIGINT) AS n_rows
    FROM u GROUP BY 1, 2
    """

    o["topk_per_group"] = """
    SELECT event_type, event_id, value, rn FROM (
      SELECT event_type, event_id, value,
             CAST(row_number() OVER (PARTITION BY event_type
                  ORDER BY value DESC, event_id) AS BIGINT) AS rn
      FROM events) t
    WHERE rn <= 3
    """

    o["global_topk"] = """
    SELECT event_id, event_type, value
    FROM events ORDER BY value DESC, event_id LIMIT 10
    """

    o["join_star"] = """
    SELECT r_name, CAST(count(*) AS BIGINT) AS n_orders,
           round(sum(o_totalprice), 2) AS total_price
    FROM orders
    JOIN customer ON o_custkey = c_custkey
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    GROUP BY r_name
    """

    o["tpch_q1"] = """
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 2) AS sum_qty,
           round(sum(l_extendedprice), 2) AS sum_base_price,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
           round(avg(l_quantity), 6) AS avg_qty,
           round(avg(l_extendedprice), 6) AS avg_price,
           CAST(count(*) AS BIGINT) AS count_order
    FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """

    o["anti_join"] = """
    SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n_customers
    FROM customer WHERE NOT EXISTS (
      SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    GROUP BY 1
    """

    o["semi_join"] = """
    SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n_customers
    FROM customer WHERE EXISTS (
      SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    GROUP BY 1
    """

    o["set_except"] = """
    SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
    EXCEPT
    SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
    """

    o["grouping_rollup"] = """
    SELECT coalesce(o_orderpriority, 'ALL') AS o_orderpriority,
           CAST(coalesce(year(o_orderdate), -1) AS INTEGER) AS year,
           CAST(count(*) AS BIGINT) AS n_orders,
           round(sum(o_totalprice), 2) AS total_price
    FROM orders GROUP BY ROLLUP (o_orderpriority, year(o_orderdate))
    """

    o["json_extract"] = """
    SELECT json_extract_string(props, '$.k') AS k_str,
           CAST(count(*) AS BIGINT) AS n
    FROM events GROUP BY 1
    """

    o["dedup_exact"] = """
    SELECT CAST(min(doc_id) AS BIGINT) AS keeper,
           CAST(count(*) AS BIGINT) AS n_copies
    FROM documents GROUP BY text
    """

    o["ngram_jaccard"] = """
    WITH sh AS (
      SELECT CAST(doc_id AS BIGINT) AS id,
             list_distinct(list_transform(range(1, greatest(length(text)-2,1)+1),
                 i -> substring(text, CAST(i AS INT), 3))) AS s
      FROM documents WHERE doc_id < 40
    )
    SELECT a.id AS id_a, b.id AS id_b,
           round(len(list_intersect(a.s, b.s))
                 / CAST(len(list_distinct(list_concat(a.s, b.s))) AS DOUBLE), 6) AS jaccard
    FROM sh a JOIN sh b ON a.id < b.id
    WHERE len(list_intersect(a.s, b.s))
          / CAST(len(list_distinct(list_concat(a.s, b.s))) AS DOUBLE) >= 0.2
    """

    o["fingerprint_docs"] = """
    SELECT doc_id,
           md5(lower(array_to_string(
               list_filter(string_split(text, ' '), x -> x <> ''), ' '))) AS fp_md5
    FROM documents
    """

    o["text_stats"] = """
    SELECT doc_id,
           CAST(length(text) AS BIGINT) AS n_chars,
           CAST(len(list_filter(string_split(text, ' '), w -> w <> '')) AS BIGINT) AS n_words,
           CAST(length(text) - length(replace(text, ' ', '')) AS BIGINT) AS n_spaces,
           CAST(length(regexp_replace(text, '[^.,!?;:]', '', 'g')) AS BIGINT) AS n_punct,
           length(regexp_replace(text, '[^.,!?;:]', '', 'g'))
             / greatest(length(text), 1) AS punct_ratio
    FROM documents
    """

    _hits = lambda ws: (
        "len(list_filter(list_filter(string_split(text, ' '), w -> w <> ''),"
        f" t -> list_contains([{','.join(repr(w) for w in ws)}], lower(t))))"
    )
    from drought_t_spark.operators.textstats import _STOPWORDS

    he, hs, hf, hd = (_hits(_STOPWORDS[l]) for l in ["en", "es", "fr", "de"])
    o["lang_id"] = f"""
    SELECT doc_id,
           CASE WHEN {he} >= {hs} AND {he} >= {hf} AND {he} >= {hd} THEN 'en'
                WHEN {hs} >= {hf} AND {hs} >= {hd} THEN 'es'
                WHEN {hf} >= {hd} THEN 'fr'
                ELSE 'de' END AS lang_pred,
           CAST(greatest({he}, {hs}, {hf}, {hd}) AS INTEGER) AS lang_hits
    FROM documents
    """

    o["token_count"] = """
    SELECT doc_id,
           CAST(len(list_filter(string_split(text, ' '), w -> w <> '')) AS BIGINT) AS n_ws_tokens,
           CAST(len(list_filter(string_split(text, ' '), w -> w <> ''))
                + length(regexp_replace(text, '[^.,!?;:()\\[\\]]', '', 'g')) AS BIGINT) AS n_tokens
    FROM documents
    """

    o["quality_score"] = """
    WITH s AS (
      SELECT doc_id,
             CAST(length(text) AS BIGINT) AS n_chars,
             CAST(len(list_filter(string_split(text, ' '), w -> w <> '')) AS BIGINT) AS n_words,
             CAST(length(text) - length(replace(text, ' ', '')) AS BIGINT) AS n_spaces,
             length(regexp_replace(text, '[^.,!?;:]', '', 'g'))
               / greatest(length(text), 1) AS punct_ratio,
             len(list_filter(list_filter(string_split(text, ' '), w -> w <> ''),
                 t -> list_contains(['the','and','of','to','in'], lower(t)))) AS en_hits
      FROM documents)
    SELECT doc_id,
           CAST((CASE WHEN n_words BETWEEN 5 AND 100000 THEN 1 ELSE 0 END)
              + (CASE WHEN punct_ratio < 0.2 THEN 1 ELSE 0 END)
              + (CASE WHEN en_hits > 0 THEN 1 ELSE 0 END)
              + (CASE WHEN (n_chars - n_spaces) / greatest(n_words, 1)
                     BETWEEN 2.0 AND 12.0 THEN 1 ELSE 0 END) AS INTEGER) AS quality,
           n_words,
           round(punct_ratio, 6) AS punct_ratio,
           round((n_chars - n_spaces) / greatest(n_words, 1), 6) AS mean_word_len
    FROM s
    """

    # --- recall gates for the approximate dedup/ANN paths: the oracle
    # computes the EXACT pair set / exact top-k over the same planted
    # fixture; the approximate Spark result hash-matches iff recall = 1
    # (precision is 1 by construction — candidates are exact-verified).
    o["minhash_pairs"] = """
    WITH base AS (
      SELECT CAST(doc_id AS BIGINT) AS id, text FROM documents WHERE doc_id < 100
      UNION ALL
      SELECT CAST(doc_id AS BIGINT) + 100000, text || ' q'
      FROM documents WHERE doc_id < 100
    ),
    sh AS (SELECT id, list_distinct(list_transform(range(1, greatest(length(text)-2,1)+1),
               i -> substring(text, CAST(i AS INT), 3))) AS s
           FROM base),
    p AS (SELECT a.id AS id_a, b.id AS id_b,
                 len(list_intersect(a.s, b.s))
                   / CAST(len(list_distinct(list_concat(a.s, b.s))) AS DOUBLE) AS jac
          FROM sh a JOIN sh b ON a.id < b.id)
    SELECT id_a, id_b, round(jac, 6) AS jaccard FROM p WHERE jac >= 0.8
    """

    # fingerprints aren't SQL-expressible; the oracle pins the planted
    # copy-pair count (one per doc) and the blocked-vs-brute deltas,
    # which the pigeonhole blocking guarantees to be exactly zero
    o["simhash_pairs"] = """
    SELECT CAST(count(*) AS BIGINT) AS n_copy_pairs,
           CAST(0 AS BIGINT) AS missed, CAST(0 AS BIGINT) AS extra
    FROM documents WHERE doc_id < 200
    """

    o["embedding_neardups"] = """
    WITH base AS (
      SELECT CAST(vec_id AS BIGINT) AS id, embedding::DOUBLE[] AS v FROM embeddings
      UNION ALL
      SELECT CAST(vec_id AS BIGINT) + 100000,
             list_concat([embedding[1]::DOUBLE + CAST(0.05 AS DOUBLE)],
                         (embedding::DOUBLE[])[2:])
      FROM embeddings
    ),
    e AS (SELECT id, v, sqrt(list_dot_product(v, v)) AS n FROM base),
    p AS (SELECT a.id AS id_a, b.id AS id_b,
                 list_dot_product(a.v, b.v) / nullif(a.n * b.n, 0.0) AS cos
          FROM e a JOIN e b ON a.id < b.id)
    SELECT id_a, id_b, round(cos, 6) AS cosine FROM p WHERE cos >= 0.95
    """

    _topk_aug = """
    WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0),
    aug AS (
      SELECT CAST(vec_id AS BIGINT) AS id, embedding::DOUBLE[] AS v FROM embeddings
      UNION ALL
      SELECT CAST(100000 + s AS BIGINT),
             list_concat([qv[1] + CAST(0.01 AS DOUBLE) * s], qv[2:])
      FROM q, range(1, 6) t(s)
    ),
    sc AS (SELECT id AS vec_id,
                  list_dot_product(v, qv)
                    / nullif(sqrt(list_dot_product(v, v))
                           * sqrt(list_dot_product(qv, qv)), 0.0) AS score_raw
           FROM aug, q)
    SELECT vec_id, round(score_raw, 6) AS score
    FROM sc ORDER BY score_raw DESC, vec_id LIMIT 6
    """
    o["cosine_topk_ivf"] = _topk_aug
    o["cosine_topk_lsh"] = _topk_aug

    # near-dup clustering twin: same exact pair set, transitive closure
    # as a recursive CTE (min reachable id per node = component keeper)
    o["dedup_clusters"] = """
    WITH RECURSIVE
    base AS (
      SELECT CAST(doc_id AS BIGINT) AS id, text FROM documents WHERE doc_id < 100
      UNION ALL
      SELECT CAST(doc_id AS BIGINT) + 100000, text || ' q'
      FROM documents WHERE doc_id < 100
      UNION ALL
      SELECT CAST(doc_id AS BIGINT) + 200000, text || ' q qq zz'
      FROM documents WHERE doc_id < 100
    ),
    sh AS (SELECT id, list_distinct(list_transform(range(1, greatest(length(text)-2,1)+1),
               i -> substring(text, CAST(i AS INT), 3))) AS s
           FROM base),
    p AS (SELECT a.id AS id_a, b.id AS id_b
          FROM sh a JOIN sh b ON a.id < b.id
          WHERE len(list_intersect(a.s, b.s))
                / CAST(len(list_distinct(list_concat(a.s, b.s))) AS DOUBLE) >= 0.8),
    e AS (SELECT id_a AS s, id_b AS d FROM p
          UNION ALL SELECT id_b, id_a FROM p),
    reach AS (
      SELECT id, id AS r FROM base
      UNION
      SELECT e.s AS id, reach.r FROM e JOIN reach ON reach.id = e.d
    )
    SELECT id, CAST(min(r) AS BIGINT) AS keeper FROM reach GROUP BY id
    """

    # multimodal plumbing twin: payload = UTF-8 text bytes, so byte
    # accounting / vector shape / frame slicing are SQL-derivable even
    # though the decoder body is a stub (all three ops in one row set)
    o["multimodal_pipeline"] = """
    SELECT CAST(doc_id AS BIGINT) AS media_id,
           CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
           CAST(16 AS INTEGER) AS n_features,
           CAST(1.0 AS DOUBLE) AS feat_sum,
           CAST(16 AS INTEGER) AS width, CAST(16 AS INTEGER) AS height,
           CAST(least(256, octet_length(encode(text))) AS BIGINT) AS resize_bytes,
           CAST(4 AS BIGINT) AS n_frames,
           CAST(least(octet_length(encode(text)),
                      4 * greatest(1, octet_length(encode(text)) // 4))
                AS BIGINT) AS frame_bytes
    FROM documents
    """

    # PL1 IC pooling as a DuckDB RECURSIVE CTE: a sequential left fold
    # per source (accumulator merges the next event iff gap_t ≤ t_c and
    # gap_v ≤ p_c·severity_acc) IS the fixed point of the engine's
    # pass-based chain merge — the merge criterion only weakens as the
    # left severity grows (severity ≥ 0.8·s_left + s_right after a
    # merge), and an emitted accumulator's severity never changes, so
    # one ordered scan settles every pair. Upstream mirrors the
    # flagship config: MA(5) → fixed P50 threshold → runs with
    # deficit/excess → gaps → pool(t_c=3, p_c=0.2) → exclusion
    # (min_duration=1, s_min=0 ⇒ excluded always false).
    o["drought_events_full"] = """
    WITH RECURSIVE
    b AS (SELECT event_type, date_trunc('day', ts) AS d, avg(value) AS v
          FROM events GROUP BY 1, 2),
    r AS (SELECT event_type, min(d) lo, max(d) hi FROM b GROUP BY 1),
    cal AS (SELECT event_type, unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS d FROM r),
    s AS (SELECT cal.event_type, cal.d, b.v
          FROM cal LEFT JOIN b ON cal.event_type = b.event_type AND cal.d = b.d),
    sm AS (SELECT event_type, d,
                  avg(v) OVER (PARTITION BY event_type ORDER BY d
                               ROWS BETWEEN 2 PRECEDING AND 2 FOLLOWING) AS x_ma
           FROM s),
    th AS (SELECT event_type, CAST(quantile_cont(x_ma, 0.5) AS DOUBLE) AS x0
           FROM sm GROUP BY 1),
    m AS (SELECT sm.event_type, sm.d, sm.x_ma, th.x0,
                 CASE WHEN sm.x_ma < th.x0 THEN 1 ELSE 0 END AS below
          FROM sm JOIN th ON sm.event_type = th.event_type),
    seg AS (SELECT *, CASE WHEN lag(below) OVER w IS NULL
                             OR lag(below) OVER w <> below THEN 1 ELSE 0 END AS chg
            FROM m WINDOW w AS (PARTITION BY event_type ORDER BY d)),
    rid AS (SELECT *, sum(chg) OVER (PARTITION BY event_type ORDER BY d
                                     ROWS UNBOUNDED PRECEDING) AS run_id
            FROM seg),
    allev AS (SELECT event_type, run_id, min(below) AS below,
                     min(d) AS onset, max(d) AS termination,
                     CAST(count(*) AS BIGINT) AS duration,
                     sum(greatest(coalesce(x0 - x_ma, 0.0), 0.0)) AS sev,
                     sum(greatest(coalesce(x_ma - x0, 0.0), 0.0)) AS excess
              FROM rid GROUP BY 1, 2),
    gaps AS (SELECT event_type, run_id - 1 AS run_id,
                    duration AS gap_t, excess AS gap_v
             FROM allev WHERE below = 0),
    ev0 AS (SELECT e.event_type, e.onset, e.termination, e.duration, e.sev,
                   CASE WHEN lead(e.onset) OVER w2 IS NOT NULL THEN g.gap_t END AS gap_t,
                   CASE WHEN lead(e.onset) OVER w2 IS NOT NULL THEN g.gap_v END AS gap_v
            FROM allev e LEFT JOIN gaps g
              ON e.event_type = g.event_type AND e.run_id = g.run_id
            WHERE e.below = 1
            WINDOW w2 AS (PARTITION BY e.event_type ORDER BY e.onset)),
    numbered AS (SELECT *, row_number() OVER (PARTITION BY event_type ORDER BY onset) AS rn,
                        count(*) OVER (PARTITION BY event_type) AS nev
                 FROM ev0),
    pool AS (
      SELECT event_type, rn, nev, 'acc' AS kind, onset, termination, duration,
             sev, gap_t, gap_v, FALSE AS pooled
      FROM numbered WHERE rn = 1
      UNION ALL
      SELECT p.event_type,
             CASE WHEN p.gap_t IS NOT NULL AND p.gap_t <= 3
                       AND p.gap_v <= 0.2 * p.sev
                  THEN n.rn ELSE CASE WHEN t.which = 0 THEN p.rn ELSE n.rn END END,
             p.nev,
             CASE WHEN p.gap_t IS NOT NULL AND p.gap_t <= 3
                       AND p.gap_v <= 0.2 * p.sev
                  THEN 'acc' ELSE CASE WHEN t.which = 0 THEN 'done' ELSE 'acc' END END,
             CASE WHEN p.gap_t IS NOT NULL AND p.gap_t <= 3
                       AND p.gap_v <= 0.2 * p.sev
                  THEN p.onset ELSE CASE WHEN t.which = 0 THEN p.onset ELSE n.onset END END,
             CASE WHEN p.gap_t IS NOT NULL AND p.gap_t <= 3
                       AND p.gap_v <= 0.2 * p.sev
                  THEN n.termination ELSE CASE WHEN t.which = 0 THEN p.termination ELSE n.termination END END,
             CASE WHEN p.gap_t IS NOT NULL AND p.gap_t <= 3
                       AND p.gap_v <= 0.2 * p.sev
                  THEN p.duration + p.gap_t + n.duration
                  ELSE CASE WHEN t.which = 0 THEN p.duration ELSE n.duration END END,
             CASE WHEN p.gap_t IS NOT NULL AND p.gap_t <= 3
                       AND p.gap_v <= 0.2 * p.sev
                  THEN p.sev + n.sev - p.gap_v
                  ELSE CASE WHEN t.which = 0 THEN p.sev ELSE n.sev END END,
             CASE WHEN p.gap_t IS NOT NULL AND p.gap_t <= 3
                       AND p.gap_v <= 0.2 * p.sev
                  THEN n.gap_t ELSE CASE WHEN t.which = 0 THEN p.gap_t ELSE n.gap_t END END,
             CASE WHEN p.gap_t IS NOT NULL AND p.gap_t <= 3
                       AND p.gap_v <= 0.2 * p.sev
                  THEN n.gap_v ELSE CASE WHEN t.which = 0 THEN p.gap_v ELSE n.gap_v END END,
             CASE WHEN p.gap_t IS NOT NULL AND p.gap_t <= 3
                       AND p.gap_v <= 0.2 * p.sev
                  THEN TRUE ELSE CASE WHEN t.which = 0 THEN p.pooled ELSE FALSE END END
      FROM pool p
      JOIN numbered n ON n.event_type = p.event_type AND n.rn = p.rn + 1
      CROSS JOIN (VALUES (0), (1)) t(which)
      WHERE p.kind = 'acc'
        AND (t.which = 1
             OR NOT (p.gap_t IS NOT NULL AND p.gap_t <= 3 AND p.gap_v <= 0.2 * p.sev))
    ),
    final AS (SELECT * FROM pool
              WHERE kind = 'done' OR (kind = 'acc' AND rn = nev))
    SELECT event_type,
           CAST(row_number() OVER (PARTITION BY event_type ORDER BY onset) AS BIGINT) AS event_id,
           onset, termination, duration,
           round(sev, 3) AS severity,
           round(sev / duration, 6) AS intensity,
           pooled, FALSE AS excluded
    FROM final
    """

    o["repetition_stats"] = """
    WITH w AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS ws,
                      list_filter(string_split(text, chr(10)), l -> l <> '') AS ls
               FROM documents),
    bg AS (SELECT doc_id, ws[i] || ' ' || ws[i + 1] AS b
           FROM w, unnest(range(1, greatest(len(ws), 1))) t(i)
           WHERE len(ws) > 1),
    cnt AS (SELECT doc_id, b, CAST(count(*) AS BIGINT) AS c FROM bg GROUP BY 1, 2),
    top AS (SELECT doc_id, max(c) AS mx FROM cnt GROUP BY 1)
    SELECT w.doc_id,
           CAST(greatest(len(ws) - 1, 0) AS BIGINT) AS n_bigrams,
           CAST(coalesce(top.mx, 0) AS BIGINT) AS top_bigram_count,
           round(coalesce(top.mx, 0) / CAST(greatest(len(ws) - 1, 1) AS DOUBLE), 6)
             AS top_bigram_frac,
           round(1.0 - len(list_distinct(ws)) / CAST(greatest(len(ws), 1) AS DOUBLE), 6)
             AS dup_word_frac,
           round(1.0 - len(list_distinct(ls)) / CAST(greatest(len(ls), 1) AS DOUBLE), 6)
             AS dup_line_frac
    FROM w LEFT JOIN top ON w.doc_id = top.doc_id
    """

    o["cosine_topk"] = """
    WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0),
    s AS (SELECT vec_id,
                 list_dot_product(embedding::DOUBLE[], qv)
                   / nullif(sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))
                          * sqrt(list_dot_product(qv, qv)), 0.0) AS score_raw
          FROM embeddings, q)
    SELECT vec_id, round(score_raw, 6) AS score
    FROM s ORDER BY score_raw DESC, vec_id LIMIT 10
    """

    return o
