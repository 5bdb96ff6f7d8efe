"""The benchmark's workloads. Each one generates its inputs from the
seed in `setup`, computes its references once in `reference` (untimed,
excluded from setup time), and runs one closed-loop operation per
`step`, returning one `Op` record per timed operation. Correctness
failures are recorded on the op, never raised, so they count into the
error rate instead of ending the run.

The engine is driven only through its public entry points; the spans a
traced run records come from `harness.Tracer`, opened here around calls
into each layer or installed on the module attributes the engine calls
through.
"""

from __future__ import annotations

import hashlib
import os
import random
import shutil
import time
import traceback
from dataclasses import dataclass, field
from datetime import datetime, timedelta

import numpy as np
import pandas as pd

from harness import Meter, Tracer, dir_bytes, median, tail_percentile

TIERS = ("hour", "day", "month")


@dataclass
class Op:
    kind: str
    wall_s: float
    units: float                 # input units processed (tokens, rows, reads)
    ok: bool = True
    error: str = ""
    digest: str = ""
    layer: dict = field(default_factory=dict)  # per-op layer figures (traced)
    cpu_s: float = 0.0           # process-tree CPU over the wall
    net_s: float = 0.0           # wall net of host steal (harness.net_s)


def _digest(*parts) -> str:
    h = hashlib.sha256()
    for p in parts:
        h.update(repr(p).encode())
    return h.hexdigest()[:16]


def _fail(kind: str, wall: float, units: float, ex: BaseException) -> Op:
    return Op(kind, wall, units, ok=False,
              error="".join(traceback.format_exception_only(type(ex), ex)).strip())


class Workload:
    name = ""
    primary = ""              # op kind behind op_net_p50_s
    work_kinds: tuple = ()    # op kinds behind net_work_per_s
    #: input sizes; "tiny" is the smoke-test size
    SIZES: dict[str, dict] = {}

    def __init__(self, spark, work_dir: str, seed: int, tracer: Tracer,
                 size: str = "full"):
        self.spark = spark
        self.work = work_dir
        self.seed = seed
        self.tracer = tracer
        self.p = self.SIZES[size]
        self.setup_s: list[float] = []   # net_s of each set-up repetition
        self.notes: dict = {}

    def setup(self) -> None: ...
    def reference(self) -> None: ...

    #: measured-kind operations run as warm-up before the loop
    warmups = 0

    def warm(self) -> list[Op]:
        """Checked warm-up operations, run after `reference`; their wall
        counts into set-up time, not into the measured loop. By default
        `warmups` operations of the measured kind."""
        ops = []
        for k in range(self.warmups):
            for o in self.step(-1 - k):
                o.kind = f"warmup_{o.kind}"
                ops.append(o)
        return ops

    def step(self, i: int) -> list[Op]: ...
    def instrument(self) -> None:
        """Install the traced run's wrappers (traced run only)."""

    def layer_metrics(self, ops: list[Op]) -> dict[str, float]:
        return {}


# ------------------------------------------------------- tier_rollup --


class TierRollup(Workload):
    """The production resumable rollup job, a fresh warehouse per job.
    No warm-up: the job runs once per JVM in production, so its cold
    start (JIT, codegen, first Python workers) is what users pay. A
    warm-up job would also take the run past the benchmark's time
    budget (the cold job is 20-28 s on four cores, a warm one 15 s)."""

    name = "tier_rollup"
    primary, work_kinds = "rollup", ("rollup",)
    #: checkpoint groups: the job's own sizing rule (~executors/4) on four
    #: cores. The default 8 takes 143 Spark jobs and several times the
    #: wall, nearly all of it fixed orchestration, and would not fit the
    #: benchmark's time budget.
    N_GROUPS = 1
    SIZES = {
        "full": {"n_sources": 32, "n_total": 40_000, "setup_reps": 2},
        "tiny": {"n_sources": 4, "n_total": 3_000, "setup_reps": 1},
    }

    def setup(self) -> None:
        from drought_t_spark import synth

        self.t0_path = os.path.join(self.work, "t0")
        for _ in range(self.p["setup_reps"]):
            m = Meter().start()
            synth.sequences_df(
                self.spark, seed=self.seed, n_sources=self.p["n_sources"],
                n_total=self.p["n_total"],
            ).write.mode("overwrite").parquet(self.t0_path)
            self.setup_s.append(m.stop().net_s)

    def reference(self) -> None:
        from pyspark.sql import functions as F

        rows = (
            self.spark.read.parquet(self.t0_path)
            .groupBy("source").agg(F.sum("n_tok").alias("tok"))
            .collect()
        )
        self.raw_tok = {r["source"]: int(r["tok"]) for r in rows}
        self.total_tok = sum(self.raw_tok.values())

    def instrument(self) -> None:
        from drought_t_spark.ops import checkpoints as CP
        from drought_t_spark.sources.warehouse import Warehouse

        tr = self.tracer
        tr.wrap(CP, "record_commit", "checkpoints.record_commit")
        tr.wrap(CP, "committed_partitions", "checkpoints.read")
        tr.wrap(Warehouse, "write_partitioned",
                lambda _self, _df, table, *a, **k: f"warehouse.write.{table.split('.')[-1]}")

    def _check(self, wh) -> tuple[list[str], str, dict[str, int]]:
        """Per source and tier: stats n_tok_sum and payload token counts
        equal the raw token count."""
        from pyspark.sql import functions as F

        parts = []
        for tier in TIERS:
            parts.append(wh.read(self.spark, f"agg.tier_{tier}").select(
                F.lit(f"tier_{tier}").alias("t"), "source",
                F.col("n_tok_sum").alias("n"), F.lit(0).cast("long").alias("crc")))
            parts.append(wh.read(self.spark, f"agg.payload_{tier}").select(
                F.lit(f"payload_{tier}").alias("t"), "source",
                F.col("payload_n_tokens").alias("n"), F.col("payload_crc32").alias("crc")))
        u = parts[0]
        for p in parts[1:]:
            u = u.unionByName(p)
        rows = u.groupBy("t", "source").agg(
            F.sum("n").alias("n"), F.sum("crc").alias("crc"), F.count("*").alias("rows")
        ).collect()
        got: dict[str, dict[str, int]] = {}
        for r in rows:
            got.setdefault(r["t"], {})[r["source"]] = int(r["n"] or 0)
        bad = [
            f"{t}: token counts differ from raw for "
            f"{sorted(s for s in self.raw_tok if got.get(t, {}).get(s) != self.raw_tok[s])[:3]}"
            for t in sorted({f"{k}_{tier}" for k in ("tier", "payload") for tier in TIERS})
            if got.get(t) != self.raw_tok
        ]
        digest = _digest(sorted((r["t"], r["source"], int(r["n"] or 0), int(r["crc"] or 0),
                                 int(r["rows"])) for r in rows))
        sizes = {t: dir_bytes(wh.path(f"agg.{t}"))
                 for t in sorted({f"{k}_{tier}" for k in ("tier", "payload") for tier in TIERS})}
        return bad, digest, sizes

    def step(self, i: int) -> list[Op]:
        from drought_t_spark.plans.rollup_job import run_rollup_job
        from drought_t_spark.sources.warehouse import Warehouse

        wh_root = os.path.join(self.work, f"wh{i}")
        wh = Warehouse(wh_root)
        seqs = self.spark.read.parquet(self.t0_path)
        m = Meter().start()
        try:
            with self.tracer.span("rollup_job") as rec:
                run_rollup_job(self.spark, wh, seqs, f"perfbench-{self.seed}-{i}",
                               n_groups=self.N_GROUPS)
        except Exception as ex:  # counted as a failed operation
            return [_fail("rollup", m.stop().wall_s, self.total_tok, ex)]
        m.stop()
        bad, digest, sizes = self._check(wh)
        op = Op("rollup", m.wall_s, self.total_tok, ok=not bad, error="; ".join(bad),
                digest=digest, layer={"bytes": sizes}, cpu_s=m.cpu_s, net_s=m.net_s)
        if rec is not None:
            op.layer["span"] = rec["id"]
        shutil.rmtree(wh_root, ignore_errors=True)
        return [op]

    def layer_metrics(self, ops: list[Op]) -> dict[str, float]:
        good = [o for o in ops if o.ok]
        out: dict[str, float] = {}
        if good:
            sizes = good[0].layer["bytes"]
            for t, b in sizes.items():
                out[f"warehouse.bytes_written.{t}"] = float(b)
            out["stored_bytes_per_token"] = sum(sizes.values()) / max(self.total_tok, 1)
        tr = self.tracer
        roots = [o.layer["span"] for o in good if "span" in o.layer]
        if not roots:
            return out

        def med(fn):
            return median(fn(r) for r in roots)

        def t(names):
            return lambda r: sum(tr.time_by_name(r).get(n, 0.0) for n in names)

        out.update({
            "rollup_job.spark_jobs": med(tr.total_jobs),
            "rollup_job.self_s": med(tr.self_s),
            "checkpoints.record_commit_s": med(t(["checkpoints.record_commit"])),
            "checkpoints.record_commit_calls": med(
                lambda r: tr.calls_by_name(r).get("checkpoints.record_commit", 0)),
            "checkpoints.read_s": med(t(["checkpoints.read"])),
            "warehouse.write.tier_hour_s": med(t(["warehouse.write.tier_hour"])),
            "warehouse.write.payload_hour_s": med(t(["warehouse.write.payload_hour"])),
            "warehouse.write.tier_cascade_s": med(
                t(["warehouse.write.tier_day", "warehouse.write.tier_month"])),
            "warehouse.write.payload_cascade_s": med(
                t(["warehouse.write.payload_day", "warehouse.write.payload_month"])),
        })
        return out


# ---------------------------------------------------- drought_method --


def compare_events(got: pd.DataFrame, want: pd.DataFrame) -> str:
    """'' when one site's events equal the reference (exact on dates,
    durations and flags; floats within rtol 1e-9, plus 1e-9 of the
    site's largest value), else why not."""
    g = got.sort_values("event_id").reset_index(drop=True)
    w = want.sort_values("event_id").reset_index(drop=True)
    if len(g) != len(w):
        return f"{len(g)} events vs reference {len(w)}"
    if not len(w):
        return ""
    for c in ("onset", "termination"):
        if not np.array_equal(g[c].astype("datetime64[us]").to_numpy(),
                              w[c].astype("datetime64[us]").to_numpy()):
            return f"{c} differs"
    for c in ("duration", "pooled", "excluded"):
        if not np.array_equal(g[c].to_numpy(), w[c].to_numpy()):
            return f"{c} differs"
    for c in ("severity", "intensity", "peak"):
        gv, wv = g[c].to_numpy(float), w[c].to_numpy(float)
        # pooled severities are differences of sums, so summation order
        # leaves absolute noise scaled by the site's largest value
        if not np.allclose(gv, wv, rtol=1e-9, atol=1e-9 * np.abs(wv).max()):
            return f"{c} differs"
    return ""


class DroughtMethod(Workload):
    """The drought-method DAG on the seeded daily F2 series. Two warm-up
    runs first: the cold run takes about three times the wall of a warm
    one (codegen, JIT, Python workers) and the second still about 30%
    more."""

    name = "drought_method"
    primary, work_kinds = "drought", ("drought",)
    warmups = 2
    #: three years of daily data: nearly every seed then needs the same
    #: two pooling passes (ten-year series need 5 to 9 by seed, each pass
    #: a Spark job pair, so the work per run would follow the seed)
    SIZES = {
        "full": {"n_sites": 32, "start": "2017-01-01", "setup_reps": 2},
        "tiny": {"n_sites": 4, "start": "2018-01-01", "setup_reps": 1},
    }

    def setup(self) -> None:
        from drought_t_spark import synth

        self.path = os.path.join(self.work, "series")
        for _ in range(self.p["setup_reps"]):
            m = Meter().start()
            self.pdf = synth.series_pdf(seed=self.seed, n_sites=self.p["n_sites"],
                                        start=self.p["start"], end="2019-12-31")
            self.spark.createDataFrame(self.pdf).write.mode("overwrite").parquet(self.path)
            self.setup_s.append(m.stop().net_s)
        self.n_rows = len(self.pdf)

    def reference(self) -> None:
        from drought_t_spark import local_ref

        self.ref = {
            site: local_ref.run_site(g.rename(columns={"date": "bucket_start"}), tier="day")
            for site, g in self.pdf.groupby("site")
        }

    def instrument(self) -> None:
        from drought_t_spark.operators import pooling
        from drought_t_spark.plans import drought

        self.passes: dict[str, int] = {}
        self.tracer.wrap(drought, "pool_events", "pooling.pool_events")
        self.tracer.count_calls(pooling, "_pool_pass", self.passes, "n")

    def _materialize(self):
        """Traced run: the engine's default eager local checkpoint, inside
        a span per call (the 1st closes gap-fill + MA, the 2nd the runs)."""
        if not self.tracer.enabled:
            return None
        names = iter(["drought.smooth", "drought.runs"])

        def mat(df):
            with self.tracer.span(next(names, "drought.materialize")):
                return df.localCheckpoint(eager=True)

        return mat

    def step(self, i: int) -> list[Op]:
        from drought_t_spark.plans.drought import drought_events_for_tier, series_to_tier

        passes0 = getattr(self, "passes", {}).get("n", 0)
        m = Meter().start()
        try:
            with self.tracer.span("drought") as rec:
                tier_df = series_to_tier(self.spark.read.parquet(self.path), ts_col="date")
                ev = drought_events_for_tier(tier_df, "day", materialize=self._materialize())
                with self.tracer.span("drought.finalize"):
                    got = ev.toPandas()
        except Exception as ex:  # counted as a failed operation
            return [_fail("drought", m.stop().wall_s, self.n_rows, ex)]
        m.stop()
        bad = []
        for site, want in self.ref.items():
            why = compare_events(got[got.source == site], want)
            if why:
                bad.append(f"{site}: {why}")
        extra = set(got.source) - set(self.ref)
        if extra:
            bad.append(f"events for unknown sites {sorted(extra)[:3]}")
        srt = got.sort_values(["source", "event_id"]).reset_index(drop=True)
        digest = _digest(int(pd.util.hash_pandas_object(srt, index=False).sum()))
        op = Op("drought", m.wall_s, self.n_rows, ok=not bad, error="; ".join(bad[:3]),
                digest=digest, layer={"events": len(got)}, cpu_s=m.cpu_s, net_s=m.net_s)
        if rec is not None:
            op.layer["span"] = rec["id"]
            op.layer["passes"] = getattr(self, "passes", {}).get("n", 0) - passes0
        return [op]

    def layer_metrics(self, ops: list[Op]) -> dict[str, float]:
        good = [o for o in ops if o.ok and "span" in o.layer]
        if not good:
            return {}
        tr = self.tracer
        roots = [o.layer["span"] for o in good]

        def t(name):
            return median(tr.time_by_name(r).get(name, 0.0) for r in roots)

        return {
            "drought.spark_jobs": median(tr.total_jobs(r) for r in roots),
            "drought.self_s": median(tr.self_s(r) for r in roots),
            "drought.smooth_s": t("drought.smooth"),
            "drought.runs_s": t("drought.runs"),
            "pooling.pool_events_s": t("pooling.pool_events"),
            "pooling.passes": median(o.layer["passes"] for o in good),
            "drought.finalize_s": t("drought.finalize"),
            "drought.events": median(o.layer["events"] for o in good),
        }


# --------------------------------------------------- retention_cycle --


EPOCH = datetime(2024, 1, 1)


class RetentionCycle(Workload):
    """One closed-loop client: tier-routed range reads with retention
    cycles (hour-tier expiry with value archiving, hour payload expiry)
    advancing a day-aligned cutoff between them. Not a workload of its
    own: it runs its whole schedule inside `tier_rollup`'s traced run
    (see TRACED_COMPANIONS) for the retention layers' metrics."""

    name = "retention_cycle"
    primary, work_kinds = "read_payloads", ("read_series", "read_payloads")
    SIZES = {
        # sources of equal length (one sequence per minute for `days`
        # days each), so every read of one shape touches the same volume
        "full": {"n_sources": 2, "days": 6, "reads_per_cycle": 10, "n_cycles": 2,
                 "n_reads": 20},
        "tiny": {"n_sources": 2, "days": 5, "reads_per_cycle": 4, "n_cycles": 1,
                 "n_reads": 10},
    }

    def setup(self) -> None:
        """T0 plus a warehouse holding all six agg tables. They are built
        with the same operators and sink calls `run_rollup_job` makes,
        without its per-group checkpointing, which this workload does
        not exercise and which would triple set-up time."""
        from drought_t_spark import synth
        from drought_t_spark.operators import rollup as R
        from drought_t_spark.sources.warehouse import Warehouse

        m = Meter().start()
        self.t0_path = os.path.join(self.work, "t0")
        synth.sequences_df(self.spark, seed=self.seed, counts=self._counts()
                           ).write.mode("overwrite").parquet(self.t0_path)
        wh = self.wh = Warehouse(os.path.join(self.work, "wh"))
        t1 = R.with_event_time(self.spark.read.parquet(self.t0_path))
        wh.write_partitioned(R.rollup_hour(t1), "agg.tier_hour", ["source"])
        wh.write_partitioned(R.pack_payloads(t1, "hour"), "agg.payload_hour", ["source"])
        for tier, finer in (("day", "hour"), ("month", "day")):
            wh.write_partitioned(R.cascade(wh.read(self.spark, f"agg.tier_{finer}"), tier),
                                 f"agg.tier_{tier}", ["source"])
            wh.write_partitioned(
                R.cascade_payloads(wh.read(self.spark, f"agg.payload_{finer}"), tier),
                f"agg.payload_{tier}", ["source"])
        self._schedule()
        self.setup_s.append(m.stop().net_s)

    def warm(self) -> list[Op]:
        """One read of each kind and shape, so the measured reads run on
        warm code paths."""
        rng = random.Random(f"{self.seed}-warm")
        s = self.notes["schedule"]
        return [self._read(f"warmup_{kind}", *self._range(rng, shape, s["safe_day"], s["days"]))
                for shape in ("month", "days", "hours") for kind in ("payloads", "series")]

    def _counts(self) -> np.ndarray:
        from drought_t_spark import synth

        return synth.uniform_counts(self.p["n_sources"],
                                    self.p["n_sources"] * self.p["days"] * 1440)

    def _schedule(self) -> None:
        """Seeded op list in rounds of `reads_per_cycle` reads with one
        retention cycle in the middle while cutoffs remain, so every round
        checks reads on both sides of an expiry. Reads that start below a
        cutoff start on a day boundary and every ragged hourly edge lies
        above the last cutoff, so each read stays exactly answerable
        after every expiry. Each kind gets the same shape mix per round:
        one whole-January read (month, day and hour tiers), two reads of
        two whole days (day tier) and two 24-hour reads (hour tier)."""
        rng = random.Random(self.seed)
        days = self.p["days"]
        cut_days = sorted(rng.sample(range(1, days - 2), self.p["n_cycles"]))
        safe = cut_days[-1] + 1                        # hourly edges from here on
        mix = ("month", "days", "days", "hours", "hours")
        reads = []
        while len(reads) < self.p["n_reads"]:
            for pay, ser in zip(rng.sample(mix, len(mix)), rng.sample(mix, len(mix))):
                reads += [("payloads", *self._range(rng, pay, safe, days)),
                          ("series", *self._range(rng, ser, safe, days))]
        k = self.p["reads_per_cycle"]
        cuts = [("expire", EPOCH + timedelta(days=c), None) for c in cut_days]
        self.rounds = [reads[j:j + k // 2] + cuts[j // k:j // k + 1] + reads[j + k // 2:j + k]
                       for j in range(0, len(reads), k)]
        self.notes["schedule"] = {"days": days, "cut_days": cut_days, "safe_day": safe}

    @staticmethod
    def _range(rng: random.Random, shape: str, safe: int, days: int):
        if shape == "month":
            lo = EPOCH
            hi = EPOCH + timedelta(days=32, hours=rng.randint(1, 23))
        elif shape == "days":
            lo = EPOCH + timedelta(days=rng.randint(0, days - 2))
            hi = lo + timedelta(days=2)
        else:
            lo = EPOCH + timedelta(days=rng.randint(safe, days - 2), hours=rng.randint(1, 23))
            hi = lo + timedelta(hours=24)
        return lo, hi

    def reference(self) -> None:
        """Raw T0 regenerated locally (the generator is partition-
        independent): per source the minute index of every sequence and
        its tokens flattened in (ts, seq) order."""
        from drought_t_spark import synth

        pdf = synth.sequences_pdf(self.seed, counts=self._counts())
        self.raw = {}
        for src, g in pdf.groupby("source", sort=True):
            seq = g["doc_id"].str.split("/").str[1].astype(np.int64).to_numpy()
            order = np.argsort(seq, kind="stable")
            seq = seq[order]
            toks = [g["tokens"].iloc[k] for k in order]
            off = np.concatenate([[0], np.cumsum([len(t) for t in toks])]).astype(np.int64)
            flat = np.concatenate(toks).astype(np.int32) if toks else np.zeros(0, np.int32)
            self.raw[src] = (seq, off, flat)
        self.total_tok = sum(int(v[1][-1]) for v in self.raw.values())

    def _raw_range(self, src: str, lo: datetime, hi: datetime) -> tuple[int, int]:
        seq, off, _ = self.raw[src]
        a = int((lo - EPOCH).total_seconds() // 60)
        b = int((hi - EPOCH).total_seconds() // 60)
        return int(off[np.searchsorted(seq, a)]), int(off[np.searchsorted(seq, b)])

    def instrument(self) -> None:
        from drought_t_spark.ops import checkpoints as CP
        from drought_t_spark.sources.warehouse import Warehouse

        self.tracer.wrap(CP, "record_commit", "checkpoints.record_commit")
        self.tracer.wrap(Warehouse, "write_partitioned",
                         lambda _self, _df, table, *a, **k:
                         f"warehouse.write.{table.split('.')[-1]}")

    def step(self, i: int) -> list[Op]:
        """Round i: the next `reads_per_cycle` reads, with one retention
        cycle halfway through while cutoffs remain."""
        return [self._expire(a) if kind == "expire" else self._read(kind, a, b)
                for kind, a, b in self.rounds[i]] if i < len(self.rounds) else []

    def _read(self, kind: str, lo: datetime, hi: datetime) -> Op:
        from drought_t_spark.plans import retention as RT

        t0 = time.perf_counter()
        try:
            with self.tracer.span(f"retention.read_{kind}") as rec:
                if kind.endswith("series"):
                    df = RT.read_series(self.spark, self.wh, lo, hi)
                    got = df.toPandas()
                else:
                    df = RT.read_payloads(self.spark, self.wh, lo, hi, decode=True)
                    got = df.toPandas()
        except Exception as ex:  # counted as a failed operation
            return _fail(kind, time.perf_counter() - t0, 1, ex)
        wall = time.perf_counter() - t0
        bad = []
        sums = {}
        for src in self.raw:
            s, e = self._raw_range(src, lo, hi)
            part = got[got.source == src]
            if kind.endswith("series"):
                n = int(part["n_tok_sum"].sum()) if len(part) else 0
                if n != e - s:
                    bad.append(f"{src}: n_tok_sum {n} != raw {e - s}")
                sums[src] = n
            else:
                part = part.sort_values(["bucket_start", "chunk_id"])
                toks = (np.concatenate([np.asarray(t, np.int32) for t in part["tokens"]])
                        if len(part) else np.zeros(0, np.int32))
                if not np.array_equal(toks, self.raw[src][2][s:e]):
                    bad.append(f"{src}: decoded tokens != raw ({len(toks)} vs {e - s})")
                sums[src] = (len(toks), hashlib.sha256(toks.tobytes()).hexdigest()[:12])
        op = Op(kind if kind.startswith("warmup") else f"read_{kind}", wall, 1, ok=not bad, error="; ".join(bad[:3]),
                digest=_digest(kind, lo, hi, sorted(sums.items())))
        if rec is not None:
            op.layer.update(span=rec["id"], slices=len(RT.route_slices(lo, hi)),
                            files=len(df.inputFiles()))
            if kind.endswith("payloads"):
                with self.tracer.span("retention.read_payloads_raw") as raw:
                    RT.read_payloads(self.spark, self.wh, lo, hi, decode=False).toPandas()
                op.layer["raw_span"] = raw["id"]
        return op

    def _expire(self, cutoff: datetime) -> Op:
        from drought_t_spark.plans import retention as RT

        job = f"perfbench-retention-{self.seed}"
        t0 = time.perf_counter()
        try:
            with self.tracer.span("retention.expire_cycle") as rec:
                with self.tracer.span("retention.expire_tier"):
                    r = RT.expire_tier(self.spark, self.wh, job, "hour", cutoff,
                                       archive_values=True)
                with self.tracer.span("retention.expire_payload_tier"):
                    RT.expire_payload_tier(self.spark, self.wh, job, "hour", cutoff)
        except Exception as ex:  # counted as a failed operation
            return _fail("expire", time.perf_counter() - t0, 1, ex)
        op = Op("expire", time.perf_counter() - t0, 1, digest=_digest(cutoff, r),
                layer={"archived": r["expired"]})
        if rec is not None:
            op.layer["span"] = rec["id"]
        return op

    def layer_metrics(self, ops: list[Op]) -> dict[str, float]:
        tr = self.tracer
        reads = [o for o in ops if o.ok and o.kind.startswith("read_")]
        cycles = [o for o in ops if o.ok and o.kind == "expire"]
        out: dict[str, float] = {
            "retention.read_series_s": median(o.wall_s for o in reads if o.kind == "read_series"),
            "retention.read_payloads_s": median(
                o.wall_s for o in reads if o.kind == "read_payloads"),
            "retention.expire_cycle_s": median(o.wall_s for o in cycles),
            "value_history.archive_rows": median(o.layer["archived"] for o in cycles),
        }
        tail = tail_percentile([o.wall_s for o in reads])
        if tail:
            out["retention.read_tail_s"], out["retention.read_tail_pct"] = tail[1], tail[0] * 100
        out["retention.read_samples"] = float(len(reads))
        traced = [o for o in reads if "span" in o.layer]
        if traced:
            out["retention.slices_per_read"] = median(o.layer["slices"] for o in traced)
            out["retention.files_per_read"] = median(o.layer["files"] for o in traced)
            out["retention.spark_jobs_per_read"] = median(
                tr.total_jobs(o.layer["span"]) for o in traced)
            shares = []
            for o in traced:
                if "raw_span" in o.layer:
                    raw = tr.spans[o.layer["raw_span"]]
                    shares.append(1.0 - (raw["end"] - raw["start"]) / max(o.wall_s, 1e-9))
            out["retention.decode_share"] = median(shares)
        tc = [o.layer["span"] for o in cycles if "span" in o.layer]
        if tc:
            out["retention.expire_tier_s"] = median(
                tr.time_by_name(r).get("retention.expire_tier", 0.0) for r in tc)
            out["retention.expire_payload_tier_s"] = median(
                tr.time_by_name(r).get("retention.expire_payload_tier", 0.0) for r in tc)
        return out


WORKLOADS = {w.name: w for w in (TierRollup, DroughtMethod)}

#: workloads run to completion inside a traced run of another workload,
#: after its measured loop, for per-layer metrics only
TRACED_COMPANIONS = {"tier_rollup": (RetentionCycle,)}
