#!/usr/bin/env python3
"""Seeded benchmark of the drought_t_spark engine.

    python3 perfbench/run.py --workload tier_rollup --seed 1 --seconds 10 --trace 0

Run from the repository root. One run starts Spark on `local[<cores>]`,
generates the workload's inputs from `--seed`, computes the references
once (untimed), then runs closed-loop operations for `--seconds` seconds
(at least one), checks every result against its reference, and prints
one JSON object as the last line of stdout (times net of host steal,
see `harness.net_s`):

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

`--trace 0` reports the end-to-end metrics, `--trace 1` the per-layer
metrics from a separate traced run (spans, Spark job counts per span,
codec kernel rates). Every name is declared in BENCHMARK.json; see
perfbench/README.md for what each one means.

All scratch (Spark local dirs, warehouses, temp files) lives under
`.perfbench/` in the working directory and is removed at exit, except
the traced run's span file `.perfbench/trace-<workload>-<seed>.json`.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import harness  # noqa: E402

DRIVER_MEMORY = "2g"

#: the end-to-end metrics every workload reports, with their units
UNITS = {
    "setup_s": "s", "op_net_p50_s": "s", "net_work_per_s": "1/s", "peak_rss_mb": "MB",
}


def load_declared(root: str) -> tuple[list[str], dict[str, str]]:
    """(end-to-end names, per-layer name -> unit) from BENCHMARK.json."""
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return ([m["name"] for m in spec["end_to_end"]],
            {m["name"]: m["unit"] for m in spec["per_layer"]})


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--size", default="full", help="input size (tests use 'tiny')")
    return p.parse_args(argv)


def start_spark(root: str, scratch: str, app: str):
    """SparkSession pinned for the benchmark: local[<cores>], a 2 GB
    driver heap, worker PYTHONPATH = the checkout, and every scratch
    directory under `scratch`."""
    from drought_t_spark.session import build_session

    tmp = os.path.join(scratch, "tmp")
    local = os.path.join(scratch, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH", "")) if p)
    # an inherited SPARK_LOCAL_DIRS would override spark.local.dir below
    os.environ.pop("SPARK_LOCAL_DIRS", None)
    cores = len(os.sched_getaffinity(0))
    spark = build_session(app, master=f"local[{cores}]", extra_conf={
        "spark.driver.memory": DRIVER_MEMORY,
        # -UsePerfData: the JVM would otherwise write hsperfdata to /tmp.
        # The heap is committed and touched at start, so peak_rss_mb does
        # not depend on when the collector chose to grow it.
        "spark.driver.extraJavaOptions": (f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData "
                                          f"-Xms{DRIVER_MEMORY} -XX:+AlwaysPreTouch"),
        "spark.local.dir": local,
        "spark.sql.warehouse.dir": os.path.join(scratch, "spark-warehouse"),
        "spark.executorEnv.PYTHONPATH": root,
        "spark.executorEnv.TMPDIR": tmp,
        "spark.ui.showConsoleProgress": "false",
    })
    return spark, cores


def stop_spark(spark) -> None:
    """Stop Spark and wait until the JVM and its Python workers exit."""
    from pyspark import SparkContext

    kids = harness._children_of({os.getpid()})
    tree = set(kids)
    frontier = set(kids)
    while frontier:
        frontier = harness._children_of(frontier) - tree
        tree |= frontier
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)
    deadline = time.time() + 30
    while tree and time.time() < deadline:
        tree = {p for p in tree if os.path.exists(f"/proc/{p}")
                and not _is_zombie(p)}
        if tree:
            time.sleep(0.1)
    for p in tree:
        try:
            os.kill(p, 9)
        except ProcessLookupError:
            pass


def _is_zombie(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] == "Z"
    except FileNotFoundError:
        return True


def codec_kernel(seed: int, n: int = 1_000_000, reps: int = 5) -> dict[str, float]:
    """TSZ1 encode/decode on one thread over a seeded Zipf(1.2) token
    array: median rates over `reps` and the exact payload size."""
    from drought_t_spark import synth
    from drought_t_spark.codec import tsz1

    toks = synth.zipf_tokens(n, seed=seed)
    enc, dec = [], []
    for _ in range(reps):
        t0 = time.perf_counter()
        blob = tsz1.encode_tokens(toks)
        t1 = time.perf_counter()
        back = tsz1.decode_tokens(blob)
        t2 = time.perf_counter()
        enc.append(t1 - t0)
        dec.append(t2 - t1)
    if not (len(back) == n and (back == toks).all()):
        raise RuntimeError("TSZ1 round trip is not exact")
    return {
        "codec.encode_tokens_per_s": n / harness.median(enc),
        "codec.decode_tokens_per_s": n / harness.median(dec),
        "payload.bytes_per_token": len(blob) / n,
    }


def run_companion(cls, spark, scratch: str, args, tracer) -> tuple[list, dict]:
    """A companion workload inside a traced run: set-up, reference,
    warm-up, then its whole schedule (no time limit), for its per-layer
    metrics only. Returns its operations and those metrics."""
    work = os.path.join(scratch, cls.name)
    os.makedirs(work, exist_ok=True)
    wl = cls(spark, work, args.seed, tracer, size=args.size)
    wl.setup()
    wl.reference()
    ops = wl.warm()
    wl.instrument()
    i = 0
    while step := wl.step(i):
        ops += step
        i += 1
    tracer.unwrap_all()
    return ops, wl.layer_metrics([o for o in ops if not o.kind.startswith("warmup")])


def run(args, root: str) -> dict:
    from workloads import TRACED_COMPANIONS, WORKLOADS

    wl_cls = WORKLOADS[args.workload]
    base = os.path.join(root, ".perfbench")
    scratch = os.path.join(base, f"run-{os.getpid()}")
    os.makedirs(scratch, exist_ok=True)
    env = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
           "trace": args.trace, "size": args.size,
           "disk_mbps": round(harness.disk_probe_mbps(scratch), 1),
           "scratch": os.path.relpath(scratch, root),
           "driver_memory": DRIVER_MEMORY}
    spark = None
    steal0 = harness.cpu_steal_s()
    try:
        with harness.RssSampler() as rss:
            m = harness.Meter().start()
            spark, cores = start_spark(root, scratch, f"perfbench-{args.workload}")
            session = m.stop()
            env.update(cores=cores, master=f"local[{cores}]",
                       shuffle_partitions=spark.conf.get("spark.sql.shuffle.partitions"),
                       spark=spark.version, session_start_s=round(session.wall_s, 3))
            print("env " + json.dumps(env), file=sys.stderr, flush=True)

            tracer = harness.Tracer(spark.sparkContext if args.trace else None)
            wl = wl_cls(spark, scratch, args.seed, tracer, size=args.size)
            t1 = time.perf_counter()
            wl.setup()
            t2 = time.perf_counter()
            wl.reference()
            t3 = time.perf_counter()
            m = harness.Meter().start()
            ops = wl.warm()
            warm = m.stop()
            # every part net of host steal, like the operations
            setup_s = session.net_s + harness.median(wl.setup_s) + warm.net_s
            phases = {"session_s": session.wall_s, "setup_s": t2 - t1,
                      "reference_s": t3 - t2, "warm_s": warm.wall_s}
            if args.trace:
                wl.instrument()

            t_start = time.perf_counter()
            i = 0
            while step := wl.step(i):
                ops += step
                i += 1
                if time.perf_counter() - t_start >= args.seconds:
                    break
            phases["loop_s"] = time.perf_counter() - t_start
            phases["cpu_steal_s"] = harness.cpu_steal_s() - steal0
            tracer.unwrap_all()
        peak_mb = rss.peak_mb
        layer, extra_ops = {}, []
        if args.trace:
            layer.update(wl.layer_metrics([o for o in ops if not o.kind.startswith("warmup")]))
            for comp in TRACED_COMPANIONS.get(args.workload, ()):
                t4 = time.perf_counter()
                c_ops, c_layer = run_companion(comp, spark, scratch, args, tracer)
                extra_ops += c_ops
                layer.update(c_layer)
                phases[f"{comp.name}_s"] = time.perf_counter() - t4
            layer.update(codec_kernel(args.seed))
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(scratch, ignore_errors=True)

    good = [o for o in ops if o.ok and not o.kind.startswith("warmup")]
    failed = [o for o in ops + extra_ops if not o.ok]
    print("ops " + " ".join(f"{o.kind}:{o.wall_s:.3f}" for o in ops + extra_ops),
          file=sys.stderr)
    for o in failed:
        print(f"FAILED {o.kind}: {o.error}", file=sys.stderr)
    if not good:
        raise RuntimeError(f"no operation of {args.workload} succeeded")
    primary = [o for o in good if o.kind == wl.primary]
    work = [o for o in good if o.kind in wl.work_kinds]
    if not primary:
        raise RuntimeError(f"no {wl.primary} operation of {args.workload} succeeded")
    e2e = {
        "setup_s": setup_s,
        "op_net_p50_s": harness.median(o.net_s for o in primary),
        "net_work_per_s": harness.median(o.units / o.net_s for o in work),
        "peak_rss_mb": peak_mb,
    }
    # the same operations as measured, before the steal correction
    raw = {"op_wall_p50_s": harness.median(o.wall_s for o in primary),
           "op_cpu_p50_s": harness.median(o.cpu_s for o in primary),
           "op_net_p50_s": e2e["op_net_p50_s"],
           "ops": len(primary)}
    attempted = len(ops) + len(extra_ops)
    summary = {
        "ops": attempted, "failed": len(failed),
        "phases_s": {k: round(v, 3) for k, v in phases.items()},
        "raw": raw,
        "error_rate": len(failed) / attempted,
        "kinds": sorted({o.kind for o in ops + extra_ops}),
        # the workload's own operations only: a traced run adds companions
        "digests": [o.digest for o in ops],
        **wl.notes,
    }
    if args.trace:
        layer["trace.overhead_s"] = tracer.overhead_s
        layer["trace.op_net_p50_s"] = raw["op_net_p50_s"]
        layer["op.wall_p50_s"] = raw["op_wall_p50_s"]
        layer["op.cpu_p50_s"] = raw["op_cpu_p50_s"]
        layer["session_start_s"] = session.net_s
        os.makedirs(base, exist_ok=True)
        tracer.dump(os.path.join(base, f"trace-{args.workload}-{args.seed}.json"),
                    {"env": env, "summary": summary})
    return {"env": env, "summary": summary, "e2e": e2e, "layer": layer, "ops": ops}


def main(argv=None) -> int:
    args = parse_args(argv)
    root = os.getcwd()
    if not (os.path.isfile(os.path.join(root, "drought_t_spark", "__init__.py"))
            and os.path.isfile(os.path.join(root, "BENCHMARK.json"))):
        print("perfbench: run from the repository root (drought_t_spark/ and "
              "BENCHMARK.json must be in the working directory)", file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    e2e_names, layer_units = load_declared(root)
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    res = run(args, root)
    s = res["summary"]
    print(f"# {args.workload} seed={args.seed} ops={s['ops']} failed={s['failed']} "
          f"error_rate={s['error_rate']:.4f} ({s['failed']} of {s['ops']}) "
          f"phases_s={json.dumps(s['phases_s'])}")
    print("# raw " + " ".join(f"{k}={v:.6g}" for k, v in s["raw"].items()))
    if args.trace:
        # every declared per-layer metric; 0 for a layer this workload
        # does not call
        metrics = {n: {"value": float(res["layer"].get(n, 0.0)), "unit": u}
                   for n, u in layer_units.items()}
    else:
        metrics = {n: {"value": float(res["e2e"][n]), "unit": UNITS[n]} for n in e2e_names}
    for n, m in metrics.items():
        print(f"# {n} = {m['value']:.6g} {m['unit']}")
    print("# digests " + json.dumps(s["digests"]))
    print(json.dumps({"correct": s["failed"] == 0, "attempted": s["ops"],
                      "failed": s["failed"], "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
