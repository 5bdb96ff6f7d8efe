"""Tests of the benchmark itself. Run from the repository root:

    python3 -m pytest perfbench/tests -q

The smoke tests start Spark once per run (about 3 minutes in all on 4
cores); `-k "not smoke"` runs only the fast ones.
"""

from __future__ import annotations

import json
import os
import re
import subprocess
import sys

import numpy as np
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import harness  # noqa: E402
import run  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


# ------------------------------------------------------- percentiles --


@pytest.mark.parametrize("n,q", [(19, None), (20, 0.5), (39, 0.5), (40, 0.75),
                                 (99, 0.75), (100, 0.9), (199, 0.9), (200, 0.95),
                                 (1000, 0.99), (10_000, 0.999)])
def test_tail_percentile_keeps_ten_samples_beyond(n, q):
    vals = list(np.random.default_rng(n).random(n))
    got = harness.tail_percentile(vals)
    if q is None:
        assert got is None
        return
    assert got[0] == q and got[2] == n
    assert got[1] == pytest.approx(np.percentile(vals, q * 100))
    assert sum(v > got[1] for v in vals) >= harness.TAIL_MIN_BEYOND


def test_quantile_matches_numpy_linear():
    vals = [5.0, 1.0, 3.0, 2.0, 4.0, 10.0]
    for q in (0.0, 0.25, 0.5, 0.9, 1.0):
        assert harness.quantile(vals, q) == pytest.approx(np.percentile(vals, q * 100))


# -------------------------------------------------------------- spans --


def test_self_time_subtracts_union_of_children_clipped_to_parent():
    assert harness.self_time(0, 10, []) == 10
    assert harness.self_time(0, 10, [(1, 3), (5, 6)]) == 7
    # overlapping children are counted once; a child running past the
    # parent's end is clipped to it
    assert harness.self_time(0, 10, [(1, 3), (2, 4), (8, 12)]) == pytest.approx(5)
    assert harness.self_time(0, 10, [(0, 10), (2, 3)]) == 0


# -------------------------------------------------------------- steal --


def test_net_s_scales_wall_by_the_unstolen_share():
    assert harness.net_s(10.0, 8.0, 0.0) == 10.0
    # busy vCPUs ran 6 s and were stolen 2 s: a quarter of the wall
    assert harness.net_s(4.0, 6.0, 2.0) == pytest.approx(3.0)
    # an interval that used no CPU and lost none keeps its wall
    assert harness.net_s(1.5, 0.0, 0.0) == 1.5


def test_meter_reads_wall_cpu_and_steal():
    m = harness.Meter().start()
    sum(i * i for i in range(300_000))
    m.stop()
    assert m.wall_s > 0 and m.cpu_s >= 0 and m.steal_s >= 0
    assert 0 <= m.net_s <= m.wall_s


class _FakeSC:
    """Stand-in SparkContext: each job group launches `jobs[name]` jobs."""

    def __init__(self, jobs):
        self.jobs, self.group, self.groups = jobs, None, {}

    def setJobGroup(self, gid, desc):
        self.group = gid
        self.groups[gid] = desc

    def setLocalProperty(self, key, value):
        if key == "spark.jobGroup.id":
            self.group = value

    def statusTracker(self):
        sc = self

        class T:
            def getJobIdsForGroup(self, gid):
                return list(range(sc.jobs.get(sc.groups[gid], 0)))

        return T()


def test_tracer_nests_spans_and_sums_jobs_and_self_time():
    tr = harness.Tracer(_FakeSC({"root": 2, "a": 3, "b": 1}))
    with tr.span("root") as root:
        with tr.span("a"):
            with tr.span("b"):
                pass
        with tr.span("a"):
            pass
    assert [s["parent"] for s in tr.spans] == [None, 0, 1, 0]
    assert tr.total_jobs(root["id"]) == 2 + 3 + 1 + 3
    assert tr.calls_by_name(root["id"]) == {"a": 2, "b": 1}
    kids = tr.children(root["id"])
    covered = sum(k["end"] - k["start"] for k in kids)
    assert tr.self_s(root["id"]) == pytest.approx(root["end"] - root["start"] - covered)
    assert tr.sc.group is None  # the job group is cleared after the root


def test_tracer_wrap_is_undone():
    class M:
        @staticmethod
        def f(x):
            return x + 1

    tr = harness.Tracer(_FakeSC({}))
    orig = M.f
    tr.wrap(M, "f", lambda x: f"f{x}")
    assert M.f(1) == 2 and tr.spans[0]["name"] == "f1"
    tr.unwrap_all()
    assert M.f is orig


def test_disabled_tracer_records_nothing():
    tr = harness.Tracer(None)
    with tr.span("x") as rec:
        pass
    assert rec is None and tr.spans == []


# ------------------------------------------------------------ metrics --


def test_benchmark_json_names_units_and_counts():
    s = spec()
    assert set(s) == {"command", "paths", "run_seconds", "workloads", "end_to_end",
                      "per_layer"}
    assert 2 <= len(s["workloads"]) <= 8
    assert 1 <= len(s["end_to_end"]) <= 16
    assert 1 <= len(s["per_layer"]) <= 128
    names = ([w["name"] for w in s["workloads"]] + [m["name"] for m in s["end_to_end"]]
             + [m["name"] for m in s["per_layer"]])
    assert len(names) == len(set(names))
    assert all(NAME.match(n) for n in names), [n for n in names if not NAME.match(n)]
    for w in s["workloads"]:
        assert set(w) == {"name", "why"} and len(w["why"]) <= 200 and "\n" not in w["why"]
        assert w["name"] in WORKLOADS
    for m in s["end_to_end"]:
        assert set(m) == {"name", "unit", "better", "bound"} and UNIT.match(m["unit"])
        assert m["better"] in ("higher", "lower") and 0 < m["bound"] <= 0.25
        assert run.UNITS[m["name"]] == m["unit"]
    for m in s["per_layer"]:
        assert set(m) == {"name", "unit", "better"} and UNIT.match(m["unit"])
        assert m["better"] in ("higher", "lower")
    setup = next(m for m in s["end_to_end"] if m["name"] == "setup_s")
    assert setup["unit"] == "s" and setup["better"] == "lower"
    assert setup["bound"] == max(m["bound"] for m in s["end_to_end"])
    assert isinstance(s["run_seconds"], int) and 1 <= s["run_seconds"] <= 60


# -------------------------------------------------------------- smoke --


def _run(workload: str, trace: int) -> tuple[dict, list[str]]:
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
         "--seconds", "0", "--trace", str(trace), "--size", "tiny"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    lines = out.stdout.strip().splitlines()
    digests = next(json.loads(ln[len("# digests "):]) for ln in lines
                   if ln.startswith("# digests "))
    return json.loads(lines[-1]), digests


@pytest.mark.parametrize("workload", sorted(WORKLOADS))
def test_smoke_tiny_run_is_correct_and_tracing_changes_no_result(workload):
    plain, d0 = _run(workload, 0)
    traced, d1 = _run(workload, 1)
    for res in (plain, traced):
        assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1
    assert set(plain["metrics"]) == {m["name"] for m in spec()["end_to_end"]}
    assert set(traced["metrics"]) == {m["name"] for m in spec()["per_layer"]}
    assert all(m["value"] > 0 for m in plain["metrics"].values())
    assert d0 == d1


def test_exits_nonzero_without_the_engine(tmp_path):
    """In a directory holding only BENCHMARK.json and perfbench/, the
    benchmark fails fast instead of printing a result."""
    import shutil

    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(BENCH, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "tier_rollup", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
        env={k: v for k, v in os.environ.items() if k != "PYTHONPATH"},
    )
    assert out.returncode != 0
    assert out.stdout.strip() == ""
