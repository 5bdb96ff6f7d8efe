"""Shared machinery of the benchmark: pinned run environment, spans with
Spark job groups, percentile rules, the process-tree RSS sampler and the
meter that takes host steal out of a timing (`Meter`, `net_s`).

Nothing here changes engine code. Layers are measured from outside: a
span is opened around a call into a layer's public function, either
directly in a workload or by temporarily replacing the module attribute
the engine calls through (`Tracer.wrap`), and every span tags the Spark
jobs it launches with its own job group so their count can be read back
from `SparkContext.statusTracker()` (which works with the UI off).
"""

from __future__ import annotations

import contextlib
import functools
import json
import os
import statistics
import threading
import time

#: percentiles a tail may be reported at, highest first
TAIL_GRID = (0.999, 0.99, 0.95, 0.9, 0.75, 0.5)
#: samples that must lie beyond a reported tail percentile
TAIL_MIN_BEYOND = 10


# ------------------------------------------------------------- stats --


def median(values) -> float:
    vals = list(values)
    return float(statistics.median(vals)) if vals else 0.0


def quantile(values, q: float) -> float:
    """Linear-interpolation quantile (numpy's default 'linear' method)."""
    v = sorted(values)
    if not v:
        raise ValueError("quantile of no samples")
    pos = q * (len(v) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(v) - 1)
    return v[lo] + (v[hi] - v[lo]) * (pos - lo)


def tail_percentile(values) -> tuple[float, float, int] | None:
    """The highest percentile on TAIL_GRID that has at least
    TAIL_MIN_BEYOND samples beyond it: (q, value, sample count), or None
    when even the median has too few samples beyond it."""
    n = len(values)
    for q in TAIL_GRID:
        if round(n * (1.0 - q), 6) >= TAIL_MIN_BEYOND:
            return q, quantile(values, q), n
    return None


# ------------------------------------------------------------- spans --


def self_time(start: float, end: float, children: list[tuple[float, float]]) -> float:
    """A span's duration minus the part of [start, end) its children
    cover (children are clipped to the parent and their union counted
    once, so overlapping or nested children are not subtracted twice)."""
    covered = 0.0
    cur_lo = cur_hi = None
    for lo, hi in sorted((max(a, start), min(b, end)) for a, b in children):
        if hi <= lo:
            continue
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                covered += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        covered += cur_hi - cur_lo
    return (end - start) - covered


class Tracer:
    """In-memory spans. Disabled (`sc=None`), `span` only yields, so the
    untraced run pays nothing and launches the same Spark jobs."""

    def __init__(self, sc=None):
        self.sc = sc
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._patched: list[tuple[object, str, object]] = []
        self.overhead_s = 0.0

    @property
    def enabled(self) -> bool:
        return self.sc is not None

    def _set_group(self, sid: int | None) -> None:
        if sid is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(f"perfbench-{sid}", self.spans[sid]["name"])

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        t0 = time.perf_counter()
        sid = len(self.spans)
        rec = {"id": sid, "name": name,
               "parent": self._stack[-1] if self._stack else None,
               "start": 0.0, "end": 0.0, "jobs": 0, **attrs}
        self.spans.append(rec)
        self._stack.append(sid)
        self._set_group(sid)
        rec["start"] = time.perf_counter()
        self.overhead_s += rec["start"] - t0
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            rec["jobs"] = len(
                self.sc.statusTracker().getJobIdsForGroup(f"perfbench-{sid}")
            )
            self._stack.pop()
            self._set_group(self._stack[-1] if self._stack else None)
            self.overhead_s += time.perf_counter() - rec["end"]

    def wrap(self, owner, attr: str, name) -> None:
        """Replace `owner.attr` by a wrapper that runs the original inside
        a span. `name` is a span name or a function of the call's
        arguments returning one. Undone by `unwrap_all`."""
        orig = getattr(owner, attr)
        namer = name if callable(name) else (lambda *a, **k: name)

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            with self.span(namer(*args, **kwargs)):
                return orig(*args, **kwargs)

        self._patched.append((owner, attr, orig))
        setattr(owner, attr, wrapper)

    def count_calls(self, owner, attr: str, counter: dict, key: str) -> None:
        """Replace `owner.attr` by a wrapper that only counts calls."""
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            counter[key] = counter.get(key, 0) + 1
            return orig(*args, **kwargs)

        self._patched.append((owner, attr, orig))
        setattr(owner, attr, wrapper)

    def unwrap_all(self) -> None:
        while self._patched:
            owner, attr, orig = self._patched.pop()
            setattr(owner, attr, orig)

    # -- reductions over one root span -------------------------------

    def children(self, sid: int) -> list[dict]:
        return [s for s in self.spans if s["parent"] == sid]

    def descendants(self, sid: int) -> list[dict]:
        out, todo = [], [sid]
        while todo:
            kids = self.children(todo.pop())
            out += kids
            todo += [k["id"] for k in kids]
        return out

    def self_s(self, sid: int) -> float:
        s = self.spans[sid]
        return self_time(s["start"], s["end"],
                         [(c["start"], c["end"]) for c in self.children(sid)])

    def total_jobs(self, sid: int) -> int:
        return self.spans[sid]["jobs"] + sum(d["jobs"] for d in self.descendants(sid))

    def time_by_name(self, sid: int) -> dict[str, float]:
        """Summed wall of every descendant span, by name."""
        out: dict[str, float] = {}
        for d in self.descendants(sid):
            out[d["name"]] = out.get(d["name"], 0.0) + d["end"] - d["start"]
        return out

    def calls_by_name(self, sid: int) -> dict[str, int]:
        out: dict[str, int] = {}
        for d in self.descendants(sid):
            out[d["name"]] = out.get(d["name"], 0) + 1
        return out

    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump({**extra, "spans": self.spans}, f, indent=1)


# --------------------------------------------------------------- RSS --


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except (FileNotFoundError, ProcessLookupError, PermissionError):
        pass
    return 0


def _children_of(pids: set[int]) -> set[int]:
    out = set()
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except (FileNotFoundError, ProcessLookupError, PermissionError):
            continue
        if int(fields[1]) in pids:
            out.add(int(name))
    return out


def tree_rss_mb(root: int) -> float:
    """Summed resident set of `root` and all its descendants (the Python
    driver, its Spark JVM and the JVM's Python workers)."""
    seen, frontier = {root}, {root}
    while frontier:
        frontier = _children_of(frontier) - seen
        seen |= frontier
    return sum(_rss_kb(p) for p in seen) / 1024.0


def tree_cpu_s(root: int) -> float:
    """CPU seconds (user + system) spent by `root` and its descendants:
    the live processes' own time plus what they reaped from children
    that exited (the Spark JVM's Python workers). Time the host gave to
    other guests (steal) is not in it."""
    seen, frontier = {root}, {root}
    while frontier:
        frontier = _children_of(frontier) - seen
        seen |= frontier
    ticks = 0
    for p in seen:
        try:
            with open(f"/proc/{p}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except (FileNotFoundError, ProcessLookupError, PermissionError):
            continue
        ticks += sum(int(x) for x in fields[11:15])
    return ticks / os.sysconf("SC_CLK_TCK")


def net_s(wall: float, cpu: float, steal: float) -> float:
    """`wall` net of the time the hypervisor took from the benchmark's
    busy vCPUs. Steal only accrues on a vCPU that has work to run, so
    over an interval in which the process tree used `cpu` seconds and
    the host stole `steal`, the busy vCPUs were stolen a share
    steal / (cpu + steal) of the time; the wall that share stretched
    is scaled back by it. Equal to `wall` on a host that steals
    nothing."""
    return wall * cpu / (cpu + steal) if cpu + steal > 0 else wall


class Meter:
    """Wall, process-tree CPU and host steal over one interval:
    `start()`, then `stop()`, then `wall_s`, `cpu_s`, `steal_s` and
    `net_s`. The wall excludes the meter's own /proc reads."""

    def start(self) -> "Meter":
        self._c0 = tree_cpu_s(os.getpid())
        self._s0 = cpu_steal_s()
        self._t0 = time.perf_counter()
        return self

    def stop(self) -> "Meter":
        self.wall_s = time.perf_counter() - self._t0
        self.cpu_s = tree_cpu_s(os.getpid()) - self._c0
        self.steal_s = cpu_steal_s() - self._s0
        self.net_s = net_s(self.wall_s, self.cpu_s, self.steal_s)
        return self


class RssSampler:
    """Background thread sampling the process tree's RSS; `peak_mb` is
    the largest sample. Use as a context manager: the thread is joined
    on exit."""

    def __init__(self, interval_s: float = 0.25):
        self.interval_s = interval_s
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="rss-sampler",
                                        daemon=True)

    def _loop(self) -> None:
        pid = os.getpid()
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, tree_rss_mb(pid))
            self._stop.wait(self.interval_s)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)
        self.peak_mb = max(self.peak_mb, tree_rss_mb(os.getpid()))
        return False


# ------------------------------------------------------- environment --


def disk_probe_mbps(directory: str, mb: int = 32) -> float:
    """Sequential write + fsync throughput of `directory`'s disk."""
    path = os.path.join(directory, "disk_probe.bin")
    blob = os.urandom(1 << 20)
    t0 = time.perf_counter()
    fd = os.open(path, os.O_CREAT | os.O_WRONLY | os.O_TRUNC, 0o644)
    try:
        for _ in range(mb):
            os.write(fd, blob)
        os.fsync(fd)
    finally:
        os.close(fd)
        os.unlink(path)
    return mb / max(time.perf_counter() - t0, 1e-9)


def cpu_steal_s() -> float:
    """CPU time this (virtual) host's CPUs have lost to other guests since
    boot, summed over CPUs: a run with a large delta shared its cores."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK") if len(fields) > 8 else 0.0


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            if not f.startswith((".", "_")):
                total += os.path.getsize(os.path.join(root, f))
    return total
