"""Workload-independent parts of the benchmark: the op record, the input
cache, the result line, the percentile rule, spans, Spark job-group
counters, the host record and the Spark session lifecycle.

Importing this module starts nothing; Spark is imported only inside the
functions that need it.
"""

from __future__ import annotations

import json
import math
import os
import re
import resource
import shutil
import statistics
import time
from contextlib import contextmanager
from dataclasses import dataclass, field
from typing import Any, Callable

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))  # the checkout
KEEP_INPUTS = 10  # cached input sets kept per kind (a read set, at most 4, is ~170 MB)
NAME_RE = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")
UNIT_RE = re.compile(r"[A-Za-z0-9_/%.-]{1,16}")

# Percentiles a tail may be reported at, highest last.
TAIL_PERCENTILES = (50.0, 90.0, 95.0, 99.0, 99.9)


@dataclass
class Op:
    kind: str  # "a" or "b": which end-to-end latency metric it feeds
    name: str
    run: Callable[[Any], Any]  # spark -> result
    check: Callable[[Any], bool]  # result -> correct?


def input_dir(work: str, prefix: str, key: str) -> str:
    """``work/inputs/<prefix>-<key>``, evicting the oldest other sets of
    this prefix beyond KEEP_INPUTS so the cache stays small."""
    root = os.path.join(work, "inputs")
    os.makedirs(root, exist_ok=True)
    mine = os.path.join(root, f"{prefix}-{key}")
    others = sorted(
        (os.path.join(root, d) for d in os.listdir(root) if d.startswith(prefix + "-")),
        key=os.path.getmtime,
    )
    others = [d for d in others if d != mine]
    for d in others[: max(0, len(others) - (KEEP_INPUTS - 1))]:
        shutil.rmtree(d, ignore_errors=True)
    if os.path.exists(mine):
        os.utime(mine)
    return mine


def check_name(name: str) -> str:
    """Return ``name`` if it is a valid metric name, else raise."""
    if not NAME_RE.fullmatch(name):
        raise ValueError(f"invalid metric name {name!r}")
    return name


def percentile(samples: list[float], p: float) -> float:
    """Nearest-rank percentile (the value at rank ceil(p/100 * n))."""
    if not samples:
        raise ValueError("percentile of no samples")
    s = sorted(samples)
    return s[max(1, _rank(p, len(s))) - 1]


def _rank(p: float, n: int) -> int:
    # the epsilon keeps 99.9% of 10000 at rank 9990, not 9991
    return math.ceil(p * n / 100.0 - 1e-9)


def tail(samples: list[float]) -> tuple[float, float, int] | None:
    """The highest percentile in TAIL_PERCENTILES that has at least ten
    samples beyond it, as (percentile, value, sample count), or None when
    even the median has fewer than ten samples above it."""
    n = len(samples)
    best = None
    for p in TAIL_PERCENTILES:
        if n - _rank(p, n) >= 10:
            best = (p, percentile(samples, p), n)
    return best


def median(samples: list[float]) -> float:
    return statistics.median(samples)


# ---------------------------------------------------------------------------
# spans


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    op: str | None
    sid: int


@dataclass
class Tracer:
    """In-memory spans (name, start, end, parent, op id). A disabled
    tracer records nothing and costs one branch per span."""

    enabled: bool
    spans: list[Span] = field(default_factory=list)
    _stack: list[int] = field(default_factory=list)

    @contextmanager
    def span(self, name: str, op: str | None = None):
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        if op is None and parent is not None:
            op = self.spans[parent].op
        s = Span(name, time.perf_counter(), math.nan, parent, op, sid)
        self.spans.append(s)
        self._stack.append(sid)
        try:
            yield
        finally:
            self._stack.pop()
            s.end = time.perf_counter()

    def durations(self, name: str) -> list[float]:
        return [s.end - s.start for s in self.spans if s.name == name]

    def self_time(self, sid: int) -> float:
        return self_time(self.spans, sid)

    def dump(self) -> list[dict]:
        return [
            {"name": s.name, "start": s.start, "end": s.end, "parent": s.parent, "op": s.op}
            for s in self.spans
        ]


def self_time(spans: list[Span], sid: int) -> float:
    """A span's duration minus the part of its interval that its direct
    children cover (overlapping children count once)."""
    me = spans[sid]
    ivs = sorted(
        (max(c.start, me.start), min(c.end, me.end))
        for c in spans
        if c.parent == sid
    )
    covered, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in ivs:
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
    return (me.end - me.start) - covered


# ---------------------------------------------------------------------------
# Spark job groups


@dataclass
class JobCounts:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    failed_tasks: int = 0


class JobGroups:
    """One Spark job group per op; counts come from the public
    ``sparkContext.statusTracker()``."""

    def __init__(self):
        self.sc = None  # the current SparkContext; set after each start
        self.counts: dict[str, JobCounts] = {}

    @contextmanager
    def group(self, gid: str):
        self.sc.setJobGroup(gid, gid)
        try:
            yield
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.counts[gid] = self._collect(gid)

    def _collect(self, gid: str) -> JobCounts:
        tracker = self.sc.statusTracker()
        jobs = tracker.getJobIdsForGroup(gid)
        # listener events land asynchronously; wait (up to 2 s) for every
        # job to reach a terminal state
        for _ in range(200):
            infos = [tracker.getJobInfo(j) for j in jobs]
            if all(i is None or i.status in ("SUCCEEDED", "FAILED") for i in infos):
                break
            time.sleep(0.01)
        c = JobCounts(jobs=len(jobs))
        for i in infos:
            if i is None:
                continue
            for sid in i.stageIds:
                st = tracker.getStageInfo(sid)
                if st is None or st.numCompletedTasks + st.numFailedTasks == 0:
                    continue  # skipped (reused shuffle output)
                c.stages += 1
                c.tasks += st.numCompletedTasks
                c.failed_tasks += st.numFailedTasks
        return c


# ---------------------------------------------------------------------------
# host record


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies from the aggregate line of /proc/stat."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    return vals[7] if len(vals) > 7 else 0, sum(vals[:8])


def mem_total_kb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1])
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def driver_mem_for_host() -> str:
    """A quarter of physical memory, at most the 24g the package defaults
    to, so the driver heap can be committed on any host."""
    mb = min(mem_total_kb() // 1024 // 4, 24 * 1024)
    return f"{max(mb, 512)}m"


def cores() -> int:
    return len(os.sched_getaffinity(0))


def vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def python_maxrss_mb() -> float:
    return resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0


# ---------------------------------------------------------------------------
# Spark session lifecycle


class Session:
    """Owns the Spark session of one benchmark run: timed set-ups, the
    JVM's pid for memory readings, and a shutdown that waits for the JVM
    to exit."""

    def __init__(self):
        self.spark = None
        self.start_s: list[float] = []

    def start(self):
        from hadoopwebgraph_spark.session import get_spark

        t0 = time.perf_counter()
        self.spark = get_spark("perfbench")
        self.start_s.append(time.perf_counter() - t0)
        self.spark.sparkContext.setLogLevel("ERROR")
        return self.spark

    def stop(self) -> None:
        """Stop the current Spark context, if any; the JVM stays up."""
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def jvm_pid(self) -> int:
        return int(self.spark._jvm.java.lang.ProcessHandle.current().pid())

    def peak_rss_mb(self) -> float:
        return vm_hwm_mb(self.jvm_pid()) + python_maxrss_mb()

    def facts(self) -> dict:
        import pyarrow

        jvm = self.spark._jvm
        return {
            "java": str(jvm.java.lang.System.getProperty("java.version")),
            "spark": self.spark.version,
            "pyarrow": pyarrow.__version__,
            "driver_heap_max_mb": int(jvm.java.lang.Runtime.getRuntime().maxMemory())
            // (1 << 20),
            "spark.driver.memory": self.spark.conf.get("spark.driver.memory"),
        }

    def shutdown(self) -> None:
        if self.spark is None:
            return
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        self.spark.stop()
        self.spark = None
        if gateway is None:
            return
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            # the JVM exits when its stdin closes; wait for it
            proc.stdin.close()
            proc.wait(timeout=60)


# ---------------------------------------------------------------------------
# result


@dataclass
class Outcome:
    attempted: int = 0
    failed: int = 0
    checks_ok: bool = True
    notes: list[str] = field(default_factory=list)

    def op(self, ok: bool, what: str = "") -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            if what:
                self.notes.append(what)


def run_op(op, spark, outcome: Outcome, label: str, tracer=None, groups=None) -> float:
    """Run one op, check its output and count it. An op that raises or
    returns a wrong result is a failed op. With a tracer, the op gets a
    span and a Spark job group. Returns the op's seconds, check included."""
    t0 = time.perf_counter()
    try:
        if tracer is not None:
            with tracer.span(op.name, op=label), groups.group(label):
                res = op.run(spark)
        else:
            res = op.run(spark)
        ok = bool(op.check(res))
        what = f"{label}: wrong result"
    except Exception as e:  # counted as a failed op; the loop goes on
        ok = False
        what = f"{label}: {type(e).__name__}: {e}"
    dt = time.perf_counter() - t0
    outcome.op(ok, what)
    return dt


def result_line(outcome: Outcome, metrics: dict[str, tuple[float, str]]) -> str:
    """The last stdout line: correct/attempted/failed/metrics."""
    out = {}
    for name, (value, unit) in metrics.items():
        check_name(name)
        if not UNIT_RE.fullmatch(unit):
            raise ValueError(f"invalid unit {unit!r} for {name}")
        v = float(value)
        if not math.isfinite(v):
            raise ValueError(f"metric {name} is not finite: {value!r}")
        out[name] = {"value": v, "unit": unit}
    return json.dumps(
        {
            "correct": bool(outcome.checks_ok and outcome.failed == 0),
            "attempted": int(outcome.attempted),
            "failed": int(outcome.failed),
            "metrics": out,
        }
    )
