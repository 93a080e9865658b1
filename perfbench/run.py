"""Benchmark entry point.

    python3 perfbench/run.py --workload read|corpus|all --seed N --seconds S --trace 0|1

Run from the root of a checkout of this repository. One closed-loop
client: each op starts when the previous one has finished. With
``--trace 0`` the last stdout line carries the end-to-end metrics; with
``--trace 1`` it carries the per-layer metrics, read from spans the
benchmark records around its calls into each layer and from Spark's
status tracker. Every op's output is checked; a wrong result counts as a
failed op. Inputs are generated from the seed and cached under
``perfbench/.work``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time

import harness
from harness import ROOT, Outcome, Session, Tracer, median, result_line

HERE = os.path.dirname(os.path.abspath(__file__))
WORK = os.path.join(HERE, ".work")
SETUPS = 3  # set-ups (Spark contexts) per run; setup_s is their median
WORKLOADS = ("read", "corpus")


def _check_checkout() -> str | None:
    for rel in (
        "hadoopwebgraph_spark/session.py",
        "hadoopwebgraph_spark/bvgraph/datasource.py",
        "fixtures/bvgraph/bench.properties",
        "fixtures/bench_adj.parquet",
    ):
        if not os.path.exists(os.path.join(ROOT, rel)):
            return rel
    return None


def _configure_env() -> None:
    """Start on any host without touching the package: heap from
    MemTotal, no heap pretouch, every scratch file inside the checkout,
    and the repository on the executors' Python path."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.pop("SPARK_GRAFT_PRETOUCH", None)
    os.environ.pop("SPARK_GRAFT_GRAPH_SPLITS", None)
    os.environ.update(
        {
            "SPARK_GRAFT_CPUS": str(harness.cores()),
            "SPARK_DRIVER_MEM": harness.driver_mem_for_host(),
            "SPARK_GRAFT_WAREHOUSE": os.path.join(WORK, "warehouse"),
            "SPARK_LOCAL_DIRS": os.path.join(WORK, "spark-local"),
            "TMPDIR": tmp,
            # no /tmp/hsperfdata_<user> either
            "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "PYTHONPATH": os.pathsep.join(
                p for p in (ROOT, os.environ.get("PYTHONPATH", "")) if p
            ),
            "PYSPARK_PYTHON": sys.executable,
        }
    )
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def generate(args: list[str], out: str):
    """Start the input generator unless ``out`` already holds its result.
    Returns a function that waits for it and returns the generator's own
    run time. The generator writes to a temporary name that is renamed at
    the end, so an interrupted run never leaves a half-written cache entry."""
    if os.path.exists(os.path.join(out, "expect.json")):
        return lambda: 0.0
    part = out + ".part"
    shutil.rmtree(part, ignore_errors=True)
    proc = subprocess.Popen(
        [sys.executable, os.path.join(HERE, "inputs.py"), *args, "--out", part],
        env=os.environ,
    )

    def wait() -> float:
        if proc.wait() != 0:
            raise RuntimeError(f"input generator failed: {args}")
        os.replace(part, out)
        with open(os.path.join(out, "gen_s")) as f:
            return float(f.read())

    return wait


def passes(trace: bool, k: int) -> tuple[bool, ...]:
    """Whether each run of the ``k``-th op is traced: one untraced run, or,
    in the traced run, an untraced and a traced run whose order alternates
    from op to op, so that warming up within a context favours neither."""
    if not trace:
        return (False,)
    return (False, True) if k % 2 == 0 else (True, False)


def run(workload: str, seed: int, seconds: float, trace: bool) -> int:
    if workload == "read":
        import wl_read as wl
    else:
        import wl_corpus as wl

    steal0, total0 = harness.cpu_ticks()
    host = {
        "cores": harness.cores(),
        "mem_total_kb": harness.mem_total_kb(),
        "loadavg_start": os.getloadavg(),
    }
    outcome = Outcome()
    tracer = Tracer(enabled=trace)
    w = wl.Workload(seed, WORK, outcome, tracer)
    w.prepare(generate)  # generation overlaps the first JVM start

    session = Session()
    groups = harness.JobGroups() if trace else None
    setup_s: list[float] = []
    samples: dict[str, list[float]] = {"a": [], "b": []}
    traced_s = untraced_s = loop_s = 0.0
    n_ops = cycle = k_op = 0
    try:
        # Each set-up starts a fresh Spark context. The first context only
        # warms up: the JVM is still compiling and its ops run up to 40%
        # slower. The timed loop is split over the other contexts, so each
        # run pools ops from several contexts, whose steady-state speeds
        # differ by up to ~25% on a 4-core VM.
        for k in range(SETUPS):
            session.stop()  # the previous context's teardown is not set-up
            t0 = time.perf_counter()
            spark = session.start()
            wait_s = 0.0
            if k == 0:
                t1 = time.perf_counter()
                harness_s = w.ready()
                wait_s = time.perf_counter() - t1
            w.setup(spark)
            setup_s.append(time.perf_counter() - t0 - wait_s)
            if k == 0:
                t1 = time.perf_counter()
                w.warm(spark)  # untimed: whole-output checks, first compiles
                warm_s = time.perf_counter() - t1
                continue
            if groups is not None:
                groups.sc = spark.sparkContext

            t_seg = time.perf_counter()
            while True:  # whole cycles, at least one
                # The traced run runs each op twice, untraced and traced; the
                # two runs' times give the tracing overhead.
                for op in w.cycle(cycle):
                    for traced in passes(trace, k_op):
                        tracer.enabled = traced
                        label = f"op{n_ops}.{op.kind}.{op.name}"
                        if traced:
                            dt = harness.run_op(op, spark, outcome, label, tracer, groups)
                            traced_s += dt
                        else:
                            dt = harness.run_op(op, spark, outcome, label)
                            untraced_s += dt
                        samples[op.kind].append(dt)
                        w.record(op, dt, label if traced else None)
                        n_ops += 1
                    k_op += 1
                cycle += 1
                if time.perf_counter() - t_seg >= seconds / (SETUPS - 1):
                    break
            loop_s += time.perf_counter() - t_seg
            tracer.enabled = trace  # set-ups and probes are traced in a traced run
        host["peak_rss_mb"] = session.peak_rss_mb()  # before any probe

        if trace:
            layer = w.probes(spark, groups)
            layer["trace.overhead_ratio"] = traced_s / untraced_s
            layer["bench.op_self_s"] = median(
                [tracer.self_time(s.sid) for s in tracer.spans if s.parent is None and s.op]
            )
            layer["session.start_s"] = median(session.start_s)
            layer["session.cold_start_s"] = session.start_s[0]
            layer["session.peak_rss_mb"] = host["peak_rss_mb"]
            layer["native.loaded"] = float(w.native_loaded())

        host.update(session.facts())
    finally:
        session.shutdown()

    steal1, total1 = harness.cpu_ticks()
    host["steal_pct"] = 100.0 * (steal1 - steal0) / max(1, total1 - total0)
    host["native.loaded"] = w.native_loaded()
    detail = {
        "workload": workload,
        "seed": seed,
        "host": host,
        "harness_s": harness_s,
        "setup_each_s": setup_s,
        "warm_s": warm_s,
        "session_start_each_s": session.start_s,
        "loop_s": loop_s,
        "samples": {k: len(v) for k, v in samples.items()},
        "tails": {k: harness.tail(v) for k, v in samples.items()},
        **w.detail,
        "ops": w.op_log,
        "notes": outcome.notes[:20],
    }
    os.makedirs(WORK, exist_ok=True)
    with open(os.path.join(WORK, f"last-{workload}-trace{int(trace)}.json"), "w") as f:
        json.dump({**detail, "spans": tracer.dump()}, f)
    print(json.dumps({k: v for k, v in detail.items() if k != "ops"}))

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if trace:
        # a layer this workload does not exercise reads 0
        values = layer
        names = spec["per_layer"]
    else:
        values = {
            "setup_s": median(setup_s),
            "ops_per_s": n_ops / loop_s,
            "ops_ok_ratio": (outcome.attempted - outcome.failed) / outcome.attempted,
            "op_a_s.p50": median(samples["a"]),
            "op_b_s.p50": median(samples["b"]),
        }
        names = spec["end_to_end"]
        assert set(values) == {m["name"] for m in names}, "BENCHMARK.json out of step"
    metrics = {m["name"]: (values.get(m["name"], 0.0), m["unit"]) for m in names}
    print(result_line(outcome, metrics))
    return 0


def run_all(argv: list[str]) -> int:
    """Every workload, each in a fresh process, with the same arguments."""
    rc = 0
    for name in WORKLOADS:
        args = [sys.executable, os.path.abspath(__file__), *argv, "--workload", name]
        p = subprocess.run(args, stdout=subprocess.PIPE, text=True)
        lines = p.stdout.strip().splitlines()
        print(f"{name}: {lines[-1] if lines else '(no result)'}", flush=True)
        rc = rc or p.returncode or (0 if lines and json.loads(lines[-1])["correct"] else 1)
    return rc


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description="hadoopwebgraph_spark benchmark")
    ap.add_argument("--workload", required=True, choices=(*WORKLOADS, "all"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)
    missing = _check_checkout()
    if missing:
        print(f"perfbench: not a checkout of the repository ({missing} missing)", file=sys.stderr)
        return 2
    if a.workload == "all":
        rest = ["--seed", str(a.seed), "--seconds", str(a.seconds), "--trace", str(a.trace)]
        return run_all(rest)
    _configure_env()
    return run(a.workload, a.seed, a.seconds, bool(a.trace))


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
