"""The ``read`` workload: full scans and ``src`` lookups of a generated
2M-node graph (``gen_xl_adjacency``, 27.0M arcs) through
``queries.graph.graph_df``.

One cycle is one full scan (op a) then four lookups (op b): two 500-node
ranges and two sets of 5 sparse ids. Full scans put the decode kernel, the reader
and the Arrow-to-JVM boundary on the critical path; lookups decode almost
nothing, so plan time, pruning and per-task fixed cost dominate them.

The traced run adds layer probes after the timed loop: the kernel and the
reader without Spark, the planner, scans at two split counts, the parquet
floor, and the sink (``copy_bvgraph`` / ``write_bvgraph`` on a 500k-node
graph), which this workload's timed ops do not reach.
"""

from __future__ import annotations

import json
import os
import shutil
import time

import numpy as np
from harness import Op, input_dir, median
from inputs import lookup_stats

NODES = 2_000_000
SINK_NODES = 500_000
# Generating and encoding a 2M-node graph takes ~12 s here, about a fifth
# of a run, so the graph is one of GRAPHS variants (seed mod GRAPHS),
# cached per checkout; the lookup keys are drawn from the seed itself.
GRAPHS = 4
LOOKUP_NODES = 500  # consecutive nodes in one range lookup
POINT_IDS = 5  # sparse ids in one point lookup
# Lookups vary by ~25% from one to the next (each starts Python planner
# processes), so a cycle runs a range and a point lookup for each of
# PLANS_PER_CYCLE lookup plans.
PLANS_PER_CYCLE = 2


class Workload:
    def __init__(self, seed: int, work: str, outcome, tracer):
        self.seed = seed
        self.graph_seed = seed % GRAPHS
        self.work = work
        self.outcome = outcome
        self.tracer = tracer
        self.op_log: list[tuple[str, float, str | None]] = []  # (op, seconds, job group)
        self.detail: dict = {}

    # -- inputs and set-up -------------------------------------------------

    def prepare(self, generate) -> None:
        self.generate = generate
        self.dir = input_dir(self.work, "read", f"n{NODES}-g{self.graph_seed}")
        self._wait = generate(
            ["graph", "--nodes", str(NODES), "--seed", str(self.graph_seed)], self.dir
        )

    def ready(self) -> float:
        t = self._wait()
        with open(os.path.join(self.dir, "expect.json")) as f:
            self.expect = json.load(f)
        self.list_offsets = np.load(os.path.join(self.dir, "offsets.npy"), mmap_mode="r")
        self.adj_sums = np.load(os.path.join(self.dir, "adj_sums.npy"), mmap_mode="r")
        self.basename = os.path.join(self.dir, "g")
        return t

    def setup(self, spark) -> None:
        """The first plan (offsets fold), then one full scan and one
        lookup: the first of each in a Spark context pays the start of
        Python planner and worker processes (about 2.5 s each here)."""
        scan, _, point = self.cycle(-1)[:3]
        for op in (scan, point):
            if not op.check(op.run(spark)):
                self._fail(f"set-up {op.name}: wrong result")

    def warm(self, spark) -> None:
        pass  # set-up's scan is the warm-up

    def native_loaded(self) -> bool:
        from hadoopwebgraph_spark.bvgraph import native

        return native.get_lib() is not None

    # -- ops ---------------------------------------------------------------

    def _scan(self, spark):
        from pyspark.sql import functions as F

        from hadoopwebgraph_spark.queries.graph import graph_df

        with self.tracer.span("queries.graph.graph_df"):
            df = graph_df(spark, self.basename)
        with self.tracer.span("spark.collect"):
            r = df.select(
                F.sum(F.size("adj")).alias("m"),
                F.sum(F.col("src").cast("long") * F.size("adj")).alias("w"),
            ).collect()[0]
        return [int(r.m), int(r.w)]

    def _lookup(self, spark, cond):
        from pyspark.sql import functions as F

        from hadoopwebgraph_spark.queries.graph import graph_df

        with self.tracer.span("queries.graph.graph_df"):
            df = graph_df(spark, self.basename)
        with self.tracer.span("spark.collect"):
            r = (
                df.filter(cond(F.col("src")))
                .select(
                    F.count(F.lit(1)),
                    F.sum(F.size("adj")),
                    F.sum(F.aggregate("adj", F.lit(0).cast("long"), lambda acc, x: acc + x)),
                    F.sum(F.col("src").cast("long") * F.size("adj")),
                )
                .collect()[0]
            )
        return [int(v or 0) for v in r]

    def cycle(self, i: int) -> list[Op]:
        """A full scan, then a range and a point lookup for each of two
        lookup plans. Cycle -1 is the set-up's."""
        e = self.expect
        ops = [Op("a", "scan", self._scan, lambda r: r == [e["sum_deg"], e["sum_src_deg"]])]
        for k in range(PLANS_PER_CYCLE):
            ops += self._lookups(self.plan((i + 1) * PLANS_PER_CYCLE + k))
        return ops

    def plan(self, j: int) -> dict:
        """Lookup plan ``j`` of this seed: a 500-node range and 5 sparse
        ids, each with its expected [rows, sum deg, sum adj, sum src*deg]
        from the generator's CSR."""
        n = self.expect["nodes"]
        rng = np.random.default_rng([self.seed, 1, j])
        a = int(rng.integers(0, n - LOOKUP_NODES))
        ids = sorted(int(x) for x in rng.choice(n, POINT_IDS, replace=False))
        return {
            "range": [a, a + LOOKUP_NODES],
            "range_expect": lookup_stats(
                self.list_offsets, self.adj_sums, np.arange(a, a + LOOKUP_NODES)
            ),
            "ids": ids,
            "ids_expect": lookup_stats(self.list_offsets, self.adj_sums, ids),
        }

    def _lookups(self, plan: dict) -> list[Op]:
        a, b = plan["range"]
        ids = plan["ids"]
        return [
            Op(
                "b",
                "range",
                lambda s: self._lookup(s, lambda c: (c >= a) & (c < b)),
                lambda r: r == plan["range_expect"],
            ),
            Op(
                "b",
                "point",
                lambda s: self._lookup(s, lambda c: c.isin(ids)),
                lambda r: r == plan["ids_expect"],
            ),
        ]

    def record(self, op: Op, seconds: float, group: str | None) -> None:
        """Log an op; ``group`` is its Spark job group, None when untraced."""
        self.op_log.append((op.name, seconds, group))

    # -- layer probes (traced run only) ------------------------------------

    def probes(self, spark, groups) -> dict:
        m: dict[str, float] = {}
        span = self.tracer.span
        cores = spark.sparkContext.defaultParallelism

        def counts(names):
            return [groups.counts[g] for n, _, g in self.op_log if n in names and g]

        scans, lookups = counts({"scan"}), counts({"range", "point"})
        m["scan.tasks"] = median([c.tasks for c in scans])
        m["scan.failed_tasks"] = sum(c.failed_tasks for c in scans)
        m["lookup.tasks"] = median([c.tasks for c in lookups])
        m["lookup.jobs"] = median([c.jobs for c in lookups])
        m["lookup.failed_tasks"] = sum(c.failed_tasks for c in lookups)
        # op times from the untraced passes: no spans, no job-group polling
        scan_s = median([s for n, s, g in self.op_log if n == "scan" and g is None])
        m["scan.arcs_per_s"] = self.expect["arcs"] / scan_s
        m["graph.graph_df_s"] = median(self.tracer.durations("queries.graph.graph_df"))

        with span("probe.kernel_reader"):
            m.update(self._kernel_and_reader(cores, scan_s))
        with span("probe.plan"):
            m.update(self._plan(cores))
        with span("probe.scan"):
            m.update(self._scan_layers(spark, groups, cores, scan_s, m["scan.tasks"]))
        with span("probe.sink"):
            m.update(self._sink(spark, groups))
        return m

    def _kernel_and_reader(self, cores: int, scan_s: float) -> dict:
        from hadoopwebgraph_spark.bvgraph import native
        from hadoopwebgraph_spark.bvgraph.bitio import pad
        from hadoopwebgraph_spark.bvgraph.datasource import BVGraphReader
        from hadoopwebgraph_spark.bvgraph.io import read_bytes, read_text
        from hadoopwebgraph_spark.bvgraph.properties import parse_properties

        p = parse_properties(read_text(self.basename + ".properties"))
        padded = pad(read_bytes(self.basename + ".graph"))
        with self.tracer.span("native.decode_range"):
            t0 = time.perf_counter()
            res = native.decode_range(padded, p, 0, p.nodes)
            kernel_s = time.perf_counter() - t0
        out: dict[str, float] = {}
        kernel_ok = res is not None and len(res[0]) == p.arcs
        if kernel_ok:
            out["native.decode_arcs_per_s"] = p.arcs / kernel_s
        else:
            self._fail("native.decode_range did not return every arc")

        reader = BVGraphReader({"basename": self.basename, "numsplits": "1"})
        (part,) = reader.partitions()
        with self.tracer.span("datasource.read"):
            t0 = time.perf_counter()
            arcs = sum(len(b.column(1).values) for b in reader.read(part))
            reader_s = time.perf_counter() - t0
        if arcs != p.arcs:
            self._fail(f"BVGraphReader.read yielded {arcs} arcs, expected {p.arcs}")
        out["reader.arcs_per_s"] = arcs / reader_s
        if kernel_ok:
            out["reader.over_kernel"] = reader_s / kernel_s
        out["scan.over_reader"] = scan_s / (reader_s / cores)
        return out

    def _plan(self, cores: int) -> dict:
        from pyspark.sql.datasource import GreaterThanOrEqual, LessThan

        from hadoopwebgraph_spark.bvgraph.codec import load_offsets
        from hadoopwebgraph_spark.bvgraph.datasource import BVGraphReader
        from hadoopwebgraph_spark.bvgraph.ef import EliasFanoOffsets
        from hadoopwebgraph_spark.bvgraph.io import read_bytes, read_text
        from hadoopwebgraph_spark.bvgraph.properties import parse_properties

        out: dict[str, float] = {}
        with self.tracer.span("plan.offsets_fold"):
            t0 = time.perf_counter()
            p = parse_properties(read_text(self.basename + ".properties"))
            EliasFanoOffsets(load_offsets(read_bytes(self.basename + ".offsets"), p))
            out["plan.offsets_fold_s"] = time.perf_counter() - t0

        def reader(splits):
            return BVGraphReader({"basename": self.basename, "numsplits": str(splits)})

        reader(cores).partitions()  # warm the plan cache
        times = []
        for _ in range(5):
            r = reader(cores)
            with self.tracer.span("plan.partitions"):
                t0 = time.perf_counter()
                r.partitions()
                times.append(time.perf_counter() - t0)
        out["plan.partitions_s"] = median(times)

        a, b = self.plan(0)["range"]
        for splits, name in ((cores, "plan.lookup_partitions"), (64, "plan.lookup_partitions_64")):
            r = reader(splits)
            r.pushFilters([GreaterThanOrEqual(("src",), a), LessThan(("src",), b)])
            out[name] = len(r.partitions())
        return out

    def _scan_layers(self, spark, groups, cores: int, scan_s: float, scan_tasks: float) -> dict:
        """Scans at 4x cores splits against the loop's scans at cores
        splits, and the same aggregate over the parquet twin."""
        from pyspark.sql import functions as F

        from hadoopwebgraph_spark.benchlib import xl_scan_agg

        e = self.expect
        twin = os.path.join(self.dir, "adj.parquet")
        ts, tasks = [], []
        for k in range(2):
            g = f"probe.scan{4 * cores}.{k}"
            with self.tracer.span(g), groups.group(g):
                t0 = time.perf_counter()
                mw = xl_scan_agg(spark, self.basename, 4 * cores)
                ts.append(time.perf_counter() - t0)
            if list(mw) != [e["sum_deg"], e["sum_src_deg"]]:
                self._fail(f"scan at {4 * cores} splits: wrong checksum")
            tasks.append(groups.counts[g].tasks)
        out = {"scan.task_fixed_s": (median(ts) - scan_s) / max(1, median(tasks) - scan_tasks)}
        ts = []
        for k in range(2):
            with self.tracer.span("scan.parquet_floor"):
                t0 = time.perf_counter()
                r = (
                    spark.read.parquet(twin)
                    .select(
                        F.sum(F.size("adj")).alias("m"),
                        F.sum(F.col("src").cast("long") * F.size("adj")).alias("w"),
                    )
                    .collect()[0]
                )
                ts.append(time.perf_counter() - t0)
            if [int(r.m), int(r.w)] != [e["sum_deg"], e["sum_src_deg"]]:
                self._fail("parquet twin scan: wrong checksum")
        out["scan.parquet_floor_s"] = median(ts)
        return out

    def _sink(self, spark, groups) -> dict:
        """Copy (aligned, no shuffle) and write-from-parquet (range
        shuffle + encode) of a 500k-node graph; outputs are decoded again
        and compared with the generator's CSR outside the timed calls."""
        import numpy as np

        from hadoopwebgraph_spark.benchlib import xl_scan_agg
        from hadoopwebgraph_spark.bvgraph import io, native
        from hadoopwebgraph_spark.bvgraph.bitio import pad
        from hadoopwebgraph_spark.bvgraph.codec import encode_segment_csr
        from hadoopwebgraph_spark.bvgraph.properties import BVGraphProperties, parse_properties
        from hadoopwebgraph_spark.bvgraph.sink import copy_bvgraph, write_bvgraph

        src_dir = input_dir(self.work, "sink", f"n{SINK_NODES}-g{self.graph_seed}")
        self.generate(
            ["graph", "--nodes", str(SINK_NODES), "--seed", str(self.graph_seed)], src_dir
        )()
        src = os.path.join(src_dir, "g")
        p = parse_properties(io.read_text(src + ".properties"))
        values, list_offsets, _ = native.decode_range(
            pad(io.read_bytes(src + ".graph")), p, 0, p.nodes
        )

        out: dict[str, float] = {}
        # encode kernel over the first 100k nodes (the whole graph would
        # take several seconds on one core)
        k = 100_000
        with self.tracer.span("codec.encode_segment_csr"):
            t0 = time.perf_counter()
            encode_segment_csr(
                values[: list_offsets[k]], list_offsets[: k + 1], 0, BVGraphProperties(nodes=k, arcs=0)
            )
            out["native.encode_arcs_per_s"] = int(list_offsets[k]) / (time.perf_counter() - t0)

        dst_root = os.path.join(self.work, "sink-out")
        shutil.rmtree(dst_root, ignore_errors=True)
        os.makedirs(dst_root)

        def check(basename: str, what: str) -> int:
            q = parse_properties(io.read_text(basename + ".properties"))
            data = io.read_bytes(basename + ".graph")
            got = native.decode_range(pad(data), q, 0, q.nodes)
            if (
                q.arcs != p.arcs
                or got is None
                or not (np.array_equal(got[0], values) and np.array_equal(got[1], list_offsets))
            ):
                self._fail(f"sink {what}: output does not decode to its input")
            return len(data)

        with self.tracer.span("sink.scan"), groups.group("sink.scan"):
            t0 = time.perf_counter()
            xl_scan_agg(spark, src, spark.sparkContext.defaultParallelism)
            scan_s = time.perf_counter() - t0

        with self.tracer.span("sink.copy_bvgraph"), groups.group("sink.copy"):
            t0 = time.perf_counter()
            copy_bvgraph(spark, src, os.path.join(dst_root, "copy"))
            out["sink.copy_s"] = time.perf_counter() - t0
        check(os.path.join(dst_root, "copy"), "copy")

        with self.tracer.span("sink.write_bvgraph"), groups.group("sink.write"):
            t0 = time.perf_counter()
            write_bvgraph(
                spark.read.parquet(os.path.join(src_dir, "adj.parquet")),
                os.path.join(dst_root, "write"),
                n_nodes=p.nodes,
            )
            out["sink.write_s"] = time.perf_counter() - t0
        nbytes = check(os.path.join(dst_root, "write"), "write")

        out["sink.copy.tasks"] = groups.counts["sink.copy"].tasks
        out["sink.write.tasks"] = groups.counts["sink.write"].tasks
        out["sink.failed_tasks"] = (
            groups.counts["sink.copy"].failed_tasks + groups.counts["sink.write"].failed_tasks
        )
        out["sink.copy_over_scan"] = out["sink.copy_s"] / scan_s
        out["sink.bytes_out"] = nbytes
        out["sink.bits_per_arc"] = 8 * nbytes / p.arcs

        data = io.read_bytes(os.path.join(dst_root, "copy.graph"))
        with self.tracer.span("io.write_bytes"):
            t0 = time.perf_counter()
            io.write_bytes(os.path.join(dst_root, "raw.bin"), data)
            out["io.write_mb_per_s"] = len(data) / (1 << 20) / (time.perf_counter() - t0)
        shutil.rmtree(dst_root, ignore_errors=True)
        return out

    def _fail(self, what: str) -> None:
        self.outcome.checks_ok = False
        self.outcome.notes.append(what)
