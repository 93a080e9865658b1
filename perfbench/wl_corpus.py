"""The ``corpus`` workload: a fixed rotation of registered queries over
generated star-schema tables. No BVGraph code runs, so a decode-path
change should not move it.

Op a is a relational query from ``queries.*`` (q01 q03 q14 q20 q56); op b
is an LLM-data-pipeline query from ``functions.*`` (q62 q72 q80 q92
q119). Which of them cross the Python boundary is read from each plan
(``explain()``) and reported, not assumed. The rotation's start comes
from the seed. A cycle is the whole rotation and each of the run's two
timed Spark contexts runs one cycle at the benchmark's run length, so a
run times every query twice, once in each context: a context that runs
slower than the other slows every query alike.

Once per run, outside timing, every query's full result is compared with
its ``registry.oracle_sql()`` SQL run by DuckDB over the same files; each
timed op's row count is then checked against that result. The traced run
also probes the graph algebra (``algebra.py``) after the timed loop.
"""

from __future__ import annotations

import contextlib
import datetime
import io
import math
import os
import re

import algebra
from harness import Op, input_dir, median
from inputs import SCALE
RELATIONAL = (
    "q01_pricing_summary",
    "q03_join_inner",
    "q14_cube",
    "q20_window_topk_per_group",
    "q56_shipping_priority",
)
# The embedding-cosine query is q72, not q70: q70 rounds its cosine twice
# (to 6, then 4 places), and where the 6-place value ends in 50 Spark
# rounds its decimal form up while the DuckDB oracle rounds the double
# just below the half down, so q70 differs from its oracle on about one
# generated input in ten. q72 outputs a half-up floor() of the raw
# cosine, which both engines compute bit-identically.
FUNCTIONS = (
    "q62_dedup_minhash",
    "q72_dedup_embedding",
    "q80_text_quality",
    "q92_udtf_tokenize",
    "q119_substring_dedup",
)
ROTATION = RELATIONAL + FUNCTIONS
TABLES = ("customer", "orders", "lineitem", "documents", "embeddings")
# physical-plan node names that run Python code
PYTHON_NODE = re.compile(r"Python|InPandas|InArrow|ArrowEval|BatchEval")


class Workload:
    def __init__(self, seed: int, work: str, outcome, tracer):
        self.seed = seed
        self.work = work
        self.outcome = outcome
        self.tracer = tracer
        self.op_log: list[tuple[str, float, str | None]] = []  # (op, seconds, job group)
        self.rows: dict[str, int] = {}
        self.python_plan: dict[str, bool] = {}
        self.detail = {"python_plan": self.python_plan}

    def prepare(self, generate) -> None:
        self.dir = input_dir(self.work, "corpus", f"x{SCALE}-s{self.seed}")
        self._wait = generate(["corpus", "--seed", str(self.seed)], self.dir)

    def ready(self) -> float:
        return self._wait()

    def setup(self, spark) -> None:
        """Footers of every table and q92, whose Python UDTF starts the
        Python workers."""
        from hadoopwebgraph_spark.catalog import load

        for t in TABLES:
            load(spark, self.dir, t).schema
        self._query("q92_udtf_tokenize")(spark, self.dir).toArrow()

    def native_loaded(self) -> bool:
        from hadoopwebgraph_spark.bvgraph import native

        return native.get_lib() is not None

    def _query(self, name: str):
        from hadoopwebgraph_spark.registry import all_queries

        return all_queries()[name].fn

    def warm(self, spark) -> None:
        """Run every query once and hash-match it against its oracle."""
        from hadoopwebgraph_spark.registry import oracle_sql

        oracles = oracle_sql()
        for name in ROTATION:
            df = self._query(name)(spark, self.dir)
            buf = io.StringIO()
            with contextlib.redirect_stdout(buf):
                df.explain()
            self.python_plan[name] = bool(PYTHON_NODE.search(buf.getvalue()))
            got = df.toArrow()
            self.rows[name] = got.num_rows
            cols = [c.lower() for c in got.column_names]
            want_cols, want = duckdb_rows(self.dir, oracles[name])
            if sorted(cols) != sorted(want_cols) or normalize(
                [tuple(r.values()) for r in got.to_pylist()], cols
            ) != normalize(want, want_cols):
                self._fail(f"{name}: result differs from its oracle")

    def cycle(self, i: int) -> list[Op]:
        """The rotation, which starts at the seed; the same every cycle."""
        start = self.seed % len(ROTATION)
        return [
            Op(
                "a" if name in RELATIONAL else "b",
                name,
                lambda s, name=name: self._rows(s, name),
                lambda n, name=name: n == self.rows[name],
            )
            for name in ROTATION[start:] + ROTATION[:start]
        ]

    def _rows(self, spark, name: str) -> int:
        with self.tracer.span("registry.query"):
            df = self._query(name)(spark, self.dir)
        with self.tracer.span("spark.toArrow"):
            return df.toArrow().num_rows

    def record(self, op: Op, seconds: float, group: str | None) -> None:
        """Log an op; ``group`` is its Spark job group, None when untraced."""
        self.op_log.append((op.name, seconds, group))

    def probes(self, spark, groups) -> dict:
        out: dict[str, float] = {}
        # op times from the untraced passes: no spans, no job-group polling
        per_query = {
            name: median([s for n, s, g in self.op_log if n == name and g is None])
            for name in ROTATION
        }
        for name, s in per_query.items():
            out[f"corpus.{name.split('_')[0]}_s"] = s
        out["corpus.python_plan_s"] = sum(s for n, s in per_query.items() if self.python_plan[n])
        out["corpus.jvm_plan_s"] = sum(s for n, s in per_query.items() if not self.python_plan[n])
        out["corpus.failed_tasks"] = sum(
            groups.counts[g].failed_tasks for _, _, g in self.op_log if g
        )
        out["corpus.build_s"] = median(self.tracer.durations("registry.query"))
        with self.tracer.span("probe.algebra"):
            out.update(algebra.probe(spark, groups, self.tracer, self.work, self._fail))
        return out

    def _fail(self, what: str) -> None:
        self.outcome.checks_ok = False
        self.outcome.notes.append(what)


def duckdb_rows(sf_dir: str, sql: str) -> tuple[list[str], list[tuple]]:
    import duckdb

    con = duckdb.connect()
    try:
        for t in TABLES:
            con.sql(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{os.path.join(sf_dir, t)}.parquet')"
            )
        res = con.sql(sql)
        return [c.lower() for c in res.columns], res.fetchall()
    finally:
        con.close()


def _cell(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return 0.0 if v == 0.0 else v
    if isinstance(v, datetime.datetime) and v.tzinfo is not None:
        return v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
    return v


def normalize(rows: list[tuple], cols: list[str]) -> list[tuple]:
    """Rows with columns in name order and cells made comparable, sorted:
    an order-insensitive, exact comparison of two results."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted((tuple(_cell(r[i]) for i in order) for r in rows), key=repr)

