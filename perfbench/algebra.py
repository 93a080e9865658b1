"""Graph-algebra layer probes for the traced run: HyperANF
(``graph_algos.neighborhood_function`` with the ``benchlib.hyperanf_3hop``
parameters) and the recursive-CTE reachability (g13) on the committed
bench fixture, each checked against DuckDB. They are iterative
shuffle/join/aggregate jobs whose one-time decode is memoized, so they
ride with the ``corpus`` workload's query algebra rather than the scan
path.
"""

from __future__ import annotations

import json
import os
import time

from harness import ROOT

ANF_LG_K = 11
# a sketch's relative standard error is 1.04/sqrt(2^lg_k); allow three
ANF_TOLERANCE = 3 * 1.04 / (2**ANF_LG_K) ** 0.5


def probe(spark, groups, tracer, work: str, fail) -> dict:
    """HyperANF (3 hops, lg_k 11) and recursive-CTE reachability on the
    committed bench fixture, each checked against DuckDB."""
    from pyspark.sql import functions as F

    from hadoopwebgraph_spark.benchlib import hyperanf_3hop
    from hadoopwebgraph_spark.bvgraph.io import read_text
    from hadoopwebgraph_spark.bvgraph.properties import parse_properties
    from hadoopwebgraph_spark.queries.graph import edges_df, g13_reachability_recursive_cte
    from hadoopwebgraph_spark.queries.graph_algos import neighborhood_function

    bench = os.path.join(ROOT, "fixtures", "bvgraph", "bench")
    twin = os.path.join(ROOT, "fixtures", "bench_adj.parquet")
    saved = os.environ.get("SPARK_GRAFT_GRAPH_BASENAME")
    os.environ["SPARK_GRAFT_GRAPH_BASENAME"] = bench
    out: dict[str, float] = {}
    try:
        with tracer.span("graph.edges_df"):
            t0 = time.perf_counter()
            edges_df(spark).count()
            out["graph.edges_decode_s"] = time.perf_counter() - t0

        with tracer.span("graph_algos.neighborhood_function"), groups.group("anf"):
            t0 = time.perf_counter()
            nf = hyperanf_3hop(spark)
            out["anf.s"] = time.perf_counter() - t0
        exact = anf_exact(twin, work)
        if len(nf) != len(exact) or any(
            abs(a - b) > ANF_TOLERANCE * b for a, b in zip(nf, exact)
        ):
            fail(f"HyperANF N(t) {nf} outside {ANF_TOLERANCE:.3f} of exact {exact}")

        # one hop alone: the per-hop cost is the 3-hop run minus it
        n = parse_properties(read_text(bench + ".properties")).nodes
        with tracer.span("graph_algos.neighborhood_function_1hop"):
            t0 = time.perf_counter()
            neighborhood_function(
                edges_df(spark),
                nodes=spark.range(n).select(F.col("id").alias("node")),
                max_hops=1,
                lg_k=ANF_LG_K,
            )
            one_hop = time.perf_counter() - t0
        out["anf.hop_s"] = (out["anf.s"] - one_hop) / max(1, len(nf) - 2)

        with tracer.span("graph.g13_reachability"), groups.group("reach"):
            t0 = time.perf_counter()
            rows = sorted(
                tuple(r) for r in g13_reachability_recursive_cte(spark, "").collect()
            )
            out["reach.s"] = time.perf_counter() - t0
        if rows != reach_exact(twin):
            fail("g13 reachability differs from the DuckDB recursive CTE")
    finally:
        if saved is None:
            os.environ.pop("SPARK_GRAFT_GRAPH_BASENAME", None)
        else:
            os.environ["SPARK_GRAFT_GRAPH_BASENAME"] = saved
    for name, g in (("anf", "anf"), ("reach", "reach")):
        c = groups.counts[g]
        out[f"{name}.stages"] = c.stages
        out[f"{name}.tasks"] = c.tasks
        out[f"{name}.failed_tasks"] = c.failed_tasks
    return out


def anf_exact(twin: str, work: str, hops: int = 3) -> list[float]:
    """Exact N(t), t = 0..hops: pairs (u, v) with a path of at most t arcs
    from u to v, self-loops ignored. Cached beside the inputs, keyed by
    the fixture's size and mtime."""
    st = os.stat(twin)
    cache = os.path.join(work, "inputs", f"anf-exact-{st.st_size}-{int(st.st_mtime)}.json")
    if os.path.exists(cache):
        with open(cache) as f:
            return json.load(f)
    import duckdb

    con = duckdb.connect()
    con.sql("SET threads = 4")
    con.sql("SET memory_limit = '2GB'")
    con.sql(
        "CREATE TABLE e AS SELECT DISTINCT src::BIGINT AS src, unnest(adj)::BIGINT AS dst "
        f"FROM read_parquet('{twin}')"
    )
    con.sql("DELETE FROM e WHERE src = dst")
    (n,) = con.sql(f"SELECT count(*) FROM read_parquet('{twin}')").fetchone()
    con.sql(f"CREATE TABLE r AS SELECT range AS u, range AS v FROM range({n})")
    nf = [float(n)]
    for _ in range(hops):
        con.sql(
            "CREATE OR REPLACE TABLE r AS SELECT u, v FROM r "
            "UNION SELECT r.u, e.dst FROM r JOIN e ON r.v = e.src"
        )
        nf.append(float(con.sql("SELECT count(*) FROM r").fetchone()[0]))
    con.close()
    os.makedirs(os.path.dirname(cache), exist_ok=True)
    with open(cache, "w") as f:
        json.dump(nf, f)
    return nf


def reach_exact(twin: str) -> list[tuple[int, int]]:
    """g13's result computed by DuckDB's own recursive CTE."""
    import duckdb

    con = duckdb.connect()
    rows = con.sql(
        f"""
        WITH RECURSIVE e AS (
            SELECT src, unnest(adj) AS dst FROM read_parquet('{twin}')
        ), reach(node, depth) AS (
            SELECT CAST(0 AS INTEGER), CAST(0 AS INTEGER)
            UNION ALL
            SELECT e.dst, CAST(r.depth + 1 AS INTEGER)
            FROM reach r JOIN e ON e.src = r.node
            WHERE r.depth < 3
        )
        SELECT node, CAST(min(depth) AS INTEGER) FROM reach GROUP BY node
        """
    ).fetchall()
    con.close()
    return sorted((int(a), int(b)) for a, b in rows)

