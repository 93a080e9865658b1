"""Seeded inputs for the benchmark workloads, plus the expected results
the workloads check their ops against.

Run as a separate process (``python3 perfbench/inputs.py graph|corpus
...``) so that generation neither counts as set-up nor inflates the
driver's peak RSS. The same arguments always give the same files.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
from concurrent.futures import ThreadPoolExecutor

import numpy as np

THREADS = len(os.sched_getaffinity(0))  # parallel segments when encoding a graph
SCALE = 0.025  # corpus row counts, times the sf1 counts: lineitem 150k rows


# ---------------------------------------------------------------------------
# graphs


def encode_graph(values: np.ndarray, list_offsets: np.ndarray):
    """BVGraph-encode a CSR graph as THREADS window-isolated segments
    in parallel (the C kernel releases the GIL), then splice the segments
    into one bit stream. Returns (graph bytes, offsets bytes, props)."""
    from hadoopwebgraph_spark.bvgraph import native
    from hadoopwebgraph_spark.bvgraph.codec import encode_segment_csr
    from hadoopwebgraph_spark.bvgraph.properties import BVGraphProperties

    if native.get_lib() is None:
        raise RuntimeError("the C kernel did not load; inputs need it to encode")
    n = len(list_offsets) - 1
    bounds = [n * k // THREADS for k in range(THREADS + 1)]

    def encode(k):
        a, b = bounds[k], bounds[k + 1]
        lo, hi = int(list_offsets[a]), int(list_offsets[b])
        p = BVGraphProperties(nodes=b - a, arcs=0)
        return encode_segment_csr(values[lo:hi], list_offsets[a : b + 1] - lo, a, p)

    with ThreadPoolExecutor(THREADS) as ex:
        segments = list(ex.map(encode, range(THREADS)))

    acc, total, positions = 0, 0, []
    for nbits, buf, offs in segments:
        acc = (acc << nbits) | (int.from_bytes(buf, "big") >> (8 * len(buf) - nbits))
        positions.append(np.asarray(offs[:-1], dtype=np.int64) + total)
        total += nbits
    positions.append(np.array([total], dtype=np.int64))
    graph = (acc << (-total % 8)).to_bytes((total + 7) // 8, "big")
    p = BVGraphProperties(nodes=n, arcs=len(values))
    res = native.encode_deltas(np.concatenate(positions), 0, p.offset_code, p.zeta_k)
    if res is None:
        raise RuntimeError("offsets encode failed in the C kernel")
    return graph, res[1], p


def lookup_stats(list_offsets, adj_sums, nodes) -> list[int]:
    """[rows, sum deg, sum adj, sum src*deg] over the given node ids, from
    the CSR offsets and the per-node sums of the adjacency lists."""
    nodes = np.asarray(nodes, dtype=np.int64)
    deg = list_offsets[nodes + 1] - list_offsets[nodes]
    return [len(nodes), int(deg.sum()), int(adj_sums[nodes].sum()), int((nodes * deg).sum())]


def adjacency_sums(values: np.ndarray, list_offsets: np.ndarray) -> np.ndarray:
    """The sum of each node's adjacency list (0 for an empty list)."""
    deg = np.diff(list_offsets)
    sums = np.zeros(len(deg), dtype=np.int64)
    nonempty = deg > 0
    sums[nonempty] = np.add.reduceat(values, list_offsets[:-1][nonempty], dtype=np.int64)
    return sums


def make_graph(nodes: int, seed: int, out: str) -> dict:
    """Write ``out/g.{graph,offsets,properties}`` for
    ``gen_xl_adjacency(nodes, seed)``, its parquet twin ``out/adj.parquet``,
    the CSR offsets and per-node adjacency sums (``offsets.npy``,
    ``adj_sums.npy``) that lookups are checked against, and
    ``out/expect.json`` with the whole-graph checksums."""
    from hadoopwebgraph_spark.bvgraph import native
    from hadoopwebgraph_spark.bvgraph.benchgen import gen_xl_adjacency
    from hadoopwebgraph_spark.bvgraph.bitio import pad
    from hadoopwebgraph_spark.bvgraph.codec import BVGraphFiles

    os.makedirs(out, exist_ok=True)
    values, list_offsets = gen_xl_adjacency(n=nodes, seed=seed)
    graph, offsets, p = encode_graph(values, list_offsets)

    # the fixture must decode back to the generator's CSR exactly
    dec = native.decode_range(pad(graph), p, 0, nodes)
    if dec is None or not (
        np.array_equal(dec[0], values) and np.array_equal(dec[1], list_offsets)
    ):
        raise RuntimeError("generated graph does not decode to its CSR")
    BVGraphFiles(os.path.join(out, "g")).write(graph, offsets, p)
    write_twin(values, list_offsets, os.path.join(out, "adj.parquet"))

    list_offsets = list_offsets.astype(np.int64)
    np.save(os.path.join(out, "offsets.npy"), list_offsets)
    np.save(os.path.join(out, "adj_sums.npy"), adjacency_sums(values, list_offsets))

    deg = np.diff(list_offsets)
    src = np.arange(nodes, dtype=np.int64)
    expect = {
        "nodes": nodes,
        "arcs": int(len(values)),
        "sum_deg": int(deg.sum()),
        "sum_src_deg": int((src * deg).sum()),
        "sum_adj": int(values.sum(dtype=np.int64)),
        "graph_bytes": len(graph),
    }
    with open(os.path.join(out, "expect.json"), "w") as f:
        json.dump(expect, f)
    return expect


def write_twin(values, list_offsets, path: str) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    n = len(list_offsets) - 1
    table = pa.table(
        {
            "src": pa.array(np.arange(n, dtype=np.int32)),
            "adj": pa.ListArray.from_arrays(
                pa.array(list_offsets.astype(np.int32)), pa.array(values)
            ),
        }
    )
    pq.write_table(table, path)


# ---------------------------------------------------------------------------
# corpus tables (the star schema the registered queries read)

# Every column of the sf0.1 test tables was measured (perfbench/README.md,
# "Corpus inputs"): each is uniform and independent of the others, so the
# generator draws them that way, over the same ranges.
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
LANGS = ("en", "de", "es", "fr", "zh")
LANG_P = (0.4, 0.15, 0.15, 0.15, 0.15)
NEAR_COPIES = 0.05  # share of documents that are another document + " dup"
EMBED_DIM = 64


def _days(rng, lo: str, hi: str, size: int) -> np.ndarray:
    a, b = np.datetime64(lo, "D"), np.datetime64(hi, "D")
    return a + rng.integers(0, int((b - a).astype(int)) + 1, size).astype("timedelta64[D]")


def make_corpus(seed: int, out: str) -> dict:
    """Write customer, orders, lineitem, documents and embeddings parquet
    files under ``out`` with the test data's schemas and value distributions,
    at SCALE times the sf1 row counts (documents and embeddings scale with
    sf0.1 = 5000 and 2000 rows)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng([seed, 2])
    n_cust = int(150_000 * SCALE)
    n_ord = int(1_500_000 * SCALE)
    n_line = 4 * n_ord
    n_docs = int(50_000 * SCALE)
    n_vec = int(20_000 * SCALE)

    def money(lo, hi, size):
        return np.round(rng.uniform(lo, hi, size), 2)

    def pick(options, size):
        return np.array(options)[rng.integers(0, len(options), size)]

    def write(name, cols):
        pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))

    ck = np.arange(n_cust, dtype=np.int64)
    write(
        "customer",
        {
            "c_custkey": ck,
            "c_name": [f"Customer#{k:09d}" for k in ck],
            "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
            "c_acctbal": money(-999.99, 9999.99, n_cust),
            "c_mktsegment": pick(SEGMENTS, n_cust),
        },
    )

    write(
        "orders",
        {
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
            "o_orderstatus": pick(("F", "O", "P"), n_ord),
            "o_totalprice": money(1000.0, 500_000.0, n_ord),
            "o_orderdate": pa.array(
                _days(rng, "1995-01-01", "2001-08-01", n_ord).astype("datetime64[us]")
            ),
            "o_orderpriority": pick(PRIORITIES, n_ord),
        },
    )

    # rows in no order; lines per order come out Poisson(4); the ship date
    # does not depend on the order date
    write(
        "lineitem",
        {
            "l_orderkey": rng.integers(0, n_ord, n_line).astype(np.int64),
            "l_partkey": rng.integers(0, int(200_000 * SCALE), n_line).astype(np.int64),
            "l_suppkey": rng.integers(0, int(10_000 * SCALE), n_line).astype(np.int64),
            "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
            "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
            "l_extendedprice": money(900.0, 105_000.0, n_line),
            "l_discount": rng.integers(0, 11, n_line) / 100.0,
            "l_tax": rng.integers(0, 9, n_line) / 100.0,
            "l_returnflag": pick(("A", "N", "R"), n_line),
            "l_linestatus": pick(("F", "O"), n_line),
            "l_shipdate": pa.array(
                _days(rng, "1995-01-02", "2001-11-04", n_line).astype("datetime64[us]")
            ),
        },
    )

    # 10-100 words from a 30-word vocabulary; then 5% of the documents
    # become a copy of another document with " dup" appended. Two copies
    # of one document are an exact-duplicate pair.
    words = np.array(WORDS)
    texts = [
        " ".join(words[rng.integers(0, len(words), int(rng.integers(10, 101)))])
        for _ in range(n_docs)
    ]
    for i in rng.choice(n_docs, int(n_docs * NEAR_COPIES), replace=False):
        j = int(rng.integers(0, n_docs - 1))
        texts[i] = texts[j + (j >= i)] + " dup"
    doc_id = np.arange(n_docs, dtype=np.int64)
    write(
        "documents",
        {
            "doc_id": doc_id,
            "text": texts,
            "lang": np.array(LANGS)[rng.choice(len(LANGS), n_docs, p=LANG_P)],
            "source": [f"src{k % 20}" for k in doc_id],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        },
    )

    # unit vectors in random directions; labels are uniform and carry no
    # cluster structure (a vector's nearest neighbour shares its label 10%
    # of the time in the sf0.1 test data)
    emb = rng.normal(0.0, 1.0, (n_vec, EMBED_DIM))
    emb = (emb / np.linalg.norm(emb, axis=1, keepdims=True)).astype(np.float32)
    write(
        "embeddings",
        {
            "vec_id": np.arange(n_vec, dtype=np.int64),
            "embedding": pa.FixedSizeListArray.from_arrays(pa.array(emb.ravel()), EMBED_DIM).cast(
                pa.list_(pa.float32())
            ),
            "label": rng.integers(0, 10, n_vec).astype(np.int32),
        },
    )
    info = {"seed": seed, "scale": SCALE, "lineitem": n_line, "documents": n_docs}
    with open(os.path.join(out, "expect.json"), "w") as f:
        json.dump(info, f)
    return info


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    sub = ap.add_subparsers(dest="kind", required=True)
    g = sub.add_parser("graph")
    g.add_argument("--nodes", type=int, required=True)
    g.add_argument("--seed", type=int, required=True)
    g.add_argument("--out", required=True)
    c = sub.add_parser("corpus")
    c.add_argument("--seed", type=int, required=True)
    c.add_argument("--out", required=True)
    a = ap.parse_args(argv)
    t0 = time.perf_counter()
    if a.kind == "graph":
        make_graph(a.nodes, a.seed, a.out)
    else:
        make_corpus(a.seed, a.out)
    with open(os.path.join(a.out, "gen_s"), "w") as f:
        f.write(f"{time.perf_counter() - t0}\n")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
