"""Wave-59 pins: graph-routed ANN (the cluster-graph / HNSW-layer-0
probe) against structural ground truth — the routing must search the
entry cell PLUS the entry's build-time graph neighbors, strictly
widening single-probe recall toward brute force, with a duplicate-free
candidate set. Value-level equality to the SQL oracle is the
selfcheck/driver gate; these tests pin the routing semantics a hash
can't localize."""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from duckdb_distributed_execution_spark.operators.similarity import (
    brute_force_topk,
    ivf_topk,
)

SF = "/root/testdata/sf0.01"


def _parts(spark):
    e = spark.read.parquet(f"{SF}/embeddings.parquet")
    cents = e.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("cid"), "embedding"
    )
    corpus = e.filter(F.col("vec_id") >= 8)
    queries = e.filter((F.col("vec_id") >= 8) & (F.col("vec_id") < 13))
    return cents, corpus, queries


def test_graph_route_probes_entry_and_its_neighbors(spark):
    """Per query, the searched cells are exactly {entry} ∪ graph
    neighbors of entry — recomputed independently here with numpy
    from the same quantized convention."""
    cents, corpus, queries = _parts(spark)
    out = ivf_topk(corpus, queries, cents, k=10**6, graph_edges=2)
    got_cells = {}  # query -> set of cells its neighbors came from
    cent = sorted(
        (r["cid"], list(r["embedding"])) for r in cents.collect()
    )
    cids = np.asarray([c[0] for c in cent])
    C = np.asarray([c[1] for c in cent], dtype=np.float64)
    cc = np.einsum("ij,ij->i", C, C)

    def assign(V):
        vv = np.einsum("ij,ij->i", V, V)
        D = vv[:, None] - 2.0 * (V @ C.T) + cc[None, :]
        return np.argmin(np.floor(D * 1e6 + 0.5).astype(np.int64), axis=1)

    member_cell = {}
    rows = corpus.select("vec_id", "embedding").collect()
    V = np.asarray([list(r["embedding"]) for r in rows], dtype=np.float64)
    for r, ci in zip(rows, assign(V)):
        member_cell[r["vec_id"]] = int(cids[ci])
    for r in out.collect():
        got_cells.setdefault(r["query_id"], set()).add(
            member_cell[r["neighbor_id"]]
        )

    DC = (cc[:, None] - 2.0 * (C @ C.T)) + cc[None, :]
    qdc = np.floor(DC * 1e6 + 0.5).astype(np.int64)
    np.fill_diagonal(qdc, np.iinfo(np.int64).max)
    nbrs = np.argsort(qdc, axis=1, kind="stable")[:, :2]
    qrows = queries.select("vec_id", "embedding").collect()
    Qm = np.asarray([list(r["embedding"]) for r in qrows], dtype=np.float64)
    entry = assign(Qm)
    for r, ei in zip(qrows, entry):
        expect = {int(cids[ei])} | {int(cids[j]) for j in nbrs[ei]}
        # every returned neighbor must come from an expected cell, and
        # every NON-EMPTY expected cell must contribute (k unbounded)
        got = got_cells[r["vec_id"]]
        assert got <= expect, (r["vec_id"], got, expect)
        populated = {c for c in expect if c in set(member_cell.values())}
        assert got == populated, (r["vec_id"], got, populated)


def test_graph_route_widens_single_probe_recall(spark):
    """recall(single-probe) ≤ recall(graph-routed) ≤ 1, measured
    against exact brute-force cosine top-5 — and the graph route must
    search 3 cells' members, never the whole corpus."""
    cents, corpus, queries = _parts(spark)
    k = 5

    def pairs(df):
        return {(r["query_id"], r["neighbor_id"]) for r in df.collect()}

    tagged = corpus.withColumn("q", F.lit(False)).unionByName(
        queries.withColumn("q", F.lit(True))
    )
    truth = pairs(brute_force_topk(tagged, F.col("q"), k=k))
    single = pairs(ivf_topk(corpus, queries, cents, k=k, nprobe=1))
    routed = pairs(ivf_topk(corpus, queries, cents, k=k, graph_edges=2))
    r_single = len(single & truth) / len(truth)
    r_routed = len(routed & truth) / len(truth)
    assert r_routed >= r_single
    assert r_routed >= 0.5, f"graph route recall collapsed: {r_routed}"


def test_graph_route_candidates_are_duplicate_free(spark):
    cents, corpus, queries = _parts(spark)
    out = ivf_topk(corpus, queries, cents, k=10**6, graph_edges=2)
    n = out.count()
    nd = out.select("query_id", "neighbor_id").distinct().count()
    assert n == nd, "a (query, neighbor) pair was generated twice"
