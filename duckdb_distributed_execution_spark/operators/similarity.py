"""Similarity search API over embedding columns (array<float>).

Two paths (north-star greenfield, BASELINE.json):

- ``brute_force_topk`` — exact: the collected query set scores
  every Arrow batch of the corpus in one numpy matmul, each batch
  keeps its per-query top-k, and a rank window merges them (REPOSE's
  local-top-k-then-merge, ICDE 2021). The corpus never shuffles.
- ``lsh_topk`` — approximate scale path: random-hyperplane signatures
  bucket the corpus; candidates come only from the query's bucket
  (equi-join), then exact cosine re-ranks. An IVF variant is the same
  plan with learned centroids instead of hyperplanes.

The numpy math each operator runs per batch lives once, in the
private functions below; an operator's single-task kernel
(``_*_fused``, run below ``functions.small_input``) and its
distributed Arrow pass call the same function, so the two forms agree
by construction.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from duckdb_distributed_execution_spark.functions import (
    dot_product,
    ensure_min_parallelism,
    exact_sum,
    fused_single_task,
    l2_norm,
    local_rows_df,
    persist_tracked,
    small_input,
)
from duckdb_distributed_execution_spark.queries.vectors import (
    _hyperplanes,
    _rademacher_planes,
    lsh_bucket,
)

# Squared distances are ranked as ⌊d²·QUANT+.5⌋ longs, the convention
# the SQL oracles mirror with CAST(floor(dist*1e6+0.5) AS BIGINT).
QUANT = 1e6


def _cosine_topk(V, Vn, Q, Qn, ids, k, exclude=None):
    """Per-query top-k of the cosine block (V·Qᵀ)/(‖v‖·‖q‖) in
    (sim DESC, id ASC) order, the order of every rank window here, so
    a batch's top-k holds every global top-k row of that batch and a
    per-batch prune is exact. ``exclude`` (rows × queries, bool) sets
    cells to -inf first. Returns (query index, row index, sim) per
    kept row, grouped by query, rank order within a query."""
    S = (V @ Q.T) / np.outer(Vn, Qn)
    if exclude is not None:
        S = np.where(exclude, -np.inf, S)
    qi, ri = [np.empty(0, np.int64)], [np.empty(0, np.int64)]
    for j in range(S.shape[1]):
        order = np.lexsort((ids, -S[:, j]))[:k]
        qi.append(np.full(len(order), j))
        ri.append(order)
    qi, ri = np.concatenate(qi), np.concatenate(ri)
    return qi, ri, S[ri, qi]


def _sq_dist_q(V, vv, C, cc):
    """(d², ⌊d²·QUANT+.5⌋) per (row, centroid), d² via the oracle's
    expansion ⟨v,v⟩ − 2⟨v,c⟩ + ⟨c,c⟩ in its operation order. numpy's
    pairwise dot summation can differ from DuckDB's sequential fold in
    last ulps; ranking the quantized value makes a flipped pick a
    measure-zero boundary event, and the oracle hash would catch it."""
    D = vv[:, None] - 2.0 * (V @ C.T) + cc[None, :]
    return D, np.floor(D * QUANT + 0.5).astype(np.int64)


def _nearest(V, vv, C, cc):
    """Index of each row's nearest centroid by quantized d² (first
    minimum, so centroids sorted by id break ties to the lowest id)
    and the row's raw d² to it."""
    D, DQ = _sq_dist_q(V, vv, C, cc)
    j = np.argmin(DQ, axis=1)
    return j, D[np.arange(len(j)), j]


def _centroid_graph(C, cc, graph_edges):
    """Each centroid's ``graph_edges`` nearest OTHER centroids by
    quantized d² (stable sort: cid tie-break), as index arrays."""
    qdc = _sq_dist_q(C, cc, C, cc)[1]
    np.fill_diagonal(qdc, np.iinfo(np.int64).max)
    return np.argsort(qdc, axis=1, kind="stable")[:, :graph_edges]


def _band_planes(n_tables, band_bits, dim):
    """dim × (n_tables·band_bits) float64 matrix of the shared
    ``_rademacher_planes`` literals."""
    return np.asarray(
        _rademacher_planes(n_tables * band_bits, dim), dtype=np.float64
    ).T


def _band_keys(V, P, band_bits):
    """n × n_tables bucket ids: the sign bits of V·P, packed
    ``band_bits`` to a table."""
    S = (V @ P) >= 0.0
    weights = (1 << np.arange(band_bits)).astype(np.int64)
    return S.reshape(len(V), P.shape[1] // band_bits, band_bits) @ weights


def _bucket_pairs(order, starts, ends):
    """Every unordered pair of positions within each bucket
    ``order[starts[i]:ends[i]]``, as (ia, ib) index arrays. One
    ``triu_indices`` per distinct bucket size, and all buckets of that
    size gathered at once, instead of one per bucket."""
    sizes = ends - starts
    ia, ib = [np.empty(0, np.int64)], [np.empty(0, np.int64)]
    for m in np.unique(sizes[sizes >= 2]):
        r, c = np.triu_indices(m, k=1)
        first = starts[sizes == m][:, None]
        ia.append(order[first + r].ravel())
        ib.append(order[first + c].ravel())
    return np.concatenate(ia), np.concatenate(ib)


def _verify_cosine(A, B, threshold):
    """Row-wise cosine of two (pairs × dim) blocks (einsum dot over
    the norms): (mask of sim ≥ threshold, kept sims rounded to 4)."""
    sims = np.einsum("ij,ij->i", A, B) / (
        np.linalg.norm(A, axis=1) * np.linalg.norm(B, axis=1)
    )
    mask = sims >= threshold
    return mask, np.round(sims[mask], 4)


def _nearest_seed(V, S, Sn, seed_ids):
    """Seed id of each row's max cosine, rounded to 6 decimals before
    the argmax; seeds sorted by id, so ties go to the lowest seed id
    (the oracle's ORDER BY sim DESC, seed_id)."""
    sims = np.round(
        (V @ S.T) / np.outer(np.linalg.norm(V, axis=1), Sn), 6
    )
    return seed_ids[np.argmax(sims, axis=1)]


def _blocked_pairs(ids, V, threshold, row_block=4096):
    """Cosine pairs ≥ threshold among id-sorted rows (column index >
    row index is exactly id_a < id_b), scored ``row_block`` rows at a
    time so memory is row_block·n doubles. Returns (id_a, id_b, sim
    rounded to 4)."""
    n = len(ids)
    norms = np.linalg.norm(V, axis=1)
    cols_idx = np.arange(n)
    ia, ib, ss = [], [], []
    for s in range(0, n, row_block):
        e = min(s + row_block, n)
        S = (V[s:e] @ V.T) / np.outer(norms[s:e], norms)
        mask = (S >= threshold) & (cols_idx[None, :] > np.arange(s, e)[:, None])
        r, c = np.nonzero(mask)
        ia.append(ids[r + s])
        ib.append(ids[c])
        ss.append(np.round(S[r, c], 4))
    return np.concatenate(ia), np.concatenate(ib), np.concatenate(ss)


def _vectors(col) -> np.ndarray:
    """An Arrow batch's array column as an (n × dim) float64 matrix."""
    return np.asarray(list(col), dtype=np.float64)


def sq_l2(a, b):
    """Squared L2 distance via the expansion ‖a‖²−2⟨a,b⟩+‖b‖² —
    written with this exact operation order on both engines so the
    doubles agree bit-for-bit (the zip-fold form would differ from
    the oracle's dot-product form in the last ulp)."""
    return (
        dot_product(a, a) - F.lit(2.0) * dot_product(a, b)
    ) + dot_product(b, b)


def ivf_assign(
    corpus: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cid_col: str = "cid",
    carry_vec: bool = False,
) -> DataFrame:
    """IVF index build: assign every corpus vector to its nearest
    centroid (argmin squared-L2, centroid id as tie-break). Centroids
    broadcast; the corpus never shuffles except the argmin aggregate
    keyed by vector id. Returns (id, cid, dist); with ``carry_vec``
    the vector column rides through the aggregate too (FIRST of a
    vid-functionally-dependent column — r6: saves ivf_topk and the
    RAG serving path a whole corpus⋈assignment shuffle join)."""
    # r6 plan surgery, arithmetic-preserving: (1) the self-dots of
    # sq_l2's expansion are hoisted — ⟨v,v⟩ once per corpus ROW and
    # ⟨c,c⟩ once per centroid instead of once per (row, centroid)
    # PAIR, cutting the interpreted fold count 3× (the combine keeps
    # sq_l2's exact operation order, so the doubles are bit-identical
    # to before and to the oracle); (2) the argmin is a partial-agg
    # MIN over (dist, cid) structs — struct ordering IS the window's
    # (dist ASC, cid ASC) — so the full-corpus sort window (and its
    # row-level shuffle) becomes a map-side-combined aggregate.
    c = centroids.select(
        F.col(cid_col).alias("__cid"),
        F.col(vec_col).alias("__cv"),
        dot_product(F.col(vec_col), F.col(vec_col)).alias("__cc"),
    )
    v = corpus.select(
        F.col(id_col).alias("__vid"),
        F.col(vec_col).alias("__v"),
        dot_product(F.col(vec_col), F.col(vec_col)).alias("__vv"),
    )
    # interpreted folds run at the SCAN's parallelism; a 1-2 task
    # single-row-group input serializes the corpus×centroids pass —
    # ensure_min_parallelism restores it (no-op when already parallel)
    v = ensure_min_parallelism(v)
    dist = (
        F.col("__vv") - F.lit(2.0) * dot_product(F.col("__v"), F.col("__cv"))
    ) + F.col("__cc")
    # r7 (ADVICE): the argmin key is the QUANTIZED distance
    # ⌊d²·1e6+.5⌋ with cid tie-break — the same convention as
    # ivf_assign_numpy and the SQL oracles, so a
    # corpus assigned here can be mixed with quantized query-side
    # probes without near-tie disagreement. Raw dist rides along as
    # a payload field ((qdist, cid) is already unique per vid).
    paired = v.join(F.broadcast(c)).select(
        "__vid",
        F.struct(
            F.floor(dist * F.lit(QUANT) + F.lit(0.5)).cast("long")
            .alias("qdist"),
            F.col("__cid"),
            dist.alias("dist"),
        ).alias("__s"),
        *(["__v"] if carry_vec else []),
    )
    aggs = [F.min("__s").alias("__m")]
    if carry_vec:
        aggs.append(F.first("__v").alias("__fv"))
    out_cols = [
        F.col("__vid").alias(id_col),
        F.col("__m.__cid").alias(cid_col),
        F.col("__m.dist").alias("dist"),
    ]
    if carry_vec:
        out_cols.append(F.col("__fv").alias(vec_col))
    return paired.groupBy("__vid").agg(*aggs).select(*out_cols)


def ivf_assign_numpy(
    corpus: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cid_col: str = "cid",
) -> DataFrame:
    """Corpus-side IVF assignment as ONE numpy matmul per Arrow batch
    — no per-pair interpreted folds, no shuffle at all (the argmin is
    per-row). Returns (id, cid, dist, vec): the vector always rides
    along, since every consumer of a numpy-assigned corpus (ivf_topk
    member side, the RAG serving path) needs it next.

    Determinism contract (``_nearest``, shared with ivf_topk,
    pq_encode_numpy and query routing): d² via the oracle's exact
    expansion, quantized to ⌊d²·1e6+.5⌋ BEFORE the argmin, ties to the
    lowest centroid id — mirrored by ``ORDER BY CAST(floor(dist*1e6+
    0.5) AS BIGINT), cid`` in the IVF oracles
    (queries/vectors.py::_IVF_ASSIGN)."""
    cids, C = _sorted_vectors(centroids.select(cid_col, vec_col).collect())
    cc = np.einsum("ij,ij->i", C, C)
    dt = dict(corpus.dtypes)
    b = corpus.sparkSession.sparkContext.broadcast((cids, C, cc))

    def fn(batches):
        k_ids, K, k_cc = b.value
        for pdf in batches:
            if not len(pdf):
                continue
            V = _vectors(pdf[vec_col])
            j, dist = _nearest(V, np.einsum("ij,ij->i", V, V), K, k_cc)
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col].values,
                    cid_col: k_ids[j],
                    "dist": dist,
                    vec_col: pdf[vec_col].values,
                }
            )

    return ensure_min_parallelism(
        corpus.select(id_col, vec_col)
    ).mapInPandas(
        fn,
        schema=f"{id_col} {dt[id_col]}, {cid_col} long, dist double, "
        f"{vec_col} {dt[vec_col]}",
    )


def _sorted_vectors(rows):
    """Collected (id, vector) rows → (int64 ids, float64 matrix),
    sorted by id."""
    rows = sorted(((r[0], list(r[1])) for r in rows), key=lambda t: t[0])
    return (
        np.asarray([r[0] for r in rows], dtype=np.int64),
        np.asarray([r[1] for r in rows], dtype=np.float64),
    )


def _graph_nbrs(graph_rows, cids, graph_edges):
    """Persisted (src_cid, dst_cid, rank) graph rows → index-space
    neighbor lists in rank order, mapped through the cid sort."""
    pos = {int(c): i for i, c in enumerate(cids)}
    by_src: dict[int, list[tuple[int, int]]] = {}
    for src, dst, rank in graph_rows:
        by_src.setdefault(pos[int(src)], []).append((int(rank), pos[int(dst)]))
    return [
        [j for _, j in sorted(by_src.get(i, []))[:graph_edges]]
        for i in range(len(cids))
    ]


def _route_probes(Q, qq, C, cc, nprobe, graph_edges, graph_nbrs=None):
    """Per-query probe-cell indices under the shared quantized
    convention (``_sq_dist_q``; centroids are sorted by cid, so a
    STABLE argsort's tie-break IS the cid tie-break). Two routing
    modes, one convention:

    * nprobe (graph_edges None): the query's ``nprobe`` nearest cells.
    * GRAPH routing (wave 59): the probe set is the query's ENTRY
      cell plus that cell's precomputed graph neighbors — the
      cluster-graph / HNSW-layer-0 pattern real retrieval stacks use.
      The index-build artifact is the centroid k-NN graph (each
      centroid's ``graph_edges`` nearest OTHER centroids by the same
      quantized d², cid tie-break); at query time the expansion is a
      table lookup, not a distance rank — unlike nprobe multiprobe,
      the runner-up cells come from the GRAPH (build-time, query-
      independent), so adding recall never re-ranks centroids per
      query. Entry ∉ its own neighbor list by construction, so the
      probe set is duplicate-free.

    ``graph_nbrs`` (r9) is a PRECOMPUTED (n_cells × graph_edges)
    index-space neighbor array — the persisted ``{index}__graph``
    build artifact, mapped cid→position by the caller. When provided,
    graph routing is a pure table lookup (no centroid-pairwise
    distance recompute at serve time), so serving always walks exactly
    the edges the build committed."""
    if graph_edges is None:
        qd = _sq_dist_q(Q, qq, C, cc)[1]
        return np.argsort(qd, axis=1, kind="stable")[:, :nprobe]
    if graph_nbrs is None:
        graph_nbrs = _centroid_graph(C, cc, graph_edges)
    entry = _nearest(Q, qq, C, cc)[0]
    nbrs = np.asarray(graph_nbrs, dtype=np.int64)
    return np.concatenate([entry[:, None], nbrs[entry]], axis=1)


def centroid_graph_edges(C, cc, graph_edges: int):
    """The persisted form of the wave-59 index-build artifact:
    (src_idx, dst_idx, rank) rows of each centroid's ``graph_edges``
    nearest other centroids — the same quantized ranking
    _route_probes walks at query time."""
    nbrs = _centroid_graph(C, cc, graph_edges)
    return [
        (int(i), int(j), r + 1)
        for i in range(len(C))
        for r, j in enumerate(nbrs[i])
    ]


def _probe_topk(ids, cell, V, Vn, a_qids, a_Q, a_Qn, c2q, k):
    """One batch of IVF probe scoring: each cell's rows against the
    queries probing that cell, per-query top-k (``_cosine_topk``).
    Returns a (query_id, neighbor_id, sim) frame, or None."""
    out_q, out_n, out_s = [], [], []
    for c in np.unique(cell):
        qidx = c2q.get(int(c))
        if qidx is None:
            continue
        m = cell == c
        mi = ids[m]
        qi, ri, sim = _cosine_topk(V[m], Vn[m], a_Q[qidx], a_Qn[qidx], mi, k)
        out_q.append(a_qids[qidx[qi]])
        out_n.append(mi[ri])
        out_s.append(sim)
    if not out_q:
        return None
    return pd.DataFrame(
        {
            "query_id": np.concatenate(out_q),
            "neighbor_id": np.concatenate(out_n),
            "sim": np.concatenate(out_s),
        }
    )


def _rank_topk(cand: DataFrame, k: int, key: str = "query_id") -> DataFrame:
    """Merge per-batch top-k candidates: rank by (sim DESC,
    neighbor_id ASC) within ``key`` and keep ranks 1..k."""
    w = Window.partitionBy(key).orderBy(
        F.col("sim").desc(), F.col("neighbor_id")
    )
    return cand.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )


def _cell_queries(probe_idx, cids):
    """cid → array of query indices probing that cell."""
    cell_to_q: dict[int, list[int]] = {}
    for qi, cells in enumerate(probe_idx):
        for ci in cells:
            cell_to_q.setdefault(int(cids[ci]), []).append(qi)
    return {c: np.asarray(v) for c, v in cell_to_q.items()}


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    nprobe: int = 1,
    graph_edges: int | None = None,
) -> DataFrame:
    """IVF probe: route each query to its ``nprobe`` nearest centroid
    cells and rank only those cells' members by cosine — candidates
    shrink by ~n_cells/nprobe× vs brute force. Each corpus vector
    lives in exactly one cell and the probed cells are distinct, so
    no (query, neighbor) pair is generated twice.

    r7 (sf1 watchlist): the probe SCORING stage is one numpy matmul
    per Arrow batch with a per-cell query mask — the same
    brute_force_topk shape, restricted to each batch row's own
    cell — replacing the interpreted JVM dot-product fold over the
    (member × probing-query) join that dominated the sf1 wall
    (ann_ivf_multiprobe_topk 4.11× vs DuckDB in the r6 table). Query
    routing happens on the DRIVER over the bounded query set with the
    exact quantized convention the oracles use (⌊d²·1e6+.5⌋, cid
    tie-break — assignment ranks can never disagree at a near-tie);
    the corpus still never shuffles, and assignment + scoring are now
    FUSED into a single mapInPandas pass (second r7 cut: two chained
    Arrow stages paid the serialize/deserialize round trip on the
    full (id, cid, vec) corpus twice — the fused pass assigns the
    batch with the same quantized argmin, then scores it, so the
    corpus crosses the Arrow boundary once and only per-batch top-k
    survivors (queries × k × n_batches rows) reach the rank window.
    The assignment is ivf_assign_numpy's ``_nearest`` and the scoring
    ivf_serve_topk's ``_probe_topk``."""
    # ONE driver job fetches BOTH bounded sides (centroids + query
    # set) — they are usually two filters of the same scan, and two
    # sequential collect() jobs paid the per-job floor twice (a
    # measurable slice of the toy-scale wall; at 100 TB it's two
    # cluster round trips instead of one).
    tagged = centroids.select(
        F.lit(1).alias("__side"),
        F.col("cid").cast("long").alias("__id"),
        F.col(vec_col).alias("__v"),
    ).unionByName(
        queries.select(
            F.lit(2).alias("__side"),
            F.col(id_col).cast("long").alias("__id"),
            F.col(vec_col).alias("__v"),
        )
    )
    rows = tagged.collect()
    cids, C = _sorted_vectors(
        (r["__id"], r["__v"]) for r in rows if r["__side"] == 1
    )
    cc = np.einsum("ij,ij->i", C, C)
    qrows = [(r["__id"], list(r["__v"])) for r in rows if r["__side"] == 2]
    qids = np.asarray([r[0] for r in qrows], dtype=np.int64)
    Q = np.asarray([r[1] for r in qrows], dtype=np.float64)
    qq = np.einsum("ij,ij->i", Q, Q)
    probe_idx = _route_probes(Q, qq, C, cc, nprobe, graph_edges)
    dt = dict(corpus.dtypes)
    b = corpus.sparkSession.sparkContext.broadcast(
        (qids, Q, np.sqrt(qq), _cell_queries(probe_idx, cids), cids, C, cc)
    )

    def run(batches):
        a_qids, a_Q, a_Qn, c2q, k_ids, K, k_cc = b.value
        for pdf in batches:
            if not len(pdf):
                continue
            V = _vectors(pdf[vec_col])
            vv = np.einsum("ij,ij->i", V, V)
            cell = k_ids[_nearest(V, vv, K, k_cc)[0]]
            out = _probe_topk(
                pdf[id_col].values, cell, V, np.sqrt(vv),
                a_qids, a_Q, a_Qn, c2q, k,
            )
            if out is not None:
                yield out

    cand = ensure_min_parallelism(
        corpus.select(id_col, vec_col)
    ).mapInPandas(
        run,
        schema=f"query_id long, neighbor_id {dt[id_col]}, sim double",
    )
    return _rank_topk(cand, k)


def ivf_serve_topk(
    cells: DataFrame,
    queries: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cid_col: str = "cid",
    k: int = 5,
    nprobe: int = 1,
    graph_edges: int | None = None,
    graph_rows: list[tuple] | None = None,
) -> DataFrame:
    """Top-k serving from a PRE-ASSIGNED cell table (wave 61 — the
    persisted-index path): unlike ivf_topk, the corpus is NOT
    re-assigned per query batch — ``cells`` already carries
    (id, cid, vec) from the index build, so serving is: route the
    bounded query set driver-side (same quantized convention +
    optional graph routing via _route_probes), push ``cid IN probed``
    into the cells SCAN (the cells table is written cid-sorted at
    build time, so parquet row-group min/max stats prune unprobed
    cells' row groups — at 100 TB the scan reads only the probed
    cells' files), then ONE masked numpy matmul per Arrow batch
    (``_probe_topk``, the same scoring as ivf_topk), so build+serve
    equals assign+probe bit-for-bit."""
    cids, C = _sorted_vectors(centroids.select(cid_col, vec_col).collect())
    cc = np.einsum("ij,ij->i", C, C)
    qrows = [
        (r[id_col], list(r[vec_col]))
        for r in queries.select(id_col, vec_col).collect()
    ]
    qids = np.asarray([r[0] for r in qrows], dtype=np.int64)
    Q = np.asarray([r[1] for r in qrows], dtype=np.float64)
    qq = np.einsum("ij,ij->i", Q, Q)
    graph_nbrs = None
    if graph_rows is not None and graph_edges is not None:
        graph_nbrs = _graph_nbrs(graph_rows, cids, graph_edges)
    probe_idx = _route_probes(Q, qq, C, cc, nprobe, graph_edges,
                              graph_nbrs=graph_nbrs)
    c2q = _cell_queries(probe_idx, cids)
    dt = dict(cells.dtypes)
    b = cells.sparkSession.sparkContext.broadcast((qids, Q, np.sqrt(qq), c2q))

    def run(batches):
        a_qids, a_Q, a_Qn, a_c2q = b.value
        for pdf in batches:
            if not len(pdf):
                continue
            V = _vectors(pdf[vec_col])
            out = _probe_topk(
                pdf[id_col].values, pdf[cid_col].values, V,
                np.sqrt(np.einsum("ij,ij->i", V, V)),
                a_qids, a_Q, a_Qn, a_c2q, k,
            )
            if out is not None:
                yield out

    # the serve-time scan: ONLY probed cells — this filter reaches the
    # parquet scan (cells is cid-sorted at build time, so row-group
    # stats prune everything else)
    scan = cells.select(id_col, cid_col, vec_col).filter(
        F.col(cid_col).isin([int(c) for c in sorted(c2q)])
    )
    cand = ensure_min_parallelism(scan).mapInPandas(
        run,
        schema=f"query_id long, neighbor_id {dt[id_col]}, sim double",
    )
    return _rank_topk(cand, k)


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    n_planes: int = 8,
    dim: int = 64,
) -> DataFrame:
    """Approximate top-k: candidates restricted to the query's LSH
    bucket, then exact cosine rank within candidates.

    Scale ``n_planes`` with log2(corpus): bucket occupancy is
    ~n / 2^n_planes and same-bucket pair work is quadratic in
    occupancy (measured on a 10× corpus probe: 8 planes / 256
    buckets holds to ~10⁵ vectors; add a plane per corpus doubling
    to keep occupancy constant — recall is then tuned back via
    multi-table OR-construction, the standard LSH trade)."""
    planes = _hyperplanes(n_planes, dim)
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("__cv"),
        l2_norm(F.col(vec_col)).alias("__cn"),
        lsh_bucket(F.col(vec_col), planes).alias("__bucket"),
    )
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("__qv"),
        l2_norm(F.col(vec_col)).alias("__qn"),
        lsh_bucket(F.col(vec_col), planes).alias("__bucket"),
    )
    sims = c.join(F.broadcast(q), on="__bucket").select(
        "query_id",
        "neighbor_id",
        (dot_product(F.col("__qv"), F.col("__cv"))
         / (F.col("__qn") * F.col("__cn"))).alias("sim"),
    )
    return _rank_topk(sims, k)


def cosine_banded_candidates(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    block_col: str | None = "label",
    n_tables: int = 16,
    band_bits: int = 12,
    dim: int = 64,
) -> DataFrame:
    """Sub-quadratic candidate generation for embedding-cosine dedup:
    multi-table random-hyperplane LSH (AND within a table over
    ``band_bits`` sign bits, OR across ``n_tables`` tables). A pair is
    a candidate iff it collides in ANY table (within its block).

    Plan shape: ONE Arrow-batched numpy pass computes every table's
    bucket id (a single (n x dim) @ (dim x n_tables*band_bits) matmul
    + bit packing — the round-3 form built n_tables*band_bits
    interpreted higher-order-function folds per row and recomputed
    them on both join sides; the matmul pass cut the sf0.1 headline
    from ~12.7 s to well under 1 s), emitting n_tables narrow
    (id, block, table, bucket) rows per vector; then a bucket-equi
    self-join and a DISTINCT on the pair id. Work is Σ occupancy² per
    (block, table, bucket), never all-pairs; at 100 TB you add band
    bits per corpus doubling to hold occupancy constant and add
    tables to buy the recall back (the standard AND/OR LSH trade,
    Indyk-Motwani). Planes are seeded iid Rademacher signs
    (queries/vectors.py::_rademacher_planes — the structured integer
    planes measured recall 0.909 where iid theory predicts 0.96+).

    Bucket membership never appears in output VALUES (it only selects
    candidates), so the numpy matmul cannot drift a cross-engine
    hash; the exact-verify stage keeps the sequential-fold form that
    matches the oracle bit-for-bit.

    Parameter regime (see queries/pipeline13.py header for the full
    algebra): this is a HIGH-threshold (>= ~0.7) near-dup tool. At
    low thresholds the output itself is Theta(n^2) and no candidate
    filter helps — use the exact blocked form instead.

    Reference has no ANN/dedup surface (north star, BASELINE.json);
    the exact contract this approximates is dedup_embedding_cosine
    (queries/llm.py)."""
    P = _band_planes(n_tables, band_bits, dim)
    block = F.col(block_col) if block_col else F.lit(0)
    prepared = df.select(
        F.col(id_col).alias("__id"),
        block.alias("__blk"),
        F.col(vec_col).alias("__vec"),
    )
    id_t, blk_t = dict(prepared.dtypes)["__id"], dict(prepared.dtypes)["__blk"]

    def run(batches):
        for pdf in batches:
            n = len(pdf)
            if not n:
                continue
            B = _band_keys(_vectors(pdf["__vec"]), P, band_bits)  # n x T
            yield pd.DataFrame(
                {
                    "__id": np.repeat(pdf["__id"].values, n_tables),
                    "__blk": np.repeat(pdf["__blk"].values, n_tables),
                    "__t": np.tile(
                        np.arange(n_tables, dtype=np.int32), n
                    ),
                    "__bk": B.reshape(-1),
                }
            )

    sig = prepared.mapInPandas(
        run, schema=f"__id {id_t}, __blk {blk_t}, __t int, __bk long"
    )
    # Both self-join sides consume sig; without a persist the matmul
    # pass (scan + Arrow round-trip) runs twice (the physical plan
    # shows two MapInPandas nodes). Lazy MEMORY_AND_DISK persist —
    # narrow (id, blk, table, bucket) rows, n_tables per vector — is
    # the same convention as minhash_lsh_pairs: no extra up-front
    # job, lineage survives block loss; the cached blocks live until
    # Engine.release_operator_caches() (r10 — tracked persist, same as
    # the other dedup operators' mid-pipeline persists).
    from pyspark.storagelevel import StorageLevel

    sig = persist_tracked(sig, StorageLevel.MEMORY_AND_DISK)
    a = sig.select(
        F.col("__id").alias("id_a"), "__blk", "__t", "__bk"
    )
    b = sig.select(
        F.col("__id").alias("id_b"), "__blk", "__t", "__bk"
    )
    return (
        a.join(b, on=["__blk", "__t", "__bk"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


def cosine_banded_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    block_col: str | None = "label",
    threshold: float = 0.8,
    n_tables: int = 16,
    band_bits: int = 12,
    dim: int = 64,
    plant: tuple | None = None,
) -> DataFrame:
    """LSH candidates → exact cosine verify ≥ threshold. The verify
    step is exact, so precision is 1.0 by construction; recall is the
    candidate-generation recall (see cosine_banded_candidates).
    Returns (id_a, id_b, sim) with sim rounded to 4 decimals.
    ``plant`` = (every, shift_scale, id_offset) runs over the
    plant_near_dups corpus of ``df`` instead of ``df``.

    Below the scale gate (``small_input(df)``) the whole pipeline
    runs as one task (_cosine_banded_pairs_fused, planting included).
    Above it the bucketed self-join feeds the Arrow-batched SIMD
    verify (cosine_verify_numpy — 3.1x faster than the interpreted
    fold at 200k pairs). numpy's pairwise summation can differ from
    DuckDB's sequential fold in the last ulps, so a pair whose cosine
    sits within an ulp of the threshold or of a 4-decimal rounding tie
    could differ from the oracle; none has been observed."""
    if small_input(df):
        return _cosine_banded_pairs_fused(
            df, id_col, vec_col, block_col, threshold, n_tables,
            band_bits, dim, plant,
        )
    if plant is not None:
        every, shift_scale, id_offset = plant
        df = plant_near_dups(
            df, id_col, vec_col, every, shift_scale, id_offset, dim
        )
    cand = cosine_banded_candidates(
        df, id_col, vec_col, block_col, n_tables, band_bits, dim
    )
    # BROADCAST the narrow (id -> vector) side of both verify joins:
    # candidate pairs are 2 ids wide, and a shuffle join here would
    # ship dim*8-byte vectors through a PAIR-count-sized exchange —
    # measured at the 100x probe (a corpus of 100-way near-identical
    # replicas, ~1.5e8 candidates): the vector-carrying shuffle wrote
    # >60 GB of spill and filled the disk. With the broadcast, pair
    # rows pick their vectors map-side and no pair-sized vector
    # exchange exists. The broadcast is the corpus id->vector map
    # (n*dim*8 bytes; ~1 MB at sf0.1, ~120 MB at the 100x probe) —
    # beyond broadcastable corpus sizes, shard the verify by block
    # (IVF cell / label) or carry vectors through the bucket join
    # itself (the oracle's sig shape) instead.
    v = df.select(F.col(id_col).alias("__vid"), F.col(vec_col).alias("__v"))
    sims = cand.join(
        F.broadcast(
            v.select(F.col("__vid").alias("id_a"), F.col("__v").alias("__va"))
        ),
        on="id_a",
    ).join(
        F.broadcast(
            v.select(F.col("__vid").alias("id_b"), F.col("__v").alias("__vb"))
        ),
        on="id_b",
    )
    return cosine_verify_numpy(
        sims.select("id_a", "id_b", "__va", "__vb"), threshold=threshold
    )


def _cosine_banded_pairs_fused(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    block_col: str | None = "label",
    threshold: float = 0.8,
    n_tables: int = 16,
    band_bits: int = 12,
    dim: int = 64,
    plant: tuple | None = None,
) -> DataFrame:
    """Single-task form of ``cosine_banded_pairs`` for corpora below
    the scale gate (guide
    §1.2/§2.4: at toy scale the distributed plan is pure fixed cost —
    6 jobs: sig persist materialization, a bucket broadcast, the
    pair-distinct exchange, two verify-map broadcasts each re-scanning
    the corpus through interpreted cast/zip_with HOFs, and the verify
    Arrow pass). This form runs the SAME numpy functions —
    ``_band_keys`` over the shared ``_rademacher_planes`` literals,
    per-(block, table, bucket) collision pairs, ``_verify_cosine`` —
    in ONE mapInPandas task over the coalesced corpus: zero
    exchanges, zero broadcasts, one Arrow boundary.

    ``plant`` = (every, shift_scale, id_offset) additionally folds
    plant_near_dups into the kernel: clone = f64(v) + c·f64(roll(v))
    — the same two IEEE-double ops per element in the same order as
    the JVM zip_with (elementwise casts and +/* are deterministic, so
    the planted vectors are bit-identical)."""
    P = _band_planes(n_tables, band_bits, dim)
    thr = float(threshold)
    blk_cols = [block_col] if block_col else []
    sel = df.select(id_col, *blk_cols, vec_col)
    id_t = dict(sel.dtypes)[id_col]

    def kernel(pdf):
        ids = pdf[id_col].to_numpy()
        blk = (
            pdf[block_col].to_numpy()
            if block_col
            else np.zeros(len(pdf), dtype=np.int64)
        )
        V = _vectors(pdf[vec_col])
        if plant is not None:
            every, shift_scale, id_offset = plant
            m = (ids % every) == 0
            C = V[m] + float(shift_scale) * np.roll(V[m], -1, axis=1)
            ids = np.concatenate([ids, ids[m] + id_offset])
            blk = np.concatenate([blk, blk[m]])
            V = np.vstack([V, C])
        n = len(ids)
        B = _band_keys(V, P, band_bits)  # n x T
        ia_parts: list = []
        ib_parts: list = []
        for t in range(n_tables):
            order = np.lexsort((B[:, t], blk))
            bs, bb = blk[order], B[order, t]
            bounds = np.flatnonzero(
                np.r_[True, (bs[1:] != bs[:-1]) | (bb[1:] != bb[:-1]), True]
            )
            ia, ib = _bucket_pairs(order, bounds[:-1], bounds[1:])
            ia_parts.append(ia)
            ib_parts.append(ib)
        ia = np.concatenate(ia_parts)
        ib = np.concatenate(ib_parts)
        if not len(ia):
            return None
        ida, idb = ids[ia], ids[ib]
        swap = ida > idb
        ia[swap], ib[swap] = ib[swap], ia[swap]
        uniq = np.unique(ia.astype(np.int64) * n + ib)
        ia, ib = uniq // n, uniq % n
        mask, sims = _verify_cosine(V[ia], V[ib], thr)
        return pd.DataFrame(
            {"id_a": ids[ia[mask]], "id_b": ids[ib[mask]], "sim": sims}
        )

    return fused_single_task(
        sel, kernel, f"id_a {id_t}, id_b {id_t}, sim double",
        "cosine_banded_pairs_fused",
    )


def semantic_dedup_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k_seeds: int = 8,
    threshold: float = 0.3,
) -> DataFrame:
    """Seeded semantic dedup: every row joins the cluster of its
    nearest seed (the ``k_seeds`` lowest ids; ``_nearest_seed``), and
    each cluster emits its cosine pairs ≥ threshold. Returns
    (cluster, id_a, id_b, sim), sim rounded to 4 decimals.

    Below the scale gate (``small_input(df)``) one task does it all
    (_semantic_dedup_pairs_fused). Above it the seeds are collected
    (k x dim floats, driver-bounded), one Arrow pass assigns
    (assign_nearest_seed_numpy) and the per-cluster applyInPandas
    scores each cluster (cosine_pairs_blocked_numpy): the IVF-blocked
    scale shape, cluster count = the parallelism."""
    if small_input(df):
        return _semantic_dedup_pairs_fused(
            df, id_col, vec_col, k_seeds, threshold
        )
    seeds = [
        (r[id_col], [float(x) for x in r[vec_col]])
        for r in df.orderBy(id_col).limit(k_seeds).collect()
    ]
    clustered = assign_nearest_seed_numpy(
        df, seeds, id_col=id_col, vec_col=vec_col, out_col="cluster",
    )
    return cosine_pairs_blocked_numpy(
        clustered, block_col="cluster", id_col=id_col, vec_col=vec_col,
        threshold=threshold,
    )


def _semantic_dedup_pairs_fused(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k_seeds: int = 8,
    threshold: float = 0.3,
) -> DataFrame:
    """Single-task form of ``semantic_dedup_pairs`` (seed collect →
    assign_nearest_seed_numpy Arrow pass → groupBy(cluster) exchange
    → cosine_pairs_blocked_numpy Arrow pass). The same numpy
    functions in ONE mapInPandas task: rows sorted by id, the k
    lowest ids are the seeds (the orderBy/limit collect's contract),
    ``_nearest_seed`` assigns, and ``_blocked_pairs`` scores each
    cluster. Zero exchanges, zero collect jobs, one Arrow boundary."""
    sel = df.select(id_col, vec_col)
    id_t = dict(sel.dtypes)[id_col]
    thr = float(threshold)

    def kernel(pdf):
        ids = pdf[id_col].to_numpy()
        V = _vectors(pdf[vec_col])
        order = np.argsort(ids, kind="stable")
        ids, V = ids[order], V[order]
        seed_ids, S = ids[:k_seeds], V[:k_seeds]
        best = _nearest_seed(V, S, np.linalg.norm(S, axis=1), seed_ids)
        out: list = []
        for cid in seed_ids:
            m = best == cid
            if int(m.sum()) < 2:
                continue
            a, b, sim = _blocked_pairs(ids[m], V[m], thr)
            out.append((np.repeat(cid, len(a)), a, b, sim))
        if not out:
            return None
        cols = [np.concatenate(c) for c in zip(*out)]
        return pd.DataFrame(dict(zip(("cluster", "id_a", "id_b", "sim"), cols)))

    return fused_single_task(
        sel, kernel, f"cluster long, id_a {id_t}, id_b {id_t}, sim double",
        "semantic_dedup_pairs_fused",
    )


def plant_near_dups(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    every: int = 7,
    shift_scale: float = 0.4,
    id_offset: int = 10_000_000,
    dim: int = 64,
) -> DataFrame:
    """Derived near-dup corpus: the input UNION ALL a deterministic
    perturbed clone of every ``every``-th vector (id % every == 0).

    clone[i] = double(v[i]) + shift_scale * double(v[(i % dim) + 1])
    — i.e. v plus a scaled cyclic shift of itself. For isotropic
    vectors the clone's cosine to its source is ~1/sqrt(1+c^2) with a
    small spread (measured 0.917..0.955 at c=0.4 on the sf0.1
    embeddings), far above the random-pair background (~N(0, 1/8)) —
    a planted ground truth both engines can recompute exactly (the
    expression is two double ops per element in a fixed order), which
    makes recall/selectivity gates for the banded LSH dedup
    meaningful. Clone ids are source id + ``id_offset``; every other
    column (label, ...) is carried over unchanged."""
    other = [c for c in df.columns if c not in (id_col, vec_col)]
    v = F.col(vec_col)
    shifted = F.concat(F.slice(v, 2, dim - 1), F.slice(v, 1, 1))
    clone_vec = F.zip_with(
        v,
        shifted,
        lambda x, y: x.cast("double")
        + F.lit(float(shift_scale)) * y.cast("double"),
    )
    base = df.select(
        F.col(id_col),
        F.transform(v, lambda x: x.cast("double")).alias(vec_col),
        *other,
    )
    clones = df.filter((F.col(id_col) % every) == 0).select(
        (F.col(id_col) + F.lit(id_offset)).alias(id_col),
        clone_vec.alias(vec_col),
        *other,
    )
    return base.unionByName(clones)


def oracle_planted_corpus_sql(
    table: str = "embeddings",
    id_col: str = "vec_id",
    vec_sql: str = "CAST(embedding AS DOUBLE[])",
    extra_cols: str = "label",
    every: int = 7,
    shift_scale: float = 0.4,
    id_offset: int = 10_000_000,
    dim: int = 64,
) -> str:
    """DuckDB CTE body `planted` mirroring plant_near_dups: same
    double-typed clone expression (x + c*y elementwise over the
    cyclic shift), same id scheme."""
    c = repr(float(shift_scale))
    shifted = f"(e[2:{dim}] || [e[1]])"
    clone = (
        f"list_transform(list_zip(e, {shifted}), s -> s[1] + {c} * s[2])"
    )
    return f"""
    src AS (SELECT {id_col}, {vec_sql} AS e, {extra_cols} FROM {table}),
    planted AS (
      SELECT {id_col}, e, {extra_cols} FROM src
      UNION ALL
      SELECT {id_col} + {id_offset} AS {id_col}, {clone} AS e,
             {extra_cols}
      FROM src WHERE {id_col} % {every} = 0)
    """


def cosine_verify_numpy(
    cand_with_vecs: DataFrame,
    a_col: str = "__va",
    b_col: str = "__vb",
    threshold: float = 0.3,
    out_cols: tuple = ("id_a", "id_b"),
) -> DataFrame:
    """Arrow-batched numpy cosine verify over candidate pairs: one
    matmul-free vectorized pass per batch (row-wise dot + norms on a
    2-D float64 array). This is the documented hot path for LARGE
    candidate sets — higher-order-function folds are interpreted in
    Spark, and at >~100k pairs the Arrow transfer + SIMD beats the
    interpreted fold (micro-benchmark in the round-4 commit message).
    Returns (out_cols..., sim) with sim >= threshold, rounded to 4
    decimals. Note: numpy's pairwise summation can differ from a
    sequential fold in the last ulps (see cosine_banded_pairs)."""
    keep = list(out_cols)
    thr = float(threshold)

    def run(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            mask, sims = _verify_cosine(
                _vectors(pdf[a_col]), _vectors(pdf[b_col]), thr
            )
            out = pdf.loc[mask, keep].copy()
            out["sim"] = sims
            yield out

    schema = ", ".join(
        f"{c} {t}"
        for c, t in zip(
            keep,
            [
                dict(cand_with_vecs.dtypes)[c]
                for c in keep
            ],
        )
    )
    return cand_with_vecs.mapInPandas(run, schema=schema + ", sim double")


def brute_force_topk(
    df: DataFrame,
    is_query: Column,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
) -> DataFrame:
    """Exact brute-force cosine top-k: the rows of ``df`` where
    ``is_query`` is true are the queries, the rows where it is false
    the corpus. Returns (query_id, neighbor_id, rank, sim), rank 1..k
    in (sim DESC, neighbor_id ASC) order, sim unrounded.

    Below the scale gate (``small_input(df)``) one task splits the
    rows and ranks the whole corpus (_brute_force_topk_fused). Above
    it the query rows are collected (q x dim floats, driver-bounded,
    shipped in the closure) and score each Arrow batch of the corpus
    in ONE numpy matmul; each batch emits only its own top-k rows per
    query (``_cosine_topk``: any global top-k row is necessarily in
    its batch's top-k under the same order, so the prune is exact),
    and the final window ranks q x k x n_batches candidate rows
    instead of q x |corpus|. The corpus never shuffles; this is the
    100 TB exact-scan shape."""
    if small_input(df):
        return _brute_force_topk_fused(df, is_query, id_col, vec_col, k)
    rows = df.filter(is_query).select(id_col, vec_col).collect()
    qids = np.asarray([r[0] for r in rows], dtype=np.int64)
    Q = np.asarray([r[1] for r in rows], dtype=np.float64)
    Qn = np.linalg.norm(Q, axis=-1)
    dt = dict(df.dtypes)

    def run(batches):
        for pdf in batches:
            if not len(pdf) or not len(qids):
                continue
            ids = pdf[id_col].values
            V = _vectors(pdf[vec_col])
            qi, ri, sim = _cosine_topk(
                V, np.linalg.norm(V, axis=1), Q, Qn, ids, k
            )
            yield pd.DataFrame(
                {"query_id": qids[qi], "neighbor_id": ids[ri], "sim": sim}
            )

    cand = df.filter(~is_query).select(id_col, vec_col).mapInPandas(
        run,
        schema=f"query_id long, neighbor_id {dt[id_col]}, sim double",
    )
    return _rank_topk(cand, k).select("query_id", "neighbor_id", "rank", "sim")


def _brute_force_topk_fused(
    df: DataFrame,
    is_query: Column,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
) -> DataFrame:
    """Single-task form of ``brute_force_topk`` (r9, guide §1.2): ONE
    mapInPandas task splits the coalesced table into query and corpus
    rows and ranks the whole corpus with the same ``_cosine_topk`` the
    distributed per-batch prune uses — no query-collect job, no window
    exchange, one Arrow boundary (3 jobs → 1 measured at sf0.1)."""
    dt = dict(df.dtypes)

    def kernel(pdf):
        ids = pdf[id_col].to_numpy()
        V = _vectors(pdf[vec_col])
        qm = pdf["__q"].to_numpy(dtype=bool)
        if qm.all() or not qm.any():
            return None
        Q, C, cids = V[qm], V[~qm], ids[~qm]
        qi, ri, sim = _cosine_topk(
            C, np.linalg.norm(C, axis=1), Q, np.linalg.norm(Q, axis=1),
            cids, k,
        )
        rank = np.arange(len(qi)) - np.searchsorted(qi, qi) + 1
        return pd.DataFrame(
            {
                "query_id": ids[qm][qi].astype(np.int64),
                "neighbor_id": cids[ri],
                "rank": rank.astype(np.int32),
                "sim": sim,
            }
        )

    return fused_single_task(
        df.select(id_col, vec_col, is_query.alias("__q")),
        kernel,
        f"query_id long, neighbor_id {dt[id_col]}, rank int, sim double",
        "brute_force_topk_fused",
    )


def assign_nearest_seed_numpy(
    df: DataFrame,
    seeds: list[tuple[int, list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    out_col: str = "cluster",
) -> DataFrame:
    """Nearest-seed (max cosine rounded to 6 decimals, lowest seed id
    on ties — ``_nearest_seed``) assignment in ONE Arrow-batched numpy
    pass: sims to all seeds are a single (batch x dim) @ (dim x k)
    matmul — replacing the k-way broadcast fan-out whose per-row
    interpreted higher-order-function dots dominated
    semantic_dedup_seeded's wall after the pair pass went numpy.
    ``seeds`` is the collected [(seed_id, vector), ...] (k x dim
    floats — driver-bounded, shipped in the closure). Emits (id_col,
    out_col, vec_col): the vector rides through so the downstream
    per-cluster pass needs no join back to the corpus."""
    seed_ids, S = _sorted_vectors(seeds)
    Sn = np.linalg.norm(S, axis=1)
    dt = dict(df.dtypes)

    def run(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col].values,
                    out_col: _nearest_seed(
                        _vectors(pdf[vec_col]), S, Sn, seed_ids
                    ),
                    vec_col: pdf[vec_col].values,
                }
            )

    return df.select(id_col, vec_col).mapInPandas(
        run,
        schema=f"{id_col} {dt[id_col]}, {out_col} long, "
               f"{vec_col} {dt[vec_col]}",
    )


def cosine_pairs_blocked_numpy(
    df: DataFrame,
    block_col: str = "cluster",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.3,
    row_block: int = 4096,
    extra_out: tuple = (),
) -> DataFrame:
    """Within-block cosine pairs >= threshold via ONE numpy matmul per
    row-chunk — the numpy-matmul treatment the banded bucket pass got
    (cosine_banded_candidates), applied to BLOCKED PAIR GENERATION.

    The fold-based plan (self-join on block, then an interpreted
    higher-order-function cosine per pair) ships two dim-wide vectors
    per CANDIDATE PAIR into an interpreted fold — Theta(pairs * dim)
    interpreted work and a pair-sized Arrow row stream if verified in
    Python. This form instead groups by block (applyInPandas: Arrow
    transfer is Theta(rows * dim), the block's VECTORS, never its
    pairs), sorts the block by id and emits ``_blocked_pairs``: the
    upper triangle of (V_chunk @ V.T) / norms that clears the
    threshold.

    Memory per task is row_block * |block| doubles (the chunked score
    matrix), never |block|^2. At 100 TB the block count IS the
    parallelism and the |block| bound: this is the IVF-blocked dedup
    contract (semantic_dedup_seeded), where production runs hundreds
    to thousands of clusters, each a small fraction of the corpus —
    exactly the regime where one task per cluster is the right plan.
    numpy's pairwise summation can differ from the oracle's sequential
    fold in the last ulps (same caveat as cosine_verify_numpy); at
    4-decimal rounding no flip has ever been observed.

    Returns (block_col, id_a, id_b, sim) with sim >= threshold rounded
    to 4 decimals; ``extra_out`` appends per-block constant columns.
    """
    dt = dict(df.dtypes)
    thr = float(threshold)
    out_names = [block_col, "id_a", "id_b", "sim"] + list(extra_out)

    def emit(pdf: pd.DataFrame) -> pd.DataFrame:
        if len(pdf) < 2:
            return pd.DataFrame(
                {
                    block_col: pdf[block_col].iloc[:0],
                    "id_a": pdf[id_col].iloc[:0],
                    "id_b": pdf[id_col].iloc[:0],
                    "sim": pd.Series([], dtype="float64"),
                    **{c: pdf[c].iloc[:0] for c in extra_out},
                }
            )
        pdf = pdf.sort_values(id_col, kind="mergesort", ignore_index=True)
        ia, ib, ss = _blocked_pairs(
            pdf[id_col].values, _vectors(pdf[vec_col]), thr, row_block
        )
        return pd.DataFrame(
            {
                block_col: np.repeat(pdf[block_col].iloc[0], len(ia)),
                "id_a": ia,
                "id_b": ib,
                "sim": ss,
                **{c: np.repeat(pdf[c].iloc[0], len(ia)) for c in extra_out},
            }
        )

    schema = ", ".join(
        [
            f"{block_col} {dt[block_col]}",
            f"id_a {dt[id_col]}",
            f"id_b {dt[id_col]}",
            "sim double",
        ]
        + [f"{c} {dt[c]}" for c in extra_out]
    )
    return (
        df.groupBy(block_col)
        .applyInPandas(emit, schema=schema)
        .select(*out_names)
    )


def oracle_cosine_banded_candidates_sql(
    vec_sql: str = "CAST(embedding AS DOUBLE[])",
    block_sql: str = "label",
    n_tables: int = 16,
    band_bits: int = 12,
    dim: int = 64,
    from_sql: str = "embeddings",
) -> str:
    """DuckDB CTE body computing the same multi-table LSH candidate
    pairs: sig materializes the per-table bucket columns, the
    self-join keeps a pair if ANY table's buckets collide (the
    OR-construction, written as a disjunction — equivalent to the
    Spark union-of-equi-joins + DISTINCT). Planes MUST be the same
    _rademacher_planes literals the Spark side packs in numpy."""
    from duckdb_distributed_execution_spark.queries.vectors import (
        _oracle_lsh_bucket,
    )

    planes = _rademacher_planes(n_tables * band_bits, dim)
    cols = ", ".join(
        f"{_oracle_lsh_bucket('e', planes[t * band_bits:(t + 1) * band_bits])}"
        f" AS b{t}"
        for t in range(n_tables)
    )
    anymatch = " OR ".join(f"a.b{t} = b.b{t}" for t in range(n_tables))
    return f"""
    sig AS (SELECT vec_id, {block_sql} AS blk, e, {cols}
            FROM (SELECT vec_id, {block_sql}, {vec_sql} AS e FROM {from_sql})),
    cand AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b, a.e AS ea, b.e AS eb
      FROM sig a JOIN sig b
        ON a.blk = b.blk AND a.vec_id < b.vec_id AND ({anymatch}))
    """


def kmeans_train(
    corpus: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_iter: int = 10,
    tol: float = 1e-6,
) -> DataFrame:
    """Full IVF training: Lloyd's k-means over the embedding column.

    Deterministic seeding (no RNG — reproducible on any cluster): the
    k vectors with the smallest md5-derived hash of their id. Each
    iteration is one distributed pass — broadcast the k centroids,
    assign every vector (ivf_assign: broadcast join + per-vector
    argmin), then recompute centroids with a single grouped
    element-wise mean (posexplode → avg by (cid, pos) → rebuild
    array). Iteration happens on the DRIVER over k×dim floats only;
    the corpus is never collected and never shuffles on anything
    wider than the k-valued cell id. Convergence = max centroid
    squared-L2 shift < tol, checked on the collected k centroids
    (k×dim values — O(KB), not data-scale).

    The reference has no ANN/training surface at all; this is the
    north-star scale path (BASELINE.json) that makes `ivf_topk`
    self-contained: train → assign → probe within one engine.
    """
    from duckdb_distributed_execution_spark.operators.dedup import hash60

    dim = len(corpus.select(vec_col).first()[0])
    centroids = (
        corpus.orderBy(hash60(F.col(id_col).cast("string")))
        .limit(k)
        .select(
            F.monotonically_increasing_id().alias("__seed_ord"),
            F.col(vec_col),
        )
        .drop("__seed_ord")
        .rdd.map(lambda r: r[0])
        .collect()
    )
    spark = corpus.sparkSession
    prev = [list(map(float, c)) for c in centroids]

    for _ in range(max_iter):
        cdf = local_rows_df(
            spark,
            [(i, v) for i, v in enumerate(prev)],
            f"cid INT, {vec_col} ARRAY<DOUBLE>",
        )
        assigned = ivf_assign(corpus, cdf, id_col=id_col, vec_col=vec_col)
        joined = corpus.join(assigned.select(id_col, "cid"), on=id_col)
        new_rows = (
            joined.select("cid", F.posexplode(vec_col).alias("pos", "x"))
            .groupBy("cid", "pos")
            .agg(F.avg("x").alias("m"))
            .groupBy("cid")
            .agg(
                F.array_sort(
                    F.collect_list(F.struct("pos", "m"))
                ).alias("pm")
            )
            .select("cid", F.transform("pm", lambda s: s["m"]).alias("v"))
            .collect()
        )
        new = list(prev)
        for r in new_rows:
            new[r.cid] = [float(x) for x in r.v]
        shift = max(
            sum((a - b) ** 2 for a, b in zip(old, nw))
            for old, nw in zip(prev, new)
        )
        prev = new
        if shift < tol:
            break

    return local_rows_df(
        spark,
        [(i, v) for i, v in enumerate(prev)],
        f"cid INT, {vec_col} ARRAY<DOUBLE>",
    )


# ---------------------------------------------------------------------------
# Product quantization (PQ) — asymmetric distance computation
# ---------------------------------------------------------------------------
#
# The 100 TB compression step past int8 SQ: a d-dim vector becomes m
# sub-codes (one byte each at k<=256), a 64-dim float corpus shrinks
# 32x, and query scoring never touches the original vectors — each
# query precomputes an (m x k) lookup table of partial distances to
# every codebook entry, and scoring a corpus vector is m table
# lookups + adds (the ADC of Jegou et al., "Product Quantization for
# Nearest Neighbor Search", TPAMI 2011). In Spark terms: the encoded
# corpus is a narrow (id, sub, code) table, the LUT is a broadcast,
# and scoring is one broadcast equi-join + grouped sum — no vector
# ever shuffles after encoding.


def pq_subvectors(
    df: DataFrame, id_col: str, vec_col: str, m: int, dsub: int
) -> DataFrame:
    """Explode each vector into its ``m`` contiguous ``dsub``-dim
    subvectors: (id, sub, sv). Narrow rows — ``m`` per vector, each
    carrying only a ``dsub``-dim slice."""
    spark = df.sparkSession
    subs = spark.range(m).select(F.col("id").cast("int").alias("sub"))
    # downstream encode/LUT folds are Θ(rows·m·k) interpreted work
    # pinned to this relation's parallelism (r6)
    df = ensure_min_parallelism(df)
    return df.crossJoin(F.broadcast(subs)).select(
        F.col(id_col).alias("__id"),
        "sub",
        F.slice(
            F.col(vec_col).cast("array<double>"),
            F.col("sub") * dsub + 1,
            F.lit(dsub),
        ).alias("sv"),
    )


def pq_encode(
    corpus: DataFrame,
    codebook: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 8,
    dsub: int = 8,
) -> DataFrame:
    """Encode the corpus against a codebook DF (sub, code, cv):
    per (vector, subspace) the argmin-squared-L2 code, code-id
    tie-break. The codebook (m*k tiny rows) broadcasts; the argmin is
    a struct-min grouped aggregate (partial/final, map-side combine),
    so encoding is one narrow shuffle of (id, sub, dist, code) rows.
    Returns (id, sub, code)."""
    sv = pq_subvectors(corpus, id_col, vec_col, m, dsub)
    cb = codebook.select("sub", "code", "cv")
    dists = sv.join(F.broadcast(cb), on="sub").select(
        "__id",
        "sub",
        sq_l2(F.col("sv"), F.col("cv")).alias("dist"),
        "code",
    )
    # min(struct(dist, code)) == ORDER BY dist, code LIMIT 1: struct
    # comparison is lexicographic and the doubles are bit-identical
    # across engines (same op order in sq_l2).
    return (
        dists.groupBy("__id", "sub")
        .agg(F.min(F.struct("dist", "code")).alias("__m"))
        .select(F.col("__id").alias(id_col), "sub", F.col("__m.code").alias("code"))
    )


def pq_encode_numpy(
    df: DataFrame,
    codebook: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 8,
    dsub: int = 8,
    passthrough: tuple = (),
) -> DataFrame:
    """PQ encoding as ONE numpy matmul per Arrow batch (round-9
    surgery on the wave-62 build path): per (vector, subspace) the
    argmin-quantized-squared-L2 code. Replaces ``pq_encode``'s
    rows·m·k interpreted ``sq_l2`` relation + struct-min shuffle —
    AND the corpus-sized join-back every call site followed it with:
    ``passthrough`` carries extra columns (the ``cid`` of an
    already-assigned corpus) straight through the kernel, so an
    assigned corpus encodes to (id, cid, sub, code) in the SAME
    pipelined stage as the assignment, zero shuffles.

    Determinism contract (``_nearest``, the ``ivf_assign_numpy``
    convention): subspace d² via the oracle's expansion
    ⟨s,s⟩−2⟨s,c⟩+⟨c,c⟩, quantized to ⌊d²·1e6+.5⌋ BEFORE the argmin,
    ties to the lowest code — mirrored by ``ORDER BY
    CAST(floor(dist*1e6+0.5) AS BIGINT), code`` in the
    ann_ivf_pq_served_topk oracle. (``pq_encode`` keeps the
    raw-double struct-min convention for the wave-48 ADC family whose
    oracles pin it.)"""
    spark = df.sparkSession
    cb_rows = codebook.select("sub", "code", "cv").collect()
    by_sub: dict[int, list] = {}
    for r in cb_rows:
        by_sub.setdefault(int(r["sub"]), []).append((int(r["code"]), r["cv"]))
    subs_sorted = sorted(by_sub)
    if subs_sorted != list(range(m)):
        raise ValueError(f"codebook subs {subs_sorted} != range({m})")
    CB, CBcc, CBcodes = [], [], []
    for s in range(m):
        codes, C = _sorted_vectors(by_sub[s])  # ascending code
        CB.append(C)
        CBcc.append(np.einsum("ij,ij->i", C, C))
        CBcodes.append(codes.astype(np.int32))
    b = spark.sparkContext.broadcast((CB, CBcc, CBcodes))
    dt = dict(df.dtypes)
    cols = [id_col, *passthrough, vec_col]

    def fn(batches):
        kCB, kcc, kcodes = b.value
        for pdf in batches:
            n = len(pdf)
            if not n:
                continue
            V = _vectors(pdf[vec_col])
            out = np.empty((n, m), dtype=np.int32)
            for s in range(m):
                S_ = V[:, s * dsub:(s + 1) * dsub]
                ss = np.einsum("ij,ij->i", S_, S_)
                out[:, s] = kcodes[s][_nearest(S_, ss, kCB[s], kcc[s])[0]]
            data = {id_col: np.repeat(pdf[id_col].values, m)}
            for p in passthrough:
                data[p] = np.repeat(pdf[p].values, m)
            data["sub"] = np.tile(np.arange(m, dtype=np.int32), n)
            data["code"] = out.reshape(-1)
            yield pd.DataFrame(data)

    schema = ", ".join(
        [f"{id_col} {dt[id_col]}"]
        + [f"{p} {dt[p]}" for p in passthrough]
        + ["sub int", "code int"]
    )
    return ensure_min_parallelism(df.select(*cols)).mapInPandas(
        fn, schema=schema
    )


def pq_adc_topk(
    corpus_codes: DataFrame,
    queries: DataFrame,
    codebook: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 8,
    dsub: int = 8,
    k: int = 5,
) -> DataFrame:
    """Asymmetric-distance top-k: per query build the (sub, code) →
    partial-squared-L2 lookup table against the codebook (m*k rows per
    query — broadcastable for any practical query batch), join it to
    the encoded corpus on (sub, code), and sum the m partials per
    (query, vector). The per-partial values are snapped to 6 fixed
    decimals before the sum (``exact_sum``) so the total is
    order-independent and engine-exact. Returns
    (query_id, neighbor_id, rank, adist)."""
    qv = pq_subvectors(queries, id_col, vec_col, m, dsub).select(
        F.col("__id").alias("query_id"), "sub", F.col("sv").alias("qv")
    )
    cb = codebook.select("sub", "code", "cv")
    lut = qv.join(F.broadcast(cb), on="sub").select(
        "query_id", "sub", "code", sq_l2(F.col("qv"), F.col("cv")).alias("pdist")
    )
    scored = (
        corpus_codes.select(F.col(id_col).alias("neighbor_id"), "sub", "code")
        .join(F.broadcast(lut), on=["sub", "code"])
        .groupBy("query_id", "neighbor_id")
        .agg(exact_sum("pdist").alias("adist"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("adist").asc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def ivf_pq_serve_topk(
    codes: DataFrame,
    cells: DataFrame,
    queries: DataFrame,
    centroids: DataFrame,
    codebook: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cid_col: str = "cid",
    k: int = 5,
    nprobe: int = 1,
    rerank: int = 32,
    graph_edges: int | None = None,
    graph_rows: list[tuple] | None = None,
) -> DataFrame:
    """IVF-PQ serving (wave 62 — composes waves 48 + 61, the
    production memory-bounded retrieval path): queries route to their
    probed cells driver-side (the SAME quantized _route_probes
    convention as ivf_topk/ivf_serve_topk, optional graph routing from
    persisted graph rows), the probed cells are scanned from the
    PQ-ENCODED codes relation (32× narrower than the float rows — at
    100 TB only code bytes cross the wire), scored by asymmetric
    distance against a per-query broadcast (sub, code) → partial-d²
    LUT, and the top-``rerank`` ADC candidates per query are re-ranked
    EXACTLY against their raw vectors from the cells relation.

    Fully relational: broadcast probe map + broadcast LUT + one
    grouped exact-sum over codes in probed cells + a rerank join that
    touches ``|Q|·rerank`` raw vectors. ADC partials snap to 6 fixed
    decimals (exact_sum) and the candidate cut orders by
    (adist, neighbor_id), so the rerank set — and therefore the final
    top-k — is engine-exact against the SQL oracle
    (ann_ivf_pq_served_topk)."""
    spark = codes.sparkSession
    cids, C = _sorted_vectors(centroids.select(cid_col, vec_col).collect())
    cc = np.einsum("ij,ij->i", C, C)
    qrows = [
        (r[id_col], list(r[vec_col]))
        for r in queries.select(id_col, vec_col).collect()
    ]
    Q = np.asarray([r[1] for r in qrows], dtype=np.float64)
    qq = np.einsum("ij,ij->i", Q, Q)
    graph_nbrs = None
    if graph_rows is not None and graph_edges is not None:
        graph_nbrs = _graph_nbrs(graph_rows, cids, graph_edges)
    probe_idx = _route_probes(Q, qq, C, cc, nprobe, graph_edges,
                              graph_nbrs=graph_nbrs)
    qid_type = dict(queries.dtypes)[id_col]
    pairs = [
        (qrows[qi][0], int(cids[ci]))
        for qi in range(len(qrows))
        for ci in set(int(x) for x in probe_idx[qi])
    ]
    probe_df = local_rows_df(
        spark, pairs, f"query_id {qid_type}, {cid_col} long"
    )
    probed = sorted({c for _, c in pairs})

    # per-query LUT: (query_id, sub, code, pdist) — |Q|·m·K tiny rows
    dsub = len(codebook.select("cv").first()["cv"])
    msubs = codebook.agg(F.max("sub")).first()[0] + 1
    qsub = pq_subvectors(queries, id_col, vec_col, msubs, dsub).select(
        F.col("__id").alias("query_id"), "sub", F.col("sv").alias("qv")
    )
    lut = qsub.join(F.broadcast(codebook.select("sub", "code", "cv")),
                    on="sub").select(
        "query_id", "sub", "code",
        sq_l2(F.col("qv"), F.col("cv")).alias("pdist"),
    )

    # ADC over ONLY the probed cells (codes is cid-sorted at build
    # time — the IN filter prunes row groups), fanned out per probing
    # query by the broadcast probe map. NO ensure_min_parallelism
    # here: under AQE, its ``df.rdd`` partition probe FORCES execution
    # of every upstream query stage — on a python-kernel codes chain
    # that silently ran the whole assign+encode once just to read a
    # partition count (measured ~3× the serve cost at sf1, r9).
    # Parallelism is already set by the codes producer (the kernel
    # chain inherits the min-parallelized corpus; the persisted table
    # reads standard parquet splits), and the ADC stage itself is
    # codegen join/agg, not an interpreted fold.
    cand_codes = (
        codes.filter(F.col(cid_col).isin(probed))
        .join(F.broadcast(probe_df), on=cid_col)
        .join(F.broadcast(lut), on=["query_id", "sub", "code"])
        .groupBy("query_id", F.col(id_col).alias("neighbor_id"))
        .agg(exact_sum("pdist").alias("adist"))
    )
    wa = Window.partitionBy("query_id").orderBy(
        F.col("adist").asc(), F.col("neighbor_id")
    )
    cand = cand_codes.withColumn(
        "__arn", F.row_number().over(wa)
    ).filter(F.col("__arn") <= rerank)

    # exact re-rank: |Q|·rerank raw vectors from the cells relation
    qv = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("__qv")
    )
    # ``cells`` may be the persisted cid-sorted cells table (filter by
    # probed cid → parquet row-group pruning) or a raw corpus relation
    # without an assignment column (inline-build callers avoid
    # re-deriving the assignment just to prune a |Q|·rerank-row fetch)
    raw = (
        cells.filter(F.col(cid_col).isin(probed))
        if cid_col in cells.columns else cells
    ).select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("__nv")
    )
    sim = dot_product(F.col("__qv"), F.col("__nv")) / (
        l2_norm(F.col("__qv")) * l2_norm(F.col("__nv"))
    )
    wr = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id")
    )
    return (
        cand.join(raw, on="neighbor_id")
        .join(F.broadcast(qv), on="query_id")
        .select("query_id", "neighbor_id", sim.alias("sim"), "adist")
        .withColumn("rank", F.row_number().over(wr))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "sim", "adist")
    )


def hard_negative_topk_numpy(
    corpus: DataFrame,
    anchors: list[tuple[int, int, list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    k: int = 3,
) -> DataFrame:
    """Hard-NEGATIVE mining for embedding/contrastive training: for
    each anchor (id, label, vector), the k most-similar corpus vectors
    with a DIFFERENT label — the near-miss negatives a triplet/InfoNCE
    batch builder wants. Same plan shape as brute_force_topk
    (anchors broadcast, one numpy matmul per Arrow batch, exact
    per-batch top-k prune, corpus never shuffles) plus a label mask:
    same-label columns are -inf'd before the per-batch prune, so the
    prune stays exact under the (sim DESC, id ASC) order.

    Zero-norm corpus vectors are DROPPED (cosine undefined → NaN →
    pruned by the isfinite mask); oracles must mirror the exclusion
    (e.g. list_dot_product(cv,cv) > 0) because DuckDB sorts NaN as
    the largest double (ADVICE r5). A zero-norm ANCHOR likewise
    yields all-NaN sims and therefore zero output rows — callers
    should pre-filter anchors (pipeline49 does) and oracles carry the
    symmetric av-norm guard (ADVICE r6)."""
    aids = np.asarray([a[0] for a in anchors], dtype=np.int64)
    albl = np.asarray([a[1] for a in anchors], dtype=np.int64)
    A = np.asarray([a[2] for a in anchors], dtype=np.float64)
    An = np.linalg.norm(A, axis=1)
    dt = dict(corpus.dtypes)

    def run(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            ids = pdf[id_col].values
            lbl = np.asarray(pdf[label_col].values, dtype=np.int64)
            V = _vectors(pdf[vec_col])
            qi, ri, sim = _cosine_topk(
                V, np.linalg.norm(V, axis=1), A, An, ids, k,
                exclude=lbl[:, None] == albl[None, :],
            )
            keep = np.isfinite(sim)
            yield pd.DataFrame(
                {
                    "anchor_id": aids[qi[keep]],
                    "neighbor_id": ids[ri[keep]],
                    "sim": sim[keep],
                }
            )

    cand = corpus.select(id_col, vec_col, label_col).mapInPandas(
        run,
        schema=f"anchor_id long, neighbor_id {dt[id_col]}, sim double",
    )
    return _rank_topk(cand, k, key="anchor_id").select(
        "anchor_id", "neighbor_id", "rank", F.round("sim", 4).alias("sim"),
    )
