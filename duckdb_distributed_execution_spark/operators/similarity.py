"""Similarity search API over embedding columns (array<float>).

Two paths (north-star greenfield, BASELINE.json):

- ``brute_force_topk`` — exact: broadcast the query set, stream the
  corpus, per-query top-k via window. The corpus never shuffles.
- ``lsh_topk`` — approximate scale path: random-hyperplane signatures
  bucket the corpus; candidates come only from the query's bucket
  (equi-join), then exact cosine re-ranks. An IVF variant is the same
  plan with learned centroids instead of hyperplanes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from duckdb_distributed_execution_spark.functions import (
    check_fused_input_rows,
    dot_product,
    l2_norm,
    local_rows_df,
)
from duckdb_distributed_execution_spark.queries.vectors import (
    _hyperplanes,
    _rademacher_planes,
    lsh_bucket,
)


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector. Norms are
    computed once per row, not per pair."""
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("__qv"),
        l2_norm(F.col(vec_col)).alias("__qn"),
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("__cv"),
        l2_norm(F.col(vec_col)).alias("__cn"),
    )
    sims = c.join(F.broadcast(q)).select(
        "query_id",
        "neighbor_id",
        (dot_product(F.col("__qv"), F.col("__cv"))
         / (F.col("__qn") * F.col("__cn"))).alias("sim"),
    )
    w = Window.partitionBy("query_id").orderBy(F.col("sim").desc(), F.col("neighbor_id"))
    return (
        sims.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


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
    from duckdb_distributed_execution_spark.functions import (
        ensure_min_parallelism,
    )

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
            F.floor(dist * F.lit(1e6) + F.lit(0.5)).cast("long")
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
    quant: float = 1e6,
) -> DataFrame:
    """Corpus-side IVF assignment as ONE numpy matmul per Arrow batch
    — no per-pair interpreted folds, no shuffle at all (the argmin is
    per-row). Returns (id, cid, dist, vec): the vector always rides
    along, since every consumer of a numpy-assigned corpus (ivf_topk
    member side, the RAG serving path) needs it next.

    Determinism contract (the kcenter convention,
    operators/linalg.py): d² via the oracle's exact expansion
    ⟨v,v⟩ − 2⟨v,c⟩ + ⟨c,c⟩, quantized to ⌊d²·1e6+.5⌋ BEFORE the
    argmin, ties to the lowest centroid id — mirrored by
    ``ORDER BY CAST(floor(dist*1e6+0.5) AS BIGINT), cid`` in the IVF
    oracles (queries/vectors.py::_IVF_ASSIGN). numpy's pairwise dot
    summation can differ from DuckDB's sequential fold in last ulps;
    the quantization makes a flipped pick a measure-zero boundary
    event rather than a live hazard, and the oracle hash would catch
    it loudly."""
    import numpy as np
    import pandas as pd

    from duckdb_distributed_execution_spark.functions import (
        ensure_min_parallelism,
    )

    cent = sorted(
        ((r[cid_col], list(r[vec_col])) for r in centroids.collect()),
        key=lambda t: t[0],
    )
    cids = np.asarray([c[0] for c in cent], dtype=np.int64)
    C = np.asarray([c[1] for c in cent], dtype=np.float64)
    cc = np.einsum("ij,ij->i", C, C)
    dt = dict(corpus.dtypes)
    b = corpus.sparkSession.sparkContext.broadcast((cids, C, cc))

    def fn(batches):
        k_ids, K, k_cc = b.value
        for pdf in batches:
            n = len(pdf)
            if not n:
                continue
            V = np.asarray(list(pdf[vec_col]), dtype=np.float64)
            vv = np.einsum("ij,ij->i", V, V)
            D = vv[:, None] - 2.0 * (V @ K.T) + k_cc[None, :]
            DQ = np.floor(D * quant + 0.5).astype(np.int64)
            j = np.argmin(DQ, axis=1)  # first minimum = lowest cid
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col].values,
                    cid_col: k_ids[j],
                    "dist": D[np.arange(n), j],
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


def _route_probes(Q, qq, C, cc, nprobe, graph_edges, graph_nbrs=None):
    """Per-query probe-cell indices under the shared quantized
    convention (exact oracle expansion + ⌊d²·1e6+.5⌋ rank; centroids
    are sorted by cid, so a STABLE argsort's tie-break IS the cid
    tie-break). Two routing modes, one convention:

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
    import numpy as np

    D = (qq[:, None] - 2.0 * (Q @ C.T)) + cc[None, :]
    qd = np.floor(D * 1e6 + 0.5).astype(np.int64)
    if graph_edges is None:
        return np.argsort(qd, axis=1, kind="stable")[:, :nprobe]
    if graph_nbrs is not None:
        nbrs = np.asarray(graph_nbrs, dtype=np.int64)
    else:
        DC = (cc[:, None] - 2.0 * (C @ C.T)) + cc[None, :]
        qdc = np.floor(DC * 1e6 + 0.5).astype(np.int64)
        np.fill_diagonal(qdc, np.iinfo(np.int64).max)
        nbrs = np.argsort(qdc, axis=1, kind="stable")[:, :graph_edges]
    entry = np.argmin(qd, axis=1)  # first-min = lowest cid
    return np.concatenate([entry[:, None], nbrs[entry]], axis=1)


def centroid_graph_edges(C, cc, graph_edges: int):
    """The persisted form of the wave-59 index-build artifact:
    (src_idx, dst_idx, rank) rows of each centroid's ``graph_edges``
    nearest other centroids — the same quantized ranking
    _route_probes walks at query time."""
    import numpy as np

    DC = (cc[:, None] - 2.0 * (C @ C.T)) + cc[None, :]
    qdc = np.floor(DC * 1e6 + 0.5).astype(np.int64)
    np.fill_diagonal(qdc, np.iinfo(np.int64).max)
    nbrs = np.argsort(qdc, axis=1, kind="stable")[:, :graph_edges]
    return [
        (int(i), int(j), r + 1)
        for i in range(len(C))
        for r, j in enumerate(nbrs[i])
    ]


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
    brute_force_topk_numpy shape, restricted to each batch row's own
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
    The assignment arithmetic is byte-for-byte the ivf_assign_numpy
    kernel (exact ⟨v,v⟩−2⟨v,c⟩+⟨c,c⟩ expansion, ⌊d²·1e6+.5⌋ argmin,
    first-minimum = lowest cid)."""
    import numpy as np
    import pandas as pd

    from duckdb_distributed_execution_spark.functions import (
        ensure_min_parallelism,
    )

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
    cent = sorted(
        ((r["__id"], list(r["__v"])) for r in rows if r["__side"] == 1),
        key=lambda t: t[0],
    )
    cids = np.asarray([c[0] for c in cent], dtype=np.int64)
    C = np.asarray([c[1] for c in cent], dtype=np.float64)
    cc = np.einsum("ij,ij->i", C, C)
    qrows = [
        (r["__id"], list(r["__v"])) for r in rows if r["__side"] == 2
    ]
    qids = np.asarray([r[0] for r in qrows], dtype=np.int64)
    Q = np.asarray(
        [[float(x) for x in r[1]] for r in qrows], dtype=np.float64
    )
    qq = np.einsum("ij,ij->i", Q, Q)
    probe_idx = _route_probes(Q, qq, C, cc, nprobe, graph_edges)
    cell_to_q: dict[int, list[int]] = {}
    for qi in range(len(qids)):
        for ci in probe_idx[qi]:
            cell_to_q.setdefault(int(cids[ci]), []).append(qi)
    Qn = np.sqrt(qq)
    dt = dict(corpus.dtypes)
    b = corpus.sparkSession.sparkContext.broadcast(
        (
            qids,
            Q,
            Qn,
            {c: np.asarray(v) for c, v in cell_to_q.items()},
            cids,
            C,
            cc,
        )
    )

    def run(batches):
        a_qids, a_Q, a_Qn, c2q, k_ids, K, k_cc = b.value
        for pdf in batches:
            if not len(pdf):
                continue
            ids = pdf[id_col].values
            V = np.asarray(list(pdf[vec_col]), dtype=np.float64)
            # inline corpus assignment — same kernel as
            # ivf_assign_numpy (exact expansion, quantized argmin,
            # first minimum = lowest cid)
            vv = np.einsum("ij,ij->i", V, V)
            DA = vv[:, None] - 2.0 * (V @ K.T) + k_cc[None, :]
            j = np.argmin(
                np.floor(DA * 1e6 + 0.5).astype(np.int64), axis=1
            )
            cell = k_ids[j]
            Vn = np.sqrt(vv)
            out_q, out_n, out_s = [], [], []
            for c in np.unique(cell):
                qidx = c2q.get(int(c))
                if qidx is None:
                    continue
                m = cell == c
                mi = ids[m]
                S = (V[m] @ a_Q[qidx].T) / np.outer(Vn[m], a_Qn[qidx])
                for jj, qi in enumerate(qidx):
                    order = np.lexsort((mi, -S[:, jj]))[: min(k, len(mi))]
                    out_q.append(np.full(len(order), a_qids[qi]))
                    out_n.append(mi[order])
                    out_s.append(S[order, jj])
            if not out_q:
                continue
            yield pd.DataFrame(
                {
                    "query_id": np.concatenate(out_q),
                    "neighbor_id": np.concatenate(out_n),
                    "sim": np.concatenate(out_s),
                }
            )

    cand = ensure_min_parallelism(
        corpus.select(id_col, vec_col)
    ).mapInPandas(
        run,
        schema=f"query_id long, neighbor_id {dt[id_col]}, sim double",
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id")
    )
    return cand.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )


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
    cells' files), then ONE masked numpy matmul per Arrow batch with
    the same stable lexsort top-k as ivf_topk. Scoring arithmetic is
    identical to ivf_topk's, so build+serve equals assign+probe
    bit-for-bit."""
    import numpy as np
    import pandas as pd

    from duckdb_distributed_execution_spark.functions import (
        ensure_min_parallelism,
    )

    cent = sorted(
        ((r[cid_col], list(r[vec_col])) for r in centroids.collect()),
        key=lambda t: t[0],
    )
    cids = np.asarray([c[0] for c in cent], dtype=np.int64)
    C = np.asarray([c[1] for c in cent], dtype=np.float64)
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
        # persisted (src_cid, dst_cid, rank) rows → index-space
        # neighbor array in rank order, mapped through the cid sort
        pos = {int(c): i for i, c in enumerate(cids)}
        by_src: dict[int, list[tuple[int, int]]] = {}
        for src, dst, rank in graph_rows:
            by_src.setdefault(pos[int(src)], []).append(
                (int(rank), pos[int(dst)])
            )
        graph_nbrs = [
            [j for _, j in sorted(by_src.get(i, []))[:graph_edges]]
            for i in range(len(cids))
        ]
    probe_idx = _route_probes(Q, qq, C, cc, nprobe, graph_edges,
                              graph_nbrs=graph_nbrs)
    cell_to_q: dict[int, list[int]] = {}
    for qi in range(len(qids)):
        for ci in probe_idx[qi]:
            cell_to_q.setdefault(int(cids[ci]), []).append(qi)
    probed = sorted(cell_to_q)
    Qn = np.sqrt(qq)
    dt = dict(cells.dtypes)
    b = cells.sparkSession.sparkContext.broadcast(
        (qids, Q, Qn, {c: np.asarray(v) for c, v in cell_to_q.items()})
    )

    def run(batches):
        a_qids, a_Q, a_Qn, c2q = b.value
        for pdf in batches:
            if not len(pdf):
                continue
            ids = pdf[id_col].values
            cell = pdf[cid_col].values
            V = np.asarray(list(pdf[vec_col]), dtype=np.float64)
            Vn = np.sqrt(np.einsum("ij,ij->i", V, V))
            out_q, out_n, out_s = [], [], []
            for c in np.unique(cell):
                qidx = c2q.get(int(c))
                if qidx is None:
                    continue
                m = cell == c
                mi = ids[m]
                S = (V[m] @ a_Q[qidx].T) / np.outer(Vn[m], a_Qn[qidx])
                for jj, qi in enumerate(qidx):
                    order = np.lexsort((mi, -S[:, jj]))[: min(k, len(mi))]
                    out_q.append(np.full(len(order), a_qids[qi]))
                    out_n.append(mi[order])
                    out_s.append(S[order, jj])
            if not out_q:
                continue
            yield pd.DataFrame(
                {
                    "query_id": np.concatenate(out_q),
                    "neighbor_id": np.concatenate(out_n),
                    "sim": np.concatenate(out_s),
                }
            )

    # the serve-time scan: ONLY probed cells — this filter reaches the
    # parquet scan (cells is cid-sorted at build time, so row-group
    # stats prune everything else)
    scan = cells.select(id_col, cid_col, vec_col).filter(
        F.col(cid_col).isin([int(c) for c in probed])
    )
    cand = ensure_min_parallelism(scan).mapInPandas(
        run,
        schema=f"query_id long, neighbor_id {dt[id_col]}, sim double",
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id")
    )
    return cand.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )


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
    w = Window.partitionBy("query_id").orderBy(F.col("sim").desc(), F.col("neighbor_id"))
    return (
        sims.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


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
    import numpy as np
    import pandas as pd

    planes = _rademacher_planes(n_tables * band_bits, dim)
    P = np.asarray(planes, dtype=np.float64).T  # dim x (T*b)
    weights = (1 << np.arange(band_bits)).astype(np.int64)
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
            V = np.asarray(list(pdf["__vec"]), dtype=np.float64)
            S = (V @ P) >= 0.0  # n x (T*b) sign bits
            B = S.reshape(n, n_tables, band_bits) @ weights  # n x T
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

    from duckdb_distributed_execution_spark.functions import persist_tracked

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
    verify: str = "fold",
) -> DataFrame:
    """LSH candidates → exact cosine verify ≥ threshold. The verify
    step is exact, so precision is 1.0 by construction; recall is the
    candidate-generation recall (see cosine_banded_candidates).
    Returns (id_a, id_b, sim) with sim rounded to 4 decimals.

    ``verify`` picks the cosine implementation: "fold" (default) is
    the sequential higher-order-function fold whose doubles match the
    DuckDB oracle bit-for-bit — with a selective candidate set it
    touches ~0.5% of pairs, so the interpreted cost is off the hot
    path; "numpy" routes the joined pairs through the Arrow-batched
    SIMD verify (cosine_verify_numpy — 3.1x faster at 200k pairs,
    identical pair sets in practice, but numpy's pairwise summation
    can differ from the fold in the last ulps, so hash-compared
    oracle paths keep "fold")."""
    cand = cosine_banded_candidates(
        df, id_col, vec_col, block_col, n_tables, band_bits, dim
    )
    # BROADCAST the narrow (id -> vector, norm) side of both verify
    # joins: candidate pairs are 2 ids wide, and a shuffle join here
    # would ship dim*8-byte vectors through a PAIR-count-sized
    # exchange — measured at the 100x probe (a corpus of 100-way
    # near-identical replicas, ~1.5e8 candidates): the vector-carrying
    # shuffle wrote >60 GB of spill and filled the disk. With the
    # broadcast, pair rows pick their vectors map-side and no
    # pair-sized vector exchange exists. The broadcast is the corpus
    # id->vector map (n*dim*8 bytes; ~1 MB at sf0.1, ~120 MB at the
    # 100x probe) — beyond broadcastable corpus sizes, shard the
    # verify by block (IVF cell / label) or carry vectors through the
    # bucket join itself (the oracle's sig shape) instead.
    if verify not in ("fold", "numpy"):
        raise ValueError(f"verify must be 'fold' or 'numpy': {verify!r}")
    # The numpy verify computes norms inside the Arrow batch — don't
    # pay two interpreted fold traversals of the corpus for columns
    # it would ignore.
    norm = [l2_norm(F.col(vec_col)).alias("__n")] if verify == "fold" else []
    v = df.select(
        F.col(id_col).alias("__vid"),
        F.col(vec_col).alias("__v"),
        *norm,
    )
    na = [F.col("__n").alias("__na")] if verify == "fold" else []
    nb = [F.col("__n").alias("__nb")] if verify == "fold" else []
    sims = (
        cand.join(
            F.broadcast(
                v.select(
                    F.col("__vid").alias("id_a"),
                    F.col("__v").alias("__va"),
                    *na,
                )
            ),
            on="id_a",
        )
        .join(
            F.broadcast(
                v.select(
                    F.col("__vid").alias("id_b"),
                    F.col("__v").alias("__vb"),
                    *nb,
                )
            ),
            on="id_b",
        )
    )
    if verify == "numpy":
        return cosine_verify_numpy(
            sims.select("id_a", "id_b", "__va", "__vb"),
            threshold=threshold,
        )
    scored = sims.select(
        "id_a",
        "id_b",
        (
            dot_product(F.col("__va"), F.col("__vb"))
            / (F.col("__na") * F.col("__nb"))
        ).alias("sim"),
    )
    return scored.filter(F.col("sim") >= threshold).select(
        "id_a", "id_b", F.round("sim", 4).alias("sim")
    )


def cosine_banded_pairs_fused(
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
    """Single-task fused twin of ``plant_near_dups →
    cosine_banded_pairs(verify='numpy')`` for corpora below the scale
    gate (guide §1.2/§2.4: at toy scale the distributed plan is pure
    fixed cost — 6 jobs: sig persist materialization, a bucket
    broadcast, the pair-distinct exchange, two verify-map broadcasts
    each re-scanning the corpus through interpreted cast/zip_with
    HOFs, and the verify Arrow pass). This form computes the SAME
    numpy math — float32→float64 exact casts, the identical
    (n×dim)@(dim×T·b) sign matmul against the shared
    ``_rademacher_planes`` literals, per-(block, table, bucket)
    collision pairs, einsum dot / norm verify, 4-decimal round — in
    ONE mapInPandas task over the coalesced corpus: zero exchanges,
    zero broadcasts, one Arrow boundary.

    ``plant`` = (every, shift_scale, id_offset) additionally folds
    plant_near_dups into the kernel: clone = f64(v) + c·f64(roll(v))
    — the same two IEEE-double ops per element in the same order as
    the JVM zip_with (elementwise casts and +/* are deterministic, so
    the planted vectors are bit-identical).

    Callers gate on corpus file size (queries.small_table), the one
    fixed-cost-vs-slope gate every Arrow kernel here uses; above the
    gate the distributed form's bucketed self-join + broadcast verify
    is the designed scale shape."""
    import numpy as np
    import pandas as pd

    from duckdb_distributed_execution_spark import functions as _fx

    fused_cap = _fx.FUSED_KERNEL_MAX_ROWS  # captured driver-side
    planes = _rademacher_planes(n_tables * band_bits, dim)
    P = np.asarray(planes, dtype=np.float64).T  # dim x (T*b)
    weights = (1 << np.arange(band_bits)).astype(np.int64)
    thr = float(threshold)
    blk_cols = [block_col] if block_col else []
    sel = df.select(id_col, *blk_cols, vec_col)
    id_t = dict(sel.dtypes)[id_col]

    def run(batches):
        parts = [p for p in batches if len(p)]
        if not parts:
            return
        pdf = (
            pd.concat(parts, ignore_index=True)
            if len(parts) > 1
            else parts[0]
        )
        check_fused_input_rows(len(pdf), "cosine_banded_pairs_fused", fused_cap)
        ids = pdf[id_col].to_numpy()
        blk = (
            pdf[block_col].to_numpy()
            if block_col
            else np.zeros(len(pdf), dtype=np.int64)
        )
        V = np.asarray(list(pdf[vec_col]), dtype=np.float64)
        if plant is not None:
            every, shift_scale, id_offset = plant
            m = (ids % every) == 0
            C = V[m] + float(shift_scale) * np.roll(V[m], -1, axis=1)
            ids = np.concatenate([ids, ids[m] + id_offset])
            blk = np.concatenate([blk, blk[m]])
            V = np.vstack([V, C])
        n = len(ids)
        S = (V @ P) >= 0.0
        B = S.reshape(n, n_tables, band_bits) @ weights  # n x T
        ia_parts: list = []
        ib_parts: list = []
        for t in range(n_tables):
            order = np.lexsort((B[:, t], blk))
            bs, bb = blk[order], B[order, t]
            bounds = np.flatnonzero(
                np.r_[True, (bs[1:] != bs[:-1]) | (bb[1:] != bb[:-1]), True]
            )
            starts, ends = bounds[:-1], bounds[1:]
            for gi in np.flatnonzero((ends - starts) >= 2):
                idx = order[starts[gi] : ends[gi]]
                r, c = np.triu_indices(len(idx), k=1)
                ia_parts.append(idx[r])
                ib_parts.append(idx[c])
        if not ia_parts:
            return
        ia = np.concatenate(ia_parts)
        ib = np.concatenate(ib_parts)
        ida, idb = ids[ia], ids[ib]
        swap = ida > idb
        ia[swap], ib[swap] = ib[swap], ia[swap]
        uniq = np.unique(ia.astype(np.int64) * n + ib)
        ia, ib = uniq // n, uniq % n
        A, Bv = V[ia], V[ib]
        dots = np.einsum("ij,ij->i", A, Bv)
        sims = dots / (
            np.linalg.norm(A, axis=1) * np.linalg.norm(Bv, axis=1)
        )
        mask = sims >= thr
        yield pd.DataFrame(
            {
                "id_a": ids[ia[mask]],
                "id_b": ids[ib[mask]],
                "sim": np.round(sims[mask], 4),
            }
        )

    return sel.coalesce(1).mapInPandas(
        run, schema=f"id_a {id_t}, id_b {id_t}, sim double"
    )


def semantic_dedup_pairs_fused(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k_seeds: int = 8,
    threshold: float = 0.3,
    assign_round: int = 6,
    row_block: int = 4096,
) -> DataFrame:
    """Single-task fused twin of semantic_dedup_seeded's three-job
    plan (seed collect → assign_nearest_seed_numpy Arrow pass →
    groupBy(cluster) exchange → cosine_pairs_blocked_numpy Arrow
    pass) for corpora below the scale gate. Same numpy math in ONE
    mapInPandas task: rows sorted by id, the k lowest ids are the
    seeds (the orderBy/limit collect's contract), assignment is the
    identical rounded-cosine matmul with the ascending-seed-id argmax
    tie-break, and the within-cluster pass replicates
    cosine_pairs_blocked_numpy exactly (id-sorted rows, row_block
    chunked (chunk×dim)@(dim×n) score matmul, upper triangle,
    4-decimal round). Zero exchanges, zero collect jobs, one Arrow
    boundary. Above the gate the per-cluster applyInPandas remains
    the designed IVF-blocked scale shape (cluster count = the
    parallelism)."""
    import numpy as np
    import pandas as pd

    from duckdb_distributed_execution_spark import functions as _fx

    fused_cap = _fx.FUSED_KERNEL_MAX_ROWS  # captured driver-side
    sel = df.select(id_col, vec_col)
    id_t = dict(sel.dtypes)[id_col]
    thr = float(threshold)

    def run(batches):
        parts = [p for p in batches if len(p)]
        if not parts:
            return
        pdf = (
            pd.concat(parts, ignore_index=True)
            if len(parts) > 1
            else parts[0]
        )
        check_fused_input_rows(len(pdf), "semantic_dedup_pairs_fused", fused_cap)
        ids = pdf[id_col].to_numpy()
        V = np.asarray(list(pdf[vec_col]), dtype=np.float64)
        order = np.argsort(ids, kind="stable")
        ids, V = ids[order], V[order]
        seed_ids = ids[:k_seeds]
        S = V[:k_seeds]
        Sn = np.linalg.norm(S, axis=1)
        sims = np.round(
            (V @ S.T) / np.outer(np.linalg.norm(V, axis=1), Sn),
            assign_round,
        )
        best = seed_ids[np.argmax(sims, axis=1)]
        out_c: list = []
        out_a: list = []
        out_b: list = []
        out_s: list = []
        for cid in seed_ids:
            m = best == cid
            cn = int(m.sum())
            if cn < 2:
                continue
            cV = V[m]
            cids = ids[m]  # ascending (global id sort)
            norms = np.linalg.norm(cV, axis=1)
            cols_idx = np.arange(cn)
            for s in range(0, cn, row_block):
                e = min(s + row_block, cn)
                Sc = (cV[s:e] @ cV.T) / np.outer(norms[s:e], norms)
                mask = (Sc >= thr) & (
                    cols_idx[None, :] > np.arange(s, e)[:, None]
                )
                r, c = np.nonzero(mask)
                out_c.append(np.repeat(cid, len(r)))
                out_a.append(cids[r + s])
                out_b.append(cids[c])
                out_s.append(np.round(Sc[r, c], 4))
        if not out_a:
            return
        yield pd.DataFrame(
            {
                "cluster": np.concatenate(out_c),
                "id_a": np.concatenate(out_a),
                "id_b": np.concatenate(out_b),
                "sim": np.concatenate(out_s),
            }
        )

    return sel.coalesce(1).mapInPandas(
        run,
        schema=f"cluster long, id_a {id_t}, id_b {id_t}, sim double",
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
    sequential fold in the last ulps — callers needing bit-exact
    cross-engine hashes at 4-decimal rounding keep the fold path."""
    import numpy as np
    import pandas as pd

    keep = list(out_cols)
    thr = float(threshold)

    def run(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            A = np.asarray(list(pdf[a_col]), dtype=np.float64)
            B = np.asarray(list(pdf[b_col]), dtype=np.float64)
            dots = np.einsum("ij,ij->i", A, B)
            sims = dots / (
                np.linalg.norm(A, axis=1) * np.linalg.norm(B, axis=1)
            )
            mask = sims >= thr
            out = pdf.loc[mask, keep].copy()
            out["sim"] = np.round(sims[mask], 4)
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


def brute_force_topk_numpy(
    corpus: DataFrame,
    queries: list[tuple[int, list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
) -> DataFrame:
    """Exact brute-force cosine top-k with the scoring loop in ONE
    numpy matmul per Arrow batch: ``queries`` is the collected
    [(query_id, vector), ...] (q x dim floats, driver-bounded — the
    same broadcast the fold plan shipped as a literal join side).
    Each batch emits only its own top-k rows per query (ordered by
    sim DESC, neighbor id ASC — any global top-k row is necessarily
    in its batch's top-k under the same order, so the prune is
    exact), and the final window ranks q x k x n_batches candidate
    rows instead of q x |corpus|. The corpus never shuffles; the
    plan is the 100 TB exact-scan shape with the interpreted
    higher-order-function fold replaced by SIMD.
    Returns (query_id, neighbor_id, rank, sim) with sim rounded to 4
    decimals, rank 1..k."""
    import numpy as np
    import pandas as pd

    qids = np.asarray([q[0] for q in queries], dtype=np.int64)
    Q = np.asarray([q[1] for q in queries], dtype=np.float64)
    Qn = np.linalg.norm(Q, axis=1)
    dt = dict(corpus.dtypes)

    def run(batches):
        for pdf in batches:
            n = len(pdf)
            if not n:
                continue
            ids = pdf[id_col].values
            V = np.asarray(list(pdf[vec_col]), dtype=np.float64)
            S = (V @ Q.T) / np.outer(np.linalg.norm(V, axis=1), Qn)
            out_q, out_n, out_s = [], [], []
            for j in range(len(qids)):
                order = np.lexsort((ids, -S[:, j]))[: min(k, n)]
                out_q.append(np.full(len(order), qids[j]))
                out_n.append(ids[order])
                out_s.append(S[order, j])
            yield pd.DataFrame(
                {
                    "query_id": np.concatenate(out_q),
                    "neighbor_id": np.concatenate(out_n),
                    "sim": np.concatenate(out_s),
                }
            )

    cand = corpus.select(id_col, vec_col).mapInPandas(
        run,
        schema=f"query_id long, neighbor_id {dt[id_col]}, sim double",
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id")
    )
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id", "neighbor_id", "rank",
            F.round("sim", 4).alias("sim"),
        )
    )


def brute_force_topk_fused(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    query_id_below: int = 5,
) -> DataFrame:
    """Single-task fused twin of the collect + brute_force_topk_numpy
    + rank-window plan for corpora below the scale gate (r9, guide
    §1.2): ONE mapInPandas task splits the coalesced table into
    queries (id < ``query_id_below``) and corpus rows, runs the same
    (n×dim)@(dim×q) float64 score matmul, and ranks per query with
    the identical (sim DESC, neighbor id ASC) lexsort the distributed
    per-batch prune + window use — no seed-collect job, no window
    exchange, one Arrow boundary (3 jobs → 1 measured at sf0.1).
    Above the gate the streaming per-batch top-k prune is the
    designed exact-scan shape (the corpus never fits one task)."""
    import numpy as np
    import pandas as pd

    from duckdb_distributed_execution_spark import functions as _fx

    fused_cap = _fx.FUSED_KERNEL_MAX_ROWS  # captured driver-side
    dt = dict(df.dtypes)
    sel = df.select(id_col, vec_col)

    def run(batches):
        parts = [p for p in batches if len(p)]
        if not parts:
            return
        pdf = (
            pd.concat(parts, ignore_index=True)
            if len(parts) > 1
            else parts[0]
        )
        check_fused_input_rows(len(pdf), "ann_bruteforce_topk_fused", fused_cap)
        ids = pdf[id_col].to_numpy()
        V = np.asarray(list(pdf[vec_col]), dtype=np.float64)
        qm = ids < query_id_below
        qids, Q = ids[qm], V[qm]
        cids, C = ids[~qm], V[~qm]
        if not len(qids) or not len(cids):
            return
        Qn = np.linalg.norm(Q, axis=1)
        S = (C @ Q.T) / np.outer(np.linalg.norm(C, axis=1), Qn)
        out_q, out_n, out_r, out_s = [], [], [], []
        for j in range(len(qids)):
            order = np.lexsort((cids, -S[:, j]))[: min(k, len(cids))]
            out_q.append(np.full(len(order), qids[j], dtype=np.int64))
            out_n.append(cids[order])
            out_r.append(np.arange(1, len(order) + 1, dtype=np.int32))
            out_s.append(np.round(S[order, j], 4))
        yield pd.DataFrame(
            {
                "query_id": np.concatenate(out_q),
                "neighbor_id": np.concatenate(out_n),
                "rank": np.concatenate(out_r),
                "sim": np.concatenate(out_s),
            }
        )

    return sel.coalesce(1).mapInPandas(
        run,
        schema=(
            f"query_id long, neighbor_id {dt[id_col]}, "
            "rank int, sim double"
        ),
    )


def assign_nearest_seed_numpy(
    df: DataFrame,
    seeds: list[tuple[int, list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    out_col: str = "cluster",
    round_decimals: int = 6,
) -> DataFrame:
    """Nearest-seed (max rounded cosine, lowest seed id on ties)
    assignment in ONE Arrow-batched numpy pass: sims to all seeds are
    a single (batch x dim) @ (dim x k) matmul — replacing the k-way
    broadcast fan-out whose per-row interpreted higher-order-function
    dots dominated semantic_dedup_seeded's wall after the pair pass
    went numpy. ``seeds`` is the collected [(seed_id, vector), ...]
    (k x dim floats — driver-bounded, broadcast in the closure).
    Emits (id_col, out_col, vec_col): the vector rides through so the
    downstream per-cluster pass needs no join back to the corpus.
    Ties beyond rounding follow the oracle convention
    (ORDER BY sim DESC, seed_id)."""
    import numpy as np
    import pandas as pd

    seed_ids = np.asarray([s[0] for s in seeds], dtype=np.int64)
    S = np.asarray([s[1] for s in seeds], dtype=np.float64)  # k x dim
    Sn = np.linalg.norm(S, axis=1)
    order = np.argsort(seed_ids)          # tie-break: lowest seed id
    seed_ids, S, Sn = seed_ids[order], S[order], Sn[order]
    dt = dict(df.dtypes)

    def run(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            V = np.asarray(list(pdf[vec_col]), dtype=np.float64)
            sims = np.round(
                (V @ S.T) / np.outer(np.linalg.norm(V, axis=1), Sn),
                round_decimals,
            )
            # argmax returns the FIRST max index; rows are in
            # ascending seed-id order, so ties resolve to the lowest
            # seed id — the oracle's ORDER BY sim DESC, seed_id.
            best = seed_ids[np.argmax(sims, axis=1)]
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col].values,
                    out_col: best,
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
    pairs), L2-normalizes once, and emits the upper triangle of
    (V_chunk @ V.T) that clears the threshold. Rows are sorted by id
    within the block so column-index > row-index is exactly
    id_a < id_b.

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
    import numpy as np
    import pandas as pd

    dt = dict(df.dtypes)
    thr = float(threshold)
    out_names = [block_col, "id_a", "id_b", "sim"] + list(extra_out)

    def emit(pdf: pd.DataFrame) -> pd.DataFrame:
        n = len(pdf)
        empty = {
            block_col: pdf[block_col].iloc[:0],
            "id_a": pdf[id_col].iloc[:0],
            "id_b": pdf[id_col].iloc[:0],
            "sim": pd.Series([], dtype="float64"),
            **{c: pdf[c].iloc[:0] for c in extra_out},
        }
        if n < 2:
            return pd.DataFrame(empty)
        pdf = pdf.sort_values(id_col, kind="mergesort", ignore_index=True)
        ids = pdf[id_col].values
        V = np.asarray(list(pdf[vec_col]), dtype=np.float64)
        norms = np.linalg.norm(V, axis=1)
        cols_idx = np.arange(n)
        ia, ib, ss = [], [], []
        for s in range(0, n, row_block):
            e = min(s + row_block, n)
            S = (V[s:e] @ V.T) / np.outer(norms[s:e], norms)
            mask = (S >= thr) & (cols_idx[None, :] > np.arange(s, e)[:, None])
            r, c = np.nonzero(mask)
            ia.append(ids[r + s])
            ib.append(ids[c])
            ss.append(np.round(S[r, c], 4))
        ia, ib, ss = np.concatenate(ia), np.concatenate(ib), np.concatenate(ss)
        out = pd.DataFrame(
            {
                block_col: np.repeat(pdf[block_col].iloc[0], len(ia)),
                "id_a": ia,
                "id_b": ib,
                "sim": ss,
                **{c: np.repeat(pdf[c].iloc[0], len(ia)) for c in extra_out},
            }
        )
        return out

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
    from duckdb_distributed_execution_spark.functions import (
        ensure_min_parallelism,
    )

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
    quant: float = 1e6,
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

    Determinism contract (the ``ivf_assign_numpy`` convention):
    subspace d² via the oracle's expansion ⟨s,s⟩−2⟨s,c⟩+⟨c,c⟩,
    quantized to ⌊d²·quant+.5⌋ BEFORE the argmin, ties to the lowest
    code — mirrored by ``ORDER BY CAST(floor(dist*1e6+0.5) AS
    BIGINT), code`` in the ann_ivf_pq_served_topk oracle. numpy's
    pairwise dot summation can differ from DuckDB's sequential fold
    in last ulps; the quantization makes a flipped pick a
    measure-zero boundary event, and the oracle hash would catch it
    loudly. (``pq_encode`` keeps the raw-double struct-min
    convention for the wave-48 ADC family whose oracles pin it.)"""
    import numpy as np
    import pandas as pd

    spark = df.sparkSession
    cb_rows = codebook.select("sub", "code", "cv").collect()
    by_sub: dict[int, list] = {}
    for r in cb_rows:
        by_sub.setdefault(int(r["sub"]), []).append(
            (int(r["code"]), list(r["cv"]))
        )
    subs_sorted = sorted(by_sub)
    if subs_sorted != list(range(m)):
        raise ValueError(f"codebook subs {subs_sorted} != range({m})")
    CB, CBcc, CBcodes = [], [], []
    for s in range(m):
        entries = sorted(by_sub[s])  # ascending code: argmin's first
        C = np.asarray([e[1] for e in entries], dtype=np.float64)
        CB.append(C)
        CBcc.append(np.einsum("ij,ij->i", C, C))
        CBcodes.append(np.asarray([e[0] for e in entries],
                                  dtype=np.int32))
    b = spark.sparkContext.broadcast((CB, CBcc, CBcodes))
    dt = dict(df.dtypes)
    cols = [id_col, *passthrough, vec_col]

    def fn(batches):
        kCB, kcc, kcodes = b.value
        for pdf in batches:
            n = len(pdf)
            if not n:
                continue
            V = np.asarray(list(pdf[vec_col]), dtype=np.float64)
            out = np.empty((n, m), dtype=np.int32)
            for s in range(m):
                S_ = V[:, s * dsub:(s + 1) * dsub]
                ss = np.einsum("ij,ij->i", S_, S_)
                D = ss[:, None] - 2.0 * (S_ @ kCB[s].T) + kcc[s][None, :]
                DQ = np.floor(D * quant + 0.5).astype(np.int64)
                out[:, s] = kcodes[s][np.argmin(DQ, axis=1)]
            data = {id_col: np.repeat(pdf[id_col].values, m)}
            for p in passthrough:
                data[p] = np.repeat(pdf[p].values, m)
            data["sub"] = np.tile(np.arange(m, dtype=np.int32), n)
            data["code"] = out.reshape(-1)
            yield pd.DataFrame(data)

    from duckdb_distributed_execution_spark.functions import (
        ensure_min_parallelism,
    )

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
    from duckdb_distributed_execution_spark.functions import exact_sum

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
    import numpy as np

    from duckdb_distributed_execution_spark.functions import (
        dot_product,
        ensure_min_parallelism,
        exact_sum,
        l2_norm,
    )

    spark = codes.sparkSession
    cent = sorted(
        ((r[cid_col], list(r[vec_col])) for r in centroids.collect()),
        key=lambda t: t[0],
    )
    cids = np.asarray([c[0] for c in cent], dtype=np.int64)
    C = np.asarray([c[1] for c in cent], dtype=np.float64)
    cc = np.einsum("ij,ij->i", C, C)
    qrows = [
        (r[id_col], list(r[vec_col]))
        for r in queries.select(id_col, vec_col).collect()
    ]
    Q = np.asarray([r[1] for r in qrows], dtype=np.float64)
    qq = np.einsum("ij,ij->i", Q, Q)
    graph_nbrs = None
    if graph_rows is not None and graph_edges is not None:
        pos = {int(c): i for i, c in enumerate(cids)}
        by_src: dict[int, list[tuple[int, int]]] = {}
        for src, dst, rank in graph_rows:
            by_src.setdefault(pos[int(src)], []).append(
                (int(rank), pos[int(dst)])
            )
        graph_nbrs = [
            [j for _, j in sorted(by_src.get(i, []))[:graph_edges]]
            for i in range(len(cids))
        ]
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
    batch builder wants. Same plan shape as brute_force_topk_numpy
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
    import numpy as np
    import pandas as pd

    aids = np.asarray([a[0] for a in anchors], dtype=np.int64)
    albl = np.asarray([a[1] for a in anchors], dtype=np.int64)
    A = np.asarray([a[2] for a in anchors], dtype=np.float64)
    An = np.linalg.norm(A, axis=1)
    dt = dict(corpus.dtypes)

    def run(batches):
        for pdf in batches:
            n = len(pdf)
            if not n:
                continue
            ids = pdf[id_col].values
            lbl = np.asarray(pdf[label_col].values, dtype=np.int64)
            V = np.asarray(list(pdf[vec_col]), dtype=np.float64)
            S = (V @ A.T) / np.outer(np.linalg.norm(V, axis=1), An)
            mask = lbl[:, None] == albl[None, :]
            S = np.where(mask, -np.inf, S)
            out_a, out_n, out_s = [], [], []
            for j in range(len(aids)):
                order = np.lexsort((ids, -S[:, j]))[: min(k, n)]
                keep = order[np.isfinite(S[order, j])]
                out_a.append(np.full(len(keep), aids[j]))
                out_n.append(ids[keep])
                out_s.append(S[keep, j])
            yield pd.DataFrame(
                {
                    "anchor_id": np.concatenate(out_a),
                    "neighbor_id": np.concatenate(out_n),
                    "sim": np.concatenate(out_s),
                }
            )

    cand = corpus.select(id_col, vec_col, label_col).mapInPandas(
        run,
        schema=f"anchor_id long, neighbor_id {dt[id_col]}, sim double",
    )
    w = Window.partitionBy("anchor_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id")
    )
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "anchor_id", "neighbor_id", "rank",
            F.round("sim", 4).alias("sim"),
        )
    )
