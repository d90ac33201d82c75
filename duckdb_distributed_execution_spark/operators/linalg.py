"""Distributed dense linear algebra over embedding columns: the
covariance/Gram pass and PCA projection — the dimensionality-reduction
step semantic-dedup / ANN pipelines run before clustering (SemDeDup
et al. reduce with PCA before k-means; whitening is the same pass).

The 100 TB shape is the classic two-phase Gram computation:

1. **Partial pass** (`_gram_partials` via mapInPandas): each Arrow
   batch contributes one row of (count, Σx[D], Σxᵢxⱼ[D·D]) — numpy
   matmul-shaped work, no shuffle, partials are #batches × (D²+D)
   longs. D is the embedding width (64 here; even D=4096 keeps a
   partial row at ~128 MB — chunked per 256 rows so the outer-product
   intermediate stays ~8 MB).
2. **Combine**: posexplode + grouped SUM — a shuffle over
   #batches·D² rows, data-size-independent.

Determinism: per-row values and products are quantized to scaled
longs (floor(v·1e9 + 0.5), round-half-up) BEFORE summation, so the
sums are exact integers independent of partitioning/accumulation
order and the DuckDB oracle (same quantization in SQL) hashes
identically. The downstream covariance arithmetic is written with
identical operation order on both engines. Quantization scale vs
corpus size: int64 overflows at ~9.2e18, so 1e9-scaled O(1) products
hold to ~1e9 rows per partial chain; a 100 TB deployment drops the
scale to 1e6 or combines hierarchically (the partial relation is
mergeable by construction).

The eigen step runs on the DRIVER over the D×D matrix — D² floats,
data-size-independent, exactly the k-means-centroid pattern
similarity.py already uses; components broadcast back for the
projection matmul. Reference has no linear-algebra surface
(north-star greenfield, BASELINE.json).
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from duckdb_distributed_execution_spark.functions import (
    check_fused_input_rows,
    local_rows_df,
)

_SCALE = 1e9
_CHUNK = 256


def _gram_partials(vec_col: str):
    def fn(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            if not len(pdf):
                continue
            X = np.vstack(
                [np.asarray(v, dtype=np.float64) for v in pdf[vec_col]]
            )
            d = X.shape[1]
            sx = np.zeros(d, dtype=np.int64)
            sxy = np.zeros((d, d), dtype=np.int64)
            for lo in range(0, X.shape[0], _CHUNK):
                c = X[lo : lo + _CHUNK]
                sx += np.floor(c * _SCALE + 0.5).astype(np.int64).sum(axis=0)
                outer = c[:, :, None] * c[:, None, :]
                sxy += (
                    np.floor(outer * _SCALE + 0.5).astype(np.int64).sum(axis=0)
                )
            yield pd.DataFrame(
                {
                    "n": [int(X.shape[0])],
                    "sx": [sx.tolist()],
                    "sxy": [sxy.reshape(-1).tolist()],
                }
            )

    return fn


def gram_partial_sums(df: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """One row per Arrow batch: (n, Σ⌊x·1e9+.5⌋ [D], flattened
    Σ⌊xᵢxⱼ·1e9+.5⌋ [D·D] row-major)."""
    return df.select(vec_col).mapInPandas(
        _gram_partials(vec_col), schema="n long, sx array<long>, sxy array<long>"
    )


def covariance_entries(
    df: DataFrame, vec_col: str = "embedding", dim: int | None = None
) -> DataFrame:
    """Upper-triangle population covariance entries (dim_i, dim_j, cov)
    as a DataFrame, 1-based dims, cov = E[xy] − E[x]E[y] computed from
    the quantized exact sums. ``dim`` defaults to a one-row probe."""
    if dim is None:
        dim = len(df.select(vec_col).head()[0])
    pr = gram_partial_sums(df, vec_col)
    n = pr.agg(F.sum("n").alias("c"))
    sx = (
        pr.select(F.posexplode("sx").alias("i0", "v"))
        .groupBy("i0")
        .agg(F.sum("v").alias("sx"))
    )
    sxy = (
        pr.select(F.posexplode("sxy").alias("k", "v"))
        .groupBy("k")
        .agg(F.sum("v").alias("sxy"))
        .select(
            (F.floor(F.col("k") / dim)).alias("i0"),
            (F.col("k") % dim).alias("j0"),
            "sxy",
        )
        .filter(F.col("i0") <= F.col("j0"))
    )
    sxa = F.broadcast(sx.select(F.col("i0"), F.col("sx").alias("sxi")))
    sxb = F.broadcast(
        sx.select(F.col("i0").alias("j0"), F.col("sx").alias("sxj"))
    )
    c = F.col("c").cast("double")
    cov = (F.col("sxy") / F.lit(_SCALE)) / c - (
        (F.col("sxi") / F.lit(_SCALE)) / c
    ) * ((F.col("sxj") / F.lit(_SCALE)) / c)
    return (
        sxy.join(sxa, "i0")
        .join(sxb, "j0")
        .crossJoin(F.broadcast(n))
        .select(
            (F.col("i0") + 1).cast("long").alias("dim_i"),
            (F.col("j0") + 1).cast("long").alias("dim_j"),
            cov.alias("cov"),
        )
    )


def gram_totals(
    df: DataFrame, vec_col: str = "embedding", dim: int | None = None
) -> tuple[int, np.ndarray, np.ndarray]:
    """ONE corpus pass → driver-side exact quantized totals
    (n, Σ⌊x·1e9+.5⌋ [D] int64, Σ⌊xᵢxⱼ·1e9+.5⌋ [D×D] int64).

    The expensive mapInPandas Gram pass runs exactly once
    (localCheckpoint pins the #batches×(D²+D) partial relation); the
    n/sx/sxy reductions then run over the tiny pinned partials. The
    driver collects D + D² longs — data-size-independent, and no
    larger than the D×D matrix the eigen step needs anyway."""
    if dim is None:
        dim = len(df.select(vec_col).head()[0])
    pr = gram_partial_sums(df, vec_col).localCheckpoint()
    n = int(pr.agg(F.sum("n")).head()[0] or 0)
    sx = np.zeros(dim, dtype=np.int64)
    for r in (
        pr.select(F.posexplode("sx").alias("i0", "v"))
        .groupBy("i0")
        .agg(F.sum("v").alias("s"))
        .collect()
    ):
        sx[r["i0"]] = r["s"]
    sxy = np.zeros(dim * dim, dtype=np.int64)
    for r in (
        pr.select(F.posexplode("sxy").alias("k", "v"))
        .groupBy("k")
        .agg(F.sum("v").alias("s"))
        .collect()
    ):
        sxy[r["k"]] = r["s"]
    pr.unpersist()
    return n, sx, sxy.reshape(dim, dim)


def _cov_from_totals(n: int, sx: np.ndarray, sxy: np.ndarray) -> np.ndarray:
    # Same operation ORDER as covariance_entries' SQL-side formula
    # ((sxy/S)/n − ((sxi/S)/n)·((sxj/S)/n)) — elementwise IEEE doubles,
    # so the driver matrix matches the oracle-checked entries bitwise.
    c = float(n)
    ex = (sx.astype(np.float64) / _SCALE) / c
    return (sxy.astype(np.float64) / _SCALE) / c - ex[:, None] * ex[None, :]


def covariance_matrix(
    df: DataFrame, vec_col: str = "embedding", dim: int | None = None
) -> tuple[int, np.ndarray]:
    """Driver-side (n, D×D covariance ndarray) from ONE Gram pass
    (ADVICE r5: the old form ran covariance_entries + a separate
    df.count() — two extra full-corpus scans)."""
    n, sx, sxy = gram_totals(df, vec_col, dim)
    return n, _cov_from_totals(n, sx, sxy)


def pca_components(
    df: DataFrame, vec_col: str = "embedding", q: int = 8
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """(mean[D], eigenvalues[q] desc, components[q×D]) from the
    distributed covariance + driver eigh. Component signs are
    canonicalized (largest-|coord| entry positive) so results are
    deterministic across LAPACK builds. n, mean and covariance all
    derive from a SINGLE gram_totals corpus pass (ADVICE r5: was
    2-3 redundant scans)."""
    n, sx, sxy = gram_totals(df, vec_col)
    mean = sx.astype(np.float64) / _SCALE / n
    cov = _cov_from_totals(n, sx, sxy)
    vals, vecs = np.linalg.eigh(cov)
    order = np.argsort(vals)[::-1][:q]
    comps = vecs[:, order].T
    for r in range(comps.shape[0]):
        m = np.argmax(np.abs(comps[r]))
        if comps[r, m] < 0:
            comps[r] = -comps[r]
    return mean, vals[order], comps


def pca_project(
    df: DataFrame,
    vec_col: str = "embedding",
    q: int = 8,
    out_col: str = "pca",
    id_cols: tuple[str, ...] = ("vec_id",),
) -> DataFrame:
    """Center + project every vector onto the top-q principal
    components: one broadcast (mean, components) + a numpy matmul per
    Arrow batch — no shuffle, corpus never moves."""
    mean, _, comps = pca_components(df, vec_col, q)
    spark = df.sparkSession
    b = spark.sparkContext.broadcast((mean, comps))

    def fn(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        mu, w = b.value
        for pdf in it:
            if not len(pdf):
                continue
            X = np.vstack(
                [np.asarray(v, dtype=np.float64) for v in pdf[vec_col]]
            )
            P = (X - mu) @ w.T
            out = pdf[list(id_cols)].copy()
            out[out_col] = list(P.astype(np.float64))
            yield out

    id_schema = ", ".join(
        f"{c} {df.schema[c].dataType.simpleString()}" for c in id_cols
    )
    return df.select(*id_cols, vec_col).mapInPandas(
        fn, schema=f"{id_schema}, {out_col} array<double>"
    )


def kcenter_greedy(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 6,
    quant: float = 1e6,
) -> DataFrame:
    """k-center greedy (farthest-point) coreset selection — the
    classic data-curation pick (Sener & Savarese 2018 active-learning
    coresets): start from the minimum id, then k−1 times add the point
    farthest (squared L2) from its nearest chosen center.

    Scale shape: the selection is inherently sequential (k bounded,
    like the BPE trainer's merge loop), but each round is ONE corpus
    scan — a numpy d² pass against the single new center (broadcast
    64 floats) folded into the running min-distance relation (narrow:
    id + one long), localCheckpoint-pinned; the argmax is a bounded
    driver fetch. Distances are quantized to ⌊d²·1e6+.5⌋ longs BEFORE
    the argmax; exact quantized ties break by id — mirrored by the
    unrolled-CTE DuckDB oracle in queries/pipeline50.py.

    Cross-engine determinism contract (ADVICE r5): d² is computed via
    the SAME dot-product expansion on both sides —
    dot(e,e) − 2·dot(e,c) + dot(c,c), identical operation order —
    NOT ((e−c)²).sum, which differs from the expansion in last ulps.
    Residual risk, stated honestly: numpy and DuckDB may still sum a
    single dot product in different element orders, so a distance
    within ~1 ulp of a 0.5·1e-6 quantization boundary could in
    principle still flip by 1 and change a greedy pick. The
    quantization makes this a measure-zero boundary event rather than
    a certainty, and the pinned oracle hash would catch it loudly.
    Duplicate points are legal: once every point has distance 0 the
    argmax degenerates to the minimum id, identically on both
    engines."""
    import numpy as np
    import pandas as pd

    spark = df.sparkSession
    first = df.orderBy(id_col).select(id_col, vec_col).head()
    cur_id, cur_vec = first[0], np.asarray(first[1], dtype=np.float64)
    picks = [(0, int(cur_id), 0.0)]
    dist = None
    for t in range(1, k):
        b = spark.sparkContext.broadcast(cur_vec)

        def d2q(batches):
            c = b.value
            cc = float(np.dot(c, c))
            for pdf in batches:
                if not len(pdf):
                    continue
                V = np.asarray(list(pdf[vec_col]), dtype=np.float64)
                # dot(e,e) − 2·dot(e,c) + dot(c,c), the oracle's exact
                # expansion and operation order (see docstring).
                d = np.einsum("ij,ij->i", V, V) - 2.0 * (V @ c) + cc
                yield pd.DataFrame(
                    {
                        "vec_id_": pdf[id_col].values,
                        "dq": np.floor(d * quant + 0.5).astype(np.int64),
                    }
                )

        nd = df.select(id_col, vec_col).mapInPandas(
            d2q, schema="vec_id_ long, dq long"
        )
        if dist is None:
            dist = nd.localCheckpoint()
        else:
            dist = (
                dist.join(nd.withColumnRenamed("dq", "dq2"), "vec_id_")
                .select("vec_id_", F.least("dq", "dq2").alias("dq"))
                .localCheckpoint()
            )
        top = dist.orderBy(F.col("dq").desc(), "vec_id_").head()
        cur_id, seldq = int(top[0]), int(top[1])
        cur_vec = np.asarray(
            df.filter(F.col(id_col) == cur_id).select(vec_col).head()[0],
            dtype=np.float64,
        )
        picks.append((t, cur_id, seldq / quant))
    return local_rows_df(
        spark, picks, f"sel_round long, {id_col} long, dist double"
    ).select("sel_round", id_col, F.round("dist", 4).alias("dist"))


def kcenter_greedy_fused(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 6,
    quant: float = 1e6,
) -> DataFrame:
    """Size-gated single-task twin of :func:`kcenter_greedy` (guide
    §1.2: at toy scale the distributed loop is 3 jobs × (k−1) rounds
    of pure fixed cost — mapInPandas scan, checkpointed least-fold,
    argmax fetch, plus a pushed-filter vec fetch — while the compute
    is microseconds). The whole greedy loop runs in ONE coalesced
    mapInPandas task over the corpus, result-identical by
    construction: the same ``dot(e,e) − 2·(V@c) + dot(c,c)`` numpy
    expansion per row (row dots are row-local, so batching cannot
    change them; the K=dim axis the BLAS kernel reduces over is the
    same in both forms), the same ⌊d²·quant+.5⌋ int64 quantization
    BEFORE the fold, the same elementwise least across rounds, the
    same (max dq, then min id) pick, and the same min-id first pick.
    Callers gate on corpus file size (queries.small_table, the repo's
    one scale gate); above the gate the distributed loop —
    whose per-round scan parallelizes — is untouched."""
    import numpy as np
    import pandas as pd

    from duckdb_distributed_execution_spark import functions as _fx

    fused_cap = _fx.FUSED_KERNEL_MAX_ROWS  # captured driver-side
    schema = f"sel_round long, {id_col} long, dist double"

    def run(batches):
        parts = [p for p in batches if len(p)]
        if not parts:
            return
        pdf = (
            pd.concat(parts, ignore_index=True)
            if len(parts) > 1
            else parts[0]
        )
        check_fused_input_rows(len(pdf), "kcenter_greedy_fused", fused_cap)
        ids = pdf[id_col].values
        V = np.asarray(list(pdf[vec_col]), dtype=np.float64)
        ee = np.einsum("ij,ij->i", V, V)
        sel = int(np.argmin(ids))
        picks = [(0, int(ids[sel]), 0.0)]
        cur = V[sel]
        dist = None
        for t in range(1, k):
            cc = float(np.dot(cur, cur))
            d = ee - 2.0 * (V @ cur) + cc
            dq = np.floor(d * quant + 0.5).astype(np.int64)
            dist = dq if dist is None else np.minimum(dist, dq)
            m = dist.max()
            cand = np.flatnonzero(dist == m)
            sel = int(cand[np.argmin(ids[cand])])
            picks.append((t, int(ids[sel]), float(int(dist[sel]) / quant)))
            cur = V[sel]
        yield pd.DataFrame(
            picks, columns=["sel_round", id_col, "dist"]
        )

    return (
        df.select(id_col, vec_col)
        .coalesce(1)
        .mapInPandas(run, schema=schema)
        .select("sel_round", id_col, F.round("dist", 4).alias("dist"))
    )
