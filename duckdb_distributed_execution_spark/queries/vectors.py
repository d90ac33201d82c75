"""Array-column surface + similarity search over embeddings.

Array ops mirror the reference's LIST support
(test/sql/list_type_support.test: len, 1-based indexing, unnest,
list_contains → SURVEY §2.C). Similarity search is north-star
greenfield (BASELINE.json): brute-force cosine top-k as the exact
baseline, and a random-hyperplane LSH bucketed variant as the scale
path (at 100 TB the brute-force candidate set is the whole table;
LSH buckets cut candidates by orders of magnitude and the bucket
join is a plain shuffled hash join).

Cross-engine determinism: dot products fold left-to-right over
doubles on both sides (Spark ``F.aggregate`` ≡ DuckDB
``list_dot_product`` over ``DOUBLE[]``); reported similarities are
ROUND()ed to 4 decimals (cross-engine drift is O(1e-12) on O(1)
values)."""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from duckdb_distributed_execution_spark.functions import (
    EXACT_DECIMAL,
    dot_product,
    exact_avg_rounded,
    l2_norm,
    oracle_exact_avg,
    oracle_exact_avg_rounded,
    oracle_exact_sum,
)
from duckdb_distributed_execution_spark.queries import arr_str, load, register


@register(
    "array_ops",
    oracle="""
    SELECT vec_id, label,
           CAST(len(embedding) AS INTEGER) AS dim,
           embedding[1] AS first_elem,
           embedding[-1] AS last_elem,
           ROUND(CAST(embedding[1] AS DOUBLE) + CAST(embedding[2] AS DOUBLE), 4) AS head_sum
    FROM embeddings
    WHERE vec_id % 5 = 0
    """,
)
def array_ops(spark, sf_dir):
    """LIST parity: len / 1-based index / negative index
    (list_type_support.test:82-118)."""
    e = load(spark, sf_dir, "embeddings")["embeddings"]
    return e.filter(F.col("vec_id") % 5 == 0).select(
        "vec_id",
        "label",
        F.size("embedding").alias("dim"),
        F.element_at("embedding", 1).alias("first_elem"),
        F.element_at("embedding", -1).alias("last_elem"),
        F.round(
            F.element_at("embedding", 1).cast("double")
            + F.element_at("embedding", 2).cast("double"),
            4,
        ).alias("head_sum"),
    )


@register(
    "array_explode",
    oracle="""
    SELECT label,
           COUNT(*) AS n_elems,
           CAST(SUM(CAST(CAST(e AS DOUBLE) AS DECIMAL(28,6))) AS DOUBLE) AS sum_elems
    FROM (SELECT label, UNNEST(embedding) AS e FROM embeddings)
    GROUP BY label
    """,
)
def array_explode(spark, sf_dir):
    """UNNEST parity — explode 64-dim vectors and aggregate."""
    e = load(spark, sf_dir, "embeddings")["embeddings"]
    return (
        e.select("label", F.explode("embedding").alias("e"))
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_elems"),
            F.sum(F.col("e").cast("double").cast(EXACT_DECIMAL))
            .cast("double")
            .alias("sum_elems"),
        )
    )


@register(
    "vector_norms",
    oracle="""
    SELECT label,
           COUNT(*) AS n_vecs,
           ROUND(MIN(sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                           CAST(embedding AS DOUBLE[])))), 4) AS min_norm,
           ROUND(MAX(sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                           CAST(embedding AS DOUBLE[])))), 4) AS max_norm
    FROM embeddings
    GROUP BY label
    """,
)
def vector_norms(spark, sf_dir):
    e = load(spark, sf_dir, "embeddings")["embeddings"]
    norm = l2_norm(F.col("embedding"))
    return e.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_vecs"),
        F.round(F.min(norm), 4).alias("min_norm"),
        F.round(F.max(norm), 4).alias("max_norm"),
    )


_ORACLE_COSINE = """
    list_dot_product({a}, {b})
    / (sqrt(list_dot_product({a}, {a})) * sqrt(list_dot_product({b}, {b})))
"""


@register(
    "ann_bruteforce_topk",
    headline=True,
    oracle=f"""
    WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
               FROM embeddings WHERE vec_id < 5),
         c AS (SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS cv
               FROM embeddings WHERE vec_id >= 5),
         sims AS (
           SELECT query_id, neighbor_id,
                  {_ORACLE_COSINE.format(a='qv', b='cv')} AS sim
           FROM q CROSS JOIN c)
    SELECT query_id, neighbor_id,
           CAST(rn AS INTEGER) AS rank,
           ROUND(sim, 4) AS sim
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                       ORDER BY sim DESC, neighbor_id) AS rn
          FROM sims)
    WHERE rn <= 10
    """,
)
def ann_bruteforce_topk(spark, sf_dir):
    """Exact ANN baseline: the 5 lowest ids are the queries, the rest
    the corpus, over ONE scan (brute_force_topk, the operator
    Engine.ann_topk(method='brute') runs). Below the scale gate it is
    one task; above it the collected query set (5 x 64 floats,
    driver-bounded) scores the partitioned corpus in one numpy matmul
    per Arrow batch, each batch keeping its per-query top-k, so the
    rank window sees q x k x n_batches rows, not q x |corpus|. The
    corpus never shuffles — the 100 TB exact-scan shape. Both forms
    return unrounded sims; the 4-decimal round the oracle compares is
    this query's final select."""
    from duckdb_distributed_execution_spark.operators.similarity import (
        brute_force_topk,
    )

    e = load(spark, sf_dir, "embeddings")["embeddings"]
    out = brute_force_topk(
        e, F.col("vec_id") < 5, id_col="vec_id", vec_col="embedding", k=10
    )
    return out.select(
        "query_id", "neighbor_id", "rank", F.round("sim", 4).alias("sim")
    )


def _hyperplanes(n_planes: int = 8, dim: int = 64) -> list[list[float]]:
    """Deterministic pseudo-random ±small-integer hyperplanes — shared
    literal between the Spark plan and the DuckDB oracle (no RNG: the
    workflow runtime and the oracle must agree bit-for-bit)."""
    return [
        [float(((3 + 7 * j + 11 * i + (i * i + j * j * 5) % 17) % 13) - 6)
         for i in range(dim)]
        for j in range(n_planes)
    ]


def _rademacher_planes(
    n_planes: int, dim: int = 64, seed: int = 20240807
) -> list[list[float]]:
    """Seeded iid ±1 hyperplanes for sign-LSH. The round-3 structured
    integer planes (_hyperplanes) are correlated across plane index —
    measured banded-LSH recall came in at 0.909 where the iid-plane
    theory predicts 0.96+; iid Rademacher signs restore the 1-theta/pi
    collision model (the projection onto a random-sign direction is
    Gaussian by CLT) while keeping the oracle literals short. Seeded
    stdlib RNG → deterministic at code-author time; both engines
    consume the same literal values."""
    import random

    rng = random.Random(seed)
    return [
        [1.0 if rng.random() < 0.5 else -1.0 for _ in range(dim)]
        for _ in range(n_planes)
    ]


def _oracle_lsh_bucket(col: str, planes: list[list[float]]) -> str:
    bits = []
    for j, w in enumerate(planes):
        arr = "[" + ", ".join(repr(v) for v in w) + "]::DOUBLE[]"
        bits.append(
            f"(CASE WHEN list_dot_product({col}, {arr}) >= 0 THEN {1 << j} ELSE 0 END)"
        )
    return "(" + " + ".join(bits) + ")"


@register(
    "ann_lsh_buckets",
    oracle=f"""
    WITH b AS (
      SELECT vec_id, label,
             {_oracle_lsh_bucket('CAST(embedding AS DOUBLE[])', _hyperplanes())} AS bucket
      FROM embeddings)
    SELECT bucket, COUNT(*) AS n_vecs, COUNT(DISTINCT label) AS n_labels
    FROM b GROUP BY bucket
    """,
)
def ann_lsh_buckets(spark, sf_dir):
    """Random-hyperplane LSH bucketing — the scale path for ANN: a
    deterministic 8-bit signature partitions the corpus into 256
    buckets; neighbor candidates come from one bucket (or
    Hamming-adjacent buckets), turning ANN into an equi-join."""
    e = load(spark, sf_dir, "embeddings")["embeddings"]
    bucket = lsh_bucket(F.col("embedding"), _hyperplanes())
    return (
        e.select("vec_id", "label", bucket.alias("bucket"))
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.countDistinct("label").alias("n_labels"),
        )
    )


def lsh_bucket(vec, planes: list[list[float]]):
    """Spark column: LSH bucket id from sign bits of plane projections."""
    total = F.lit(0)
    for j, w in enumerate(planes):
        arr = F.array(*[F.lit(v) for v in w])
        proj = dot_product(vec, arr)
        total = total + F.when(proj >= 0, F.lit(1 << j)).otherwise(F.lit(0))
    return total


_IVF_ASSIGN = """
    cents AS (SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS cv
              FROM embeddings WHERE vec_id < 8),
    vecs AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
             FROM embeddings WHERE vec_id >= 8),
    d AS (SELECT vec_id, cid,
                 (list_dot_product(v, v) - 2.0 * list_dot_product(v, cv))
                   + list_dot_product(cv, cv) AS dist,
                 v
          FROM vecs CROSS JOIN cents),
    assign AS (SELECT vec_id, cid, v,
                      ROW_NUMBER() OVER (
                        PARTITION BY vec_id
                        ORDER BY CAST(floor(dist * 1000000.0 + 0.5)
                                      AS BIGINT), cid) AS rn
               FROM d)
"""
# ^ the assignment rank compares QUANTIZED distances (⌊d²·1e6+.5⌋,
# cid tiebreak) — the engine's numpy corpus assignment and its JVM
# query-side probe rank use the identical ordering, so a last-ulp
# summation-order wobble between numpy and DuckDB's sequential fold
# cannot flip a cell pick except exactly at a quantization boundary
# (the kcenter convention; residual risk documented in
# operators/similarity.py::ivf_assign_numpy).


@register(
    "ann_ivf_cells",
    oracle=f"""
    WITH {_IVF_ASSIGN}
    SELECT cid, COUNT(*) AS n_vecs
    FROM assign WHERE rn = 1 GROUP BY cid
    """,
)
def ann_ivf_cells(spark, sf_dir):
    """IVF index build: corpus partitioned into centroid cells
    (centroids = a deterministic seed subset standing in for k-means
    output; the assignment argmin is the oracle-checked part — swap
    in trained centroids and nothing else changes)."""
    from duckdb_distributed_execution_spark.operators.similarity import (
        ivf_assign_numpy,
    )

    e = load(spark, sf_dir, "embeddings")["embeddings"]
    cents = e.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("cid"), "embedding"
    )
    corpus = e.filter(F.col("vec_id") >= 8)
    return (
        ivf_assign_numpy(corpus, cents)
        .groupBy("cid")
        .agg(F.count(F.lit(1)).alias("n_vecs"))
    )


@register(
    "ann_ivf_topk",
    oracle=f"""
    WITH {_IVF_ASSIGN},
    cells AS (SELECT vec_id, cid, v FROM assign WHERE rn = 1),
    q AS (SELECT vec_id AS query_id, cid, v AS qv FROM cells WHERE vec_id < 13),
    sims AS (
      SELECT q.query_id, c.vec_id AS neighbor_id,
             list_dot_product(qv, c.v)
               / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(c.v, c.v)))
               AS sim
      FROM q JOIN cells c ON q.cid = c.cid)
    SELECT query_id, neighbor_id, CAST(rn2 AS INTEGER) AS rank, ROUND(sim, 4) AS sim
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                       ORDER BY sim DESC, neighbor_id) AS rn2
          FROM sims)
    WHERE rn2 <= 5
    """,
)
def ann_ivf_topk(spark, sf_dir):
    """IVF probe: each query searches only its centroid cell —
    candidates shrink ~n_cells× vs brute force, and the cell join is
    an equi-join (the 100 TB ANN path when LSH recall is not enough)."""
    from duckdb_distributed_execution_spark.operators.similarity import ivf_topk

    e = load(spark, sf_dir, "embeddings")["embeddings"]
    cents = e.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("cid"), "embedding"
    )
    corpus = e.filter(F.col("vec_id") >= 8)
    queries = e.filter((F.col("vec_id") >= 8) & (F.col("vec_id") < 13))
    out = ivf_topk(corpus, queries, cents, k=5)
    return out.select(
        "query_id", "neighbor_id", "rank", F.round("sim", 4).alias("sim")
    )


@register(
    "ann_ivf_multiprobe_topk",
    oracle=f"""
    WITH {_IVF_ASSIGN},
    cells AS (SELECT vec_id, cid, v FROM assign WHERE rn = 1),
    qp AS (SELECT vec_id AS query_id, cid, v AS qv
           FROM assign WHERE vec_id < 13 AND rn <= 2),
    sims AS (
      SELECT qp.query_id, c.vec_id AS neighbor_id,
             list_dot_product(qv, c.v)
               / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(c.v, c.v)))
               AS sim
      FROM qp JOIN cells c ON qp.cid = c.cid)
    SELECT query_id, neighbor_id, CAST(rn2 AS INTEGER) AS rank, ROUND(sim, 4) AS sim
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                       ORDER BY sim DESC, neighbor_id) AS rn2
          FROM sims)
    WHERE rn2 <= 5
    """,
)
def ann_ivf_multiprobe_topk(spark, sf_dir):
    """Multi-probe IVF: each query searches its 2 nearest cells —
    the standard recall knob for a quantized ANN index (candidates
    grow nprobe×, still ~n_cells/nprobe× below brute force). Probed
    cells are distinct and membership is unique, so the union of cell
    joins is duplicate-free by construction."""
    from duckdb_distributed_execution_spark.operators.similarity import ivf_topk

    e = load(spark, sf_dir, "embeddings")["embeddings"]
    cents = e.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("cid"), "embedding"
    )
    corpus = e.filter(F.col("vec_id") >= 8)
    queries = e.filter((F.col("vec_id") >= 8) & (F.col("vec_id") < 13))
    out = ivf_topk(corpus, queries, cents, k=5, nprobe=2)
    return out.select(
        "query_id", "neighbor_id", "rank", F.round("sim", 4).alias("sim")
    )


@register(
    "ann_graph_routed_topk",
    oracle=f"""
    WITH {_IVF_ASSIGN},
    cells AS (SELECT vec_id, cid, v FROM assign WHERE rn = 1),
    cg AS (
      SELECT src, dst FROM (
        SELECT a.cid AS src, b.cid AS dst,
               ROW_NUMBER() OVER (
                 PARTITION BY a.cid
                 ORDER BY CAST(floor(
                   ((list_dot_product(a.cv, a.cv)
                     - 2.0 * list_dot_product(a.cv, b.cv))
                    + list_dot_product(b.cv, b.cv)) * 1000000.0 + 0.5)
                   AS BIGINT), b.cid) AS rn
        FROM cents a JOIN cents b ON a.cid <> b.cid)
      WHERE rn <= 2),
    entry AS (SELECT vec_id AS query_id, cid, v AS qv
              FROM assign WHERE vec_id < 13 AND rn = 1),
    probe AS (
      SELECT query_id, cid FROM entry
      UNION
      SELECT e.query_id, g.dst AS cid FROM entry e JOIN cg g ON g.src = e.cid),
    qv AS (SELECT query_id, qv FROM entry),
    sims AS (
      SELECT p.query_id, c.vec_id AS neighbor_id,
             list_dot_product(q.qv, c.v)
               / (sqrt(list_dot_product(q.qv, q.qv))
                  * sqrt(list_dot_product(c.v, c.v))) AS sim
      FROM probe p JOIN qv q USING (query_id) JOIN cells c ON p.cid = c.cid)
    SELECT query_id, neighbor_id, CAST(rn2 AS INTEGER) AS rank, ROUND(sim, 4) AS sim
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                       ORDER BY sim DESC, neighbor_id) AS rn2
          FROM sims)
    WHERE rn2 <= 5
    """,
)
def ann_graph_routed_topk(spark, sf_dir):
    """Graph-routed ANN (wave 59): the index build adds a centroid
    k-NN GRAPH (each centroid's 2 nearest other centroids, same
    quantized-d² convention as the assignment); a query probes its
    entry cell plus the entry's graph neighbors — the cluster-graph /
    HNSW-layer-0 routing real retrieval stacks use. Unlike nprobe
    multiprobe (runner-up cells re-ranked per query), the expansion
    set is a build-time table lookup: at 100 TB the graph is
    |centroids|×R and broadcasts with the centroids, queries never
    rank the centroid set beyond their single argmin, and the corpus
    side stays the one fused assign+score Arrow pass."""
    from duckdb_distributed_execution_spark.operators.similarity import ivf_topk

    e = load(spark, sf_dir, "embeddings")["embeddings"]
    cents = e.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("cid"), "embedding"
    )
    corpus = e.filter(F.col("vec_id") >= 8)
    queries = e.filter((F.col("vec_id") >= 8) & (F.col("vec_id") < 13))
    out = ivf_topk(corpus, queries, cents, k=5, graph_edges=2)
    return out.select(
        "query_id", "neighbor_id", "rank", F.round("sim", 4).alias("sim")
    )


@register(
    "ann_served_multiprobe_topk",
    # identical semantics to ann_ivf_multiprobe_topk — same oracle —
    # but the ENGINE path is the wave-61 serving kernel over a
    # PRE-ASSIGNED cell relation (ivf_serve_topk), so the driver's
    # correctness gate covers the persisted-index serve path, not
    # just the online assign+probe path.
    oracle=f"""
    WITH {_IVF_ASSIGN},
    cells AS (SELECT vec_id, cid, v FROM assign WHERE rn = 1),
    qp AS (SELECT vec_id AS query_id, cid, v AS qv
           FROM assign WHERE vec_id < 13 AND rn <= 2),
    sims AS (
      SELECT qp.query_id, c.vec_id AS neighbor_id,
             list_dot_product(qv, c.v)
               / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(c.v, c.v)))
               AS sim
      FROM qp JOIN cells c ON qp.cid = c.cid)
    SELECT query_id, neighbor_id, CAST(rn2 AS INTEGER) AS rank, ROUND(sim, 4) AS sim
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                       ORDER BY sim DESC, neighbor_id) AS rn2
          FROM sims)
    WHERE rn2 <= 5
    """,
)
def ann_served_multiprobe_topk(spark, sf_dir):
    """The persisted-index SERVE path (wave 61): the corpus is
    assigned once (the index build's cells relation), then ivf_serve_
    topk answers the query batch from the pre-assigned cells — no
    re-assignment, scan filtered to probed cells. Same results as
    ann_ivf_multiprobe_topk by construction (shared routing and
    scoring kernels); this entry proves it against the oracle."""
    from duckdb_distributed_execution_spark.operators.similarity import (
        ivf_assign_numpy,
        ivf_serve_topk,
    )

    e = load(spark, sf_dir, "embeddings")["embeddings"]
    cents = e.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("cid"), "embedding"
    )
    corpus = e.filter(F.col("vec_id") >= 8)
    queries = e.filter((F.col("vec_id") >= 8) & (F.col("vec_id") < 13))
    cells = ivf_assign_numpy(corpus, cents)
    out = ivf_serve_topk(cells, queries, cents, k=5, nprobe=2)
    return out.select(
        "query_id", "neighbor_id", "rank", F.round("sim", 4).alias("sim")
    )


@register(
    "ann_ivf_pq_served_topk",
    oracle=f"""
    WITH cents AS (SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS cv
                   FROM embeddings WHERE vec_id < 8),
    v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
          FROM embeddings WHERE vec_id >= 24),
    subs AS (SELECT CAST(i AS INTEGER) AS sub FROM range(0, 8) t(i)),
    cbv AS (SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS code,
                   CAST(embedding AS DOUBLE[]) AS e
            FROM embeddings WHERE vec_id >= 8 AND vec_id < 24),
    cb AS (SELECT code, sub, list_slice(e, sub * 8 + 1, sub * 8 + 8) AS cv
           FROM cbv CROSS JOIN subs),
    d AS (SELECT vec_id, cid,
                 (list_dot_product(e, e) - 2.0 * list_dot_product(e, cv))
                   + list_dot_product(cv, cv) AS dist, e
          FROM v CROSS JOIN cents),
    assign AS (SELECT vec_id, cid, e,
                      ROW_NUMBER() OVER (
                        PARTITION BY vec_id
                        ORDER BY CAST(floor(dist * 1000000.0 + 0.5)
                                      AS BIGINT), cid) AS rn
               FROM d),
    cells AS (SELECT vec_id, cid, e FROM assign WHERE rn = 1),
    corp AS (SELECT vec_id, sub, list_slice(e, sub * 8 + 1, sub * 8 + 8) AS sv
             FROM v CROSS JOIN subs),
    encd AS (SELECT c.vec_id, c.sub, cb.code,
                    (list_dot_product(sv, sv) - 2.0 * list_dot_product(sv, cv))
                      + list_dot_product(cv, cv) AS dist
             FROM corp c JOIN cb ON cb.sub = c.sub),
    enc AS (SELECT vec_id, sub, code FROM (
              SELECT vec_id, sub, code,
                     ROW_NUMBER() OVER (
                       PARTITION BY vec_id, sub
                       ORDER BY CAST(floor(dist * 1000000.0 + 0.5)
                                     AS BIGINT), code) AS rn
              FROM encd) WHERE rn = 1),
    qp AS (SELECT vec_id AS query_id, cid FROM assign
           WHERE vec_id < 29 AND rn <= 2),
    qv AS (SELECT vec_id AS query_id, e AS qe FROM v WHERE vec_id < 29),
    qsub AS (SELECT query_id, sub,
                    list_slice(qe, sub * 8 + 1, sub * 8 + 8) AS qsv
             FROM qv CROSS JOIN subs),
    lut AS (SELECT query_id, q.sub, cb.code,
                   (list_dot_product(qsv, qsv) - 2.0 * list_dot_product(qsv, cv))
                     + list_dot_product(cv, cv) AS pdist
            FROM qsub q JOIN cb ON cb.sub = q.sub),
    scored AS (
      SELECT l.query_id, e2.vec_id AS neighbor_id,
             {oracle_exact_sum('pdist')} AS adist
      FROM enc e2
      JOIN cells cl ON cl.vec_id = e2.vec_id
      JOIN qp ON qp.cid = cl.cid
      JOIN lut l ON l.query_id = qp.query_id
                AND l.sub = e2.sub AND l.code = e2.code
      GROUP BY l.query_id, e2.vec_id),
    cand AS (SELECT query_id, neighbor_id, adist FROM (
               SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                            ORDER BY adist, neighbor_id) AS arn
               FROM scored)
             WHERE arn <= 12),
    sims AS (SELECT c.query_id, c.neighbor_id, c.adist,
                    list_dot_product(q.qe, cl.e)
                      / (sqrt(list_dot_product(q.qe, q.qe))
                         * sqrt(list_dot_product(cl.e, cl.e))) AS sim
             FROM cand c
             JOIN qv q ON q.query_id = c.query_id
             JOIN cells cl ON cl.vec_id = c.neighbor_id)
    SELECT query_id, neighbor_id, CAST(rn2 AS INTEGER) AS rank,
           ROUND(sim, 4) AS sim, ROUND(adist, 4) AS adist
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                       ORDER BY sim DESC, neighbor_id) AS rn2
          FROM sims)
    WHERE rn2 <= 5
    """,
)
def ann_ivf_pq_served_topk(spark, sf_dir):
    """IVF-PQ serving (wave 62 — composes the wave-48 PQ-ADC scorer
    with the wave-61 persisted-index layout): the corpus is IVF-
    assigned once and PQ-encoded once (both build-time artifacts —
    Engine.create_vector_index(pq_m=...) persists them as
    ``{{name}}__cells`` / ``{{name}}__codes`` / ``{{name}}__codebook``);
    a query batch routes to nprobe=2 cells, ADC-scores ONLY the
    encoded rows of its probed cells against a broadcast LUT, and the
    top-12 ADC candidates per query are re-ranked EXACTLY against
    their raw vectors. This is the memory-bounded production serving
    shape: at 100 TB the probe scan touches code bytes (32× narrower
    than floats) and raw vectors are fetched for |Q|·rerank rows only.
    ADC partials snap to 6 decimals and the candidate cut is
    (adist, id)-ordered, so candidate set and final top-k are
    engine-exact."""
    from duckdb_distributed_execution_spark.operators.similarity import (
        ivf_assign_numpy,
        ivf_pq_serve_topk,
        pq_encode_numpy,
        pq_subvectors,
    )

    e = load(spark, sf_dir, "embeddings")["embeddings"]
    cents = e.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("cid"), "embedding"
    )
    cb_src = e.filter((F.col("vec_id") >= 8) & (F.col("vec_id") < 24))
    w = Window.orderBy("vec_id")
    cb_ranked = cb_src.select(
        (F.row_number().over(w) - 1).cast("int").alias("code"), "embedding"
    )
    cb = pq_subvectors(cb_ranked, "code", "embedding", 8, 8).select(
        F.col("__id").alias("code"), "sub", F.col("sv").alias("cv")
    )
    corpus = e.filter(F.col("vec_id") >= 24)
    queries = e.filter((F.col("vec_id") >= 24) & (F.col("vec_id") < 29))
    cells = ivf_assign_numpy(corpus, cents)
    # encode the ASSIGNED corpus with cid passing straight through the
    # Arrow kernel — assign→encode pipelines in one stage, deleting
    # the rows·m·k interpreted sq_l2 relation, its struct-min shuffle,
    # and the corpus-sized join-back (r9 surgery; oracle's enc CTE
    # mirrors the quantized-argmin convention). The rerank branch
    # reads raw vectors straight from the parquet-backed corpus (a
    # plain pruned scan) instead of re-deriving the assignment a
    # second time — cid-pruning the rerank source only pays when the
    # cells relation is the PERSISTED cid-sorted table.
    codes = pq_encode_numpy(
        cells, cb, m=8, dsub=8, passthrough=("cid",)
    )
    out = ivf_pq_serve_topk(
        codes, corpus, queries, cents, cb, k=5, nprobe=2, rerank=12
    )
    return out.select(
        "query_id", "neighbor_id", "rank",
        F.round("sim", 4).alias("sim"), F.round("adist", 4).alias("adist"),
    )


@register(
    "ann_ivf_recall_eval",
    oracle=f"""
    WITH {_IVF_ASSIGN},
    cells AS (SELECT vec_id, cid, v FROM assign WHERE rn = 1),
    q AS (SELECT vec_id AS query_id, cid, v AS qv FROM cells WHERE vec_id < 13),
    ivf AS (
      SELECT query_id, neighbor_id FROM (
        SELECT q.query_id, c.vec_id AS neighbor_id,
               ROW_NUMBER() OVER (
                 PARTITION BY q.query_id
                 ORDER BY list_dot_product(qv, c.v)
                            / (sqrt(list_dot_product(qv, qv))
                               * sqrt(list_dot_product(c.v, c.v))) DESC,
                          c.vec_id) AS rn2
        FROM q JOIN cells c ON q.cid = c.cid)
      WHERE rn2 <= 5),
    bf AS (
      SELECT query_id, neighbor_id FROM (
        SELECT q.query_id, c.vec_id AS neighbor_id,
               ROW_NUMBER() OVER (
                 PARTITION BY q.query_id
                 ORDER BY list_dot_product(qv, c.v)
                            / (sqrt(list_dot_product(qv, qv))
                               * sqrt(list_dot_product(c.v, c.v))) DESC,
                          c.vec_id) AS rn2
        FROM q CROSS JOIN cells c)
      WHERE rn2 <= 5)
    SELECT bf.query_id,
           CAST(COUNT(ivf.neighbor_id) AS INT) AS n_hits,
           ROUND(COUNT(ivf.neighbor_id) / 5.0, 4) AS recall_at_5
    FROM bf LEFT JOIN ivf
      ON bf.query_id = ivf.query_id AND bf.neighbor_id = ivf.neighbor_id
    GROUP BY bf.query_id
    """,
)
def ann_ivf_recall_eval(spark, sf_dir):
    """ANN index evaluation harness: recall@5 of the IVF probe against
    the exact brute-force ground truth, per query. This is the
    completeness check a production similarity pipeline runs before
    trusting an index — and it composes the two already-verified
    plans: the IVF equi-join path and the broadcast brute-force path.
    The ground-truth side is the only all-pairs scan, and it runs over
    the (small, broadcast) query set only — at 100 TB you sample the
    query set, never the corpus."""
    from duckdb_distributed_execution_spark.operators.similarity import (
        ivf_assign,
        ivf_topk,
        dot_product,
        l2_norm,
    )

    e = load(spark, sf_dir, "embeddings")["embeddings"]
    cents = e.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("cid"), "embedding"
    )
    corpus = e.filter(F.col("vec_id") >= 8)
    queries = e.filter((F.col("vec_id") >= 8) & (F.col("vec_id") < 13))

    ivf = ivf_topk(corpus, queries, cents, k=5).select("query_id", "neighbor_id")

    q = queries.select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qv"),
        l2_norm(F.col("embedding")).alias("qn"),
    )
    c = corpus.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("cv"),
        l2_norm(F.col("embedding")).alias("cn"),
    )
    bf_sims = c.join(F.broadcast(q)).select(
        "query_id",
        "neighbor_id",
        (dot_product(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn"))).alias(
            "sim"
        ),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id")
    )
    bf = (
        bf_sims.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .select("query_id", "neighbor_id")
    )
    # One broadcast left join + one aggregation: the IVF top-k list is
    # query-set-sized (k × |queries|), so it broadcasts; every ground-
    # truth row survives, and a query with zero hits still aggregates
    # to 0 — no semi-join + re-join-back dance (which planned as a
    # chain of sort-merge joins).
    hits = ivf.withColumn("hit", F.lit(1))
    return (
        bf.join(F.broadcast(hits), on=["query_id", "neighbor_id"], how="left")
        .groupBy("query_id")
        .agg(
            F.coalesce(F.sum("hit"), F.lit(0)).cast("int").alias("n_hits")
        )
        .select(
            "query_id",
            "n_hits",
            F.round(F.col("n_hits") / 5.0, 4).alias("recall_at_5"),
        )
    )


@register(
    "ann_lsh_candidates",
    oracle=f"""
    WITH b AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
             {_oracle_lsh_bucket('CAST(embedding AS DOUBLE[])', _hyperplanes())} AS bucket
      FROM embeddings),
    pairs AS (
      SELECT a.vec_id AS id_a, b2.vec_id AS id_b,
             {_ORACLE_COSINE.format(a='a.v', b='b2.v')} AS sim
      FROM b a JOIN b b2 ON a.bucket = b2.bucket AND a.vec_id < b2.vec_id)
    SELECT id_a, id_b, ROUND(sim, 4) AS sim
    FROM pairs WHERE sim >= 0.25
    """,
)
def ann_lsh_candidates(spark, sf_dir):
    """LSH candidate generation + verification: same-bucket pairs via
    shuffled self-join on bucket, exact cosine verify ≥ 0.25. This is
    the embedding near-dup detector at scale (bucket join ≪ n²)."""
    e = load(spark, sf_dir, "embeddings")["embeddings"]
    b = e.select(
        "vec_id",
        F.col("embedding").alias("v"),
        l2_norm(F.col("embedding")).alias("n"),
        lsh_bucket(F.col("embedding"), _hyperplanes()).alias("bucket"),
    )
    a = b.select(
        F.col("vec_id").alias("id_a"), F.col("v").alias("va"),
        F.col("n").alias("na"), "bucket",
    )
    c = b.select(
        F.col("vec_id").alias("id_b"), F.col("v").alias("vb"),
        F.col("n").alias("nb"), "bucket",
    )
    pairs = a.join(c, on="bucket").filter(F.col("id_a") < F.col("id_b"))
    sims = pairs.select(
        "id_a",
        "id_b",
        (dot_product(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb"))).alias("sim"),
    )
    return sims.filter(F.col("sim") >= 0.25).select(
        "id_a", "id_b", F.round("sim", 4).alias("sim")
    )


@register(
    "embedding_quantize_int8",
    oracle="""
    WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
    m AS (SELECT vec_id, e,
                 greatest(list_max(list_transform(e, x -> abs(x))), 1e-12)
                   AS maxabs
          FROM v),
    q AS (SELECT vec_id, maxabs,
                 list_transform(e, x -> CAST(round(x / maxabs * 127) AS INTEGER))
                   AS qv
          FROM m)
    SELECT vec_id, ROUND(maxabs, 6) AS scale,
           array_to_string(qv, ',') AS qv,
           CAST(list_sum(qv) AS BIGINT) AS q_sum
    FROM q
    """,
)
def embedding_quantize_int8(spark, sf_dir):
    """Symmetric per-vector int8 scalar quantization — the standard
    4× compression step before ANN indexing at corpus scale (quantize
    once, search int8, rescore survivors in float). Pure per-row
    column math: no shuffle, embarrassingly parallel, and the
    quantized arrays + checksums hash-match DuckDB exactly (identical
    op order; round-half-away agrees on both engines)."""
    e = load(spark, sf_dir, "embeddings")["embeddings"]
    ed = e.select("vec_id", F.col("embedding").cast("array<double>").alias("e"))
    m = ed.select(
        "vec_id",
        "e",
        F.greatest(
            F.array_max(F.transform("e", lambda x: F.abs(x))), F.lit(1e-12)
        ).alias("maxabs"),
    )
    q = m.select(
        "vec_id",
        "maxabs",
        F.transform(
            "e", lambda x: F.round(x / F.col("maxabs") * 127).cast("int")
        ).alias("qv"),
    )
    return q.select(
        "vec_id",
        F.round("maxabs", 6).alias("scale"),
        arr_str("qv").alias("qv"),
        F.aggregate(
            "qv", F.lit(0).cast("long"), lambda a, x: a + x.cast("long")
        ).alias("q_sum"),
    )


@register(
    "embedding_centroids",
    oracle=f"""
    WITH d AS (SELECT label, CAST(embedding AS DOUBLE[]) AS e FROM embeddings)
    SELECT label, CAST(r.range AS INTEGER) AS dim,
           COUNT(*) AS n_vecs,
           {oracle_exact_avg_rounded('e[CAST(r.range AS INTEGER) + 1]')}
             AS centroid
    FROM d CROSS JOIN range(8) r
    GROUP BY label, r.range
    """,
)
def embedding_centroids(spark, sf_dir):
    """Per-label centroid of the embedding column (the training step
    of IVF/k-means coarse quantizers), first 8 dimensions.  posexplode
    → (label, dim) grouped exact mean: one shuffle of scalar rows —
    never materializes per-partition dense matrices, so it scales to
    any corpus × dimension product."""
    e = load(spark, sf_dir, "embeddings")["embeddings"]
    pe = e.select(
        "label",
        F.posexplode(F.col("embedding").cast("array<double>")).alias("dim", "v"),
    ).filter(F.col("dim") < 8)
    return pe.groupBy("label", F.col("dim").cast("int").alias("dim")).agg(
        F.count(F.lit(1)).alias("n_vecs"),
        exact_avg_rounded("v").alias("centroid"),
    )


@register(
    "array_set_ops",
    oracle="""
    WITH t AS (
      SELECT o_orderkey,
             [o_custkey % 7, o_custkey % 5, o_custkey % 3] AS a,
             [o_custkey % 5, o_custkey % 2] AS b
      FROM orders WHERE o_orderkey % 101 = 0)
    SELECT o_orderkey,
           COALESCE(array_to_string(
             list_sort(list_distinct(list_filter(a, x -> list_contains(b, x)))), ','), '')
             AS a_intersect_b,
           COALESCE(array_to_string(list_sort(list_distinct(list_concat(a, b))), ','), '')
             AS a_union_b,
           COALESCE(array_to_string(
             list_sort(list_distinct(list_filter(a, x -> NOT list_contains(b, x)))), ','), '')
             AS a_except_b,
           COALESCE(array_to_string(list_concat(a, b), ','), '') AS a_concat_b
    FROM t
    """,
)
def array_set_ops(spark, sf_dir):
    """Array set algebra (intersect/union/except/concat) — outputs
    sorted+deduped so Spark's order-of-first-array semantics and the
    oracle's filter-based forms canonicalize identically."""
    o = load(spark, sf_dir, "orders")["orders"]
    t = o.filter(F.col("o_orderkey") % 101 == 0).select(
        "o_orderkey",
        F.array(
            F.col("o_custkey") % 7, F.col("o_custkey") % 5, F.col("o_custkey") % 3
        ).alias("a"),
        F.array(F.col("o_custkey") % 5, F.col("o_custkey") % 2).alias("b"),
    )
    return t.select(
        "o_orderkey",
        arr_str(F.array_sort(F.array_distinct(F.array_intersect("a", "b"))))
        .alias("a_intersect_b"),
        arr_str(F.array_sort(F.array_distinct(F.array_union("a", "b"))))
        .alias("a_union_b"),
        arr_str(F.array_sort(F.array_distinct(F.array_except("a", "b"))))
        .alias("a_except_b"),
        arr_str(F.concat("a", "b")).alias("a_concat_b"),
    )
