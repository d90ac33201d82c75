"""Retrieval operators — lexical tf-idf ranking, vector cosine
ranking, and reciprocal-rank fusion, as reusable building blocks
behind ``Engine.retrieve`` (the product facade of the RAG stack).

The oracle-checked query twins live in queries/pipeline6.py (BM25)
and queries/pipeline18.py (``rag_hybrid_rrf``); these operators use
the same expression shapes — postings-bounded lexical scoring,
broadcast-query cosine, rank-based fusion — and
tests/test_engine.py pins facade-vs-query equivalence on identical
inputs.

Scale notes (100 TB): the lexical side semi-joins the corpus token
relation down to query terms BEFORE any scoring join (O(matching
postings)); the vector side broadcasts the query set against the
partitioned corpus (the corpus never shuffles); fusion joins two
depth-bounded rankings (|queries|·depth rows each).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from duckdb_distributed_execution_spark.functions import (
    dot_product,
    ensure_min_parallelism,
    l2_norm,
)


def tfidf_rank(
    docs: DataFrame,
    query_terms: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    depth: int = 20,
) -> DataFrame:
    """Per-query tf-idf top-``depth``: (query_id, doc_id, rank_lex).

    ``query_terms`` has columns (query_id, term). Scores are
    tf · ln(n_docs/df) summed per doc, rounded to 4 decimals before
    ranking, ties broken on doc id."""
    from duckdb_distributed_execution_spark.operators.text import (
        tokens_exploded_arrow,
    )

    # Arrow-kernel tokenize (r7 — java.util.regex dominated the sf1
    # wall; parity argument in tokens_exploded_arrow), N-wide even
    # off a single-row-group input.
    tok = tokens_exploded_arrow(
        docs.select(F.col(id_col).alias("doc_id"), F.col(text_col)),
        "doc_id",
        text_col,
    )
    nd = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    # pinned: tf feeds the dfreq BROADCAST branch and the scoring
    # join, and broadcast subtrees don't share exchange reuse — the
    # corpus tokenize ran once per consumer before (measured r6)
    tf = (
        tok.join(
            F.broadcast(query_terms.select("term").distinct()),
            "term",
            "left_semi",
        )
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
        .localCheckpoint()
    )
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    scored = (
        tf.join(F.broadcast(query_terms), "term")
        .join(F.broadcast(dfreq), "term")
        .crossJoin(F.broadcast(nd))
        .groupBy("query_id", "doc_id")
        .agg(
            F.round(
                F.sum(
                    F.col("tf").cast("double")
                    * F.log(
                        F.col("n_docs").cast("double")
                        / F.col("df").cast("double")
                    )
                ),
                4,
            ).alias("s")
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("s"), "doc_id")
    return (
        scored.withColumn("rank_lex", F.row_number().over(w).cast("int"))
        .filter(F.col("rank_lex") <= depth)
        .select("query_id", "doc_id", "rank_lex")
    )


def cosine_rank(
    corpus: DataFrame,
    query_vecs: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    depth: int = 20,
) -> DataFrame:
    """Per-query cosine top-``depth``: (query_id, doc_id, rank_vec).

    ``query_vecs`` has columns (query_id, qv) and optionally ``qid``
    (a corpus id to exclude — the query's own vector). Similarities
    round to 4 decimals before ranking, ties broken on doc id.

    The broadcast query side is aliased (``q``) so a corpus table
    that happens to carry its own qid/qv/qn column can't raise an
    ambiguous-reference error. Zero-norm vectors (query or corpus)
    produce NULL cosine; those rows are dropped from the ranking
    rather than silently occupying trailing rank slots."""
    qv = query_vecs
    if "qid" not in qv.columns:
        qv = qv.withColumn("qid", F.lit(None).cast("long"))
    qv = qv.select(
        "query_id", "qid", "qv", l2_norm(F.col("qv")).alias("qn")
    ).alias("q")
    # per-pair interpreted dot folds run at the corpus scan's
    # parallelism (r6; see ensure_min_parallelism)
    c = ensure_min_parallelism(corpus).alias("c")
    sims = c.join(
        F.broadcast(qv),
        F.col("q.qid").isNull() | (F.col(f"c.{id_col}") != F.col("q.qid")),
    ).select(
        F.col("q.query_id").alias("query_id"),
        F.col(f"c.{id_col}").alias("doc_id"),
        F.round(
            dot_product(F.col("q.qv"), F.col(f"c.{vec_col}"))
            / (F.col("q.qn") * l2_norm(F.col(f"c.{vec_col}"))),
            4,
        ).alias("sim"),
    ).filter(F.col("sim").isNotNull())
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), "doc_id")
    return (
        sims.withColumn("rank_vec", F.row_number().over(w).cast("int"))
        .filter(F.col("rank_vec") <= depth)
        .select("query_id", "doc_id", "rank_vec")
    )


def rrf_fuse(
    lex: DataFrame,
    vec: DataFrame,
    k: int = 10,
    rrf_k: int = 60,
) -> DataFrame:
    """Reciprocal-rank fusion of two (query_id, doc_id, rank_*)
    rankings → per-query top-``k`` of
    round(1/(rrf_k+rank_lex) + 1/(rrf_k+rank_vec), 6), docs absent
    from one list contribute only the other term."""
    fused = (
        lex.alias("l")
        .join(
            vec.alias("v"),
            (F.col("l.query_id") == F.col("v.query_id"))
            & (F.col("l.doc_id") == F.col("v.doc_id")),
            "full_outer",
        )
        .select(
            F.coalesce("l.query_id", "v.query_id").alias("query_id"),
            F.coalesce("l.doc_id", "v.doc_id").alias("doc_id"),
            F.col("l.rank_lex").alias("rank_lex"),
            F.col("v.rank_vec").alias("rank_vec"),
            F.round(
                F.coalesce(
                    F.lit(1.0) / (F.lit(rrf_k) + F.col("l.rank_lex")),
                    F.lit(0.0),
                )
                + F.coalesce(
                    F.lit(1.0) / (F.lit(rrf_k) + F.col("v.rank_vec")),
                    F.lit(0.0),
                ),
                6,
            ).alias("rrf_score"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("rrf_score"), "doc_id")
    return (
        fused.withColumn("rk", F.row_number().over(w).cast("int"))
        .filter(F.col("rk") <= k)
        .select("query_id", "rk", "doc_id", "rrf_score", "rank_lex", "rank_vec")
    )
