"""Twentieth-wave operators — robust trend, dedup provenance, and
data budgeting: a Theil–Sen slope over daily event volumes (the
outlier-proof trend read), the cross-source near-dup matrix (which
sources duplicate into which — the provenance view of the MinHash
pair set), and a token-budget curriculum that ranks sources and
fills a training budget by prefix sum.

North-star greenfield. Conventions as established: exact integer /
rational reductions, doubles only in single final divisions with
identical trees, rank ties broken on unique keys.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from duckdb_distributed_execution_spark.functions import (
    exact_avg_rounded,
    oracle_exact_avg_rounded,
)
from duckdb_distributed_execution_spark.operators import dedup as D
from duckdb_distributed_execution_spark.operators.text import tokens
from duckdb_distributed_execution_spark.queries import load, register

# ---------------------------------------------------------------------------
# Theil–Sen robust trend over daily event volume
# ---------------------------------------------------------------------------


@register(
    "theil_sen_trend",
    oracle="""
    WITH d AS (
      SELECT event_type, CAST(ts AS DATE) AS day, COUNT(*) AS x
      FROM events GROUP BY event_type, CAST(ts AS DATE)),
    pairs AS (
      SELECT a.event_type,
             a.day AS d1, b.day AS d2,
             CAST(b.x - a.x AS DOUBLE)
               / CAST(date_diff('day', a.day, b.day) AS DOUBLE) AS slope
      FROM d a JOIN d b
        ON b.event_type = a.event_type AND a.day < b.day),
    ranked AS (
      SELECT event_type, slope,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY slope, d1, d2) AS rn,
             COUNT(*) OVER (PARTITION BY event_type) AS n
      FROM pairs)
    SELECT event_type,
           CAST(n AS BIGINT) AS n_pairs,
           ROUND(slope, 6) AS theil_sen_slope,
           CASE WHEN slope > 0.5 THEN 'rising'
                WHEN slope < -0.5 THEN 'falling'
                ELSE 'flat' END AS trend
    FROM ranked WHERE rn = (n + 1) // 2
    """,
)
def theil_sen_trend(spark, sf_dir):
    """Theil–Sen trend estimate per event type: the LOWER MEDIAN of
    all pairwise day-to-day slopes over daily volumes — robust to
    ~29% outliers where the OLS slope (linreg_two_feature's idiom)
    folds to a single spike day. Each slope is one double division of
    two exact integers (count delta / day delta), identical both
    engines; the median pick is a rank select at (n+1)//2 with
    (slope, d1, d2) tie-breaks, so the chosen value is engine-exact
    — no float averaging of middle elements. Pair volume is
    |days|²/2 per type over the per-day AGGREGATE (30 days → 435
    pairs), never over raw events; at 100 TB the daily rollup is the
    only corpus-wide shuffle."""
    e = load(spark, sf_dir, "events")["events"]
    d = (
        e.groupBy("event_type", F.col("ts").cast("date").alias("day"))
        .agg(F.count(F.lit(1)).alias("x"))
    )
    a = d.select("event_type", F.col("day").alias("d1"), F.col("x").alias("x1"))
    b = d.select(
        F.col("event_type").alias("et"),
        F.col("day").alias("d2"),
        F.col("x").alias("x2"),
    )
    pairs = (
        a.join(b, (F.col("et") == F.col("event_type")) & (F.col("d1") < F.col("d2")))
        .select(
            "event_type",
            "d1",
            "d2",
            (
                (F.col("x2") - F.col("x1")).cast("double")
                / F.datediff("d2", "d1").cast("double")
            ).alias("slope"),
        )
    )
    w = Window.partitionBy("event_type").orderBy("slope", "d1", "d2")
    wa = Window.partitionBy("event_type")
    ranked = pairs.select(
        "event_type",
        "slope",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(wa).alias("n"),
    )
    return ranked.filter(
        F.col("rn") == F.expr("(n + 1) div 2")
    ).select(
        "event_type",
        F.col("n").cast("long").alias("n_pairs"),
        F.round("slope", 6).alias("theil_sen_slope"),
        F.when(F.col("slope") > 0.5, F.lit("rising"))
        .when(F.col("slope") < -0.5, F.lit("falling"))
        .otherwise(F.lit("flat"))
        .alias("trend"),
    )


# ---------------------------------------------------------------------------
# Cross-source near-dup matrix (dedup provenance)
# ---------------------------------------------------------------------------


@register(
    "dedup_cross_source_matrix",
    oracle=D.oracle_minhash_lsh_sql(
        D.oracle_word_shingles("text", 2),
        num_hashes=8,
        band_size=2,
        verify_threshold=0.12,
        final_select=f"""
    SELECT least(da.source, db.source) AS src_lo,
           greatest(da.source, db.source) AS src_hi,
           COUNT(*) AS n_pairs,
           {oracle_exact_avg_rounded("ROUND(j.jaccard, 4)")} AS mean_jaccard
    FROM j
    JOIN documents da ON da.doc_id = j.id_a
    JOIN documents db ON db.doc_id = j.id_b
    WHERE j.jaccard >= 0.12
    GROUP BY least(da.source, db.source), greatest(da.source, db.source)""",
    ),
)
def dedup_cross_source_matrix(spark, sf_dir):
    """Dedup PROVENANCE: the verified MinHash near-dup pairs rolled
    up by unordered source pair — the matrix that tells a curator
    whether duplication is intra-source boilerplate (diagonal) or one
    source scraping another (off-diagonal), which decides dedup ORDER
    at mixing time. One MinHash-LSH pass (same machinery and
    constants as dedup_minhash_lsh); the source lookup joins the
    (tiny) pair set back to the corpus on doc_id — at 100 TB that is
    two broadcast-able hash joins of |pairs| rows, and the rollup key
    space is |sources|². Mean Jaccard uses the exact-decimal rounded
    convention."""
    d = load(spark, sf_dir, "documents")["documents"]
    pairs = D.minhash_lsh_pairs(
        d, "doc_id", "text", shingle_n=2, num_hashes=8, band_size=2,
        verify_threshold=0.12,
    )
    src = d.select("doc_id", "source")
    joined = (
        pairs.join(
            src.select(
                F.col("doc_id").alias("id_a"), F.col("source").alias("sa")
            ),
            on="id_a",
        )
        .join(
            src.select(
                F.col("doc_id").alias("id_b"), F.col("source").alias("sb")
            ),
            on="id_b",
        )
        .select(
            F.least("sa", "sb").alias("src_lo"),
            F.greatest("sa", "sb").alias("src_hi"),
            F.round("jaccard", 4).alias("jr"),
        )
    )
    return joined.groupBy("src_lo", "src_hi").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        exact_avg_rounded("jr").alias("mean_jaccard"),
    )


# ---------------------------------------------------------------------------
# Token-budget curriculum (data budgeting)
# ---------------------------------------------------------------------------


@register(
    "token_budget_curriculum",
    oracle="""
    WITH s AS (
      SELECT source,
             COUNT(*) AS n_docs,
             SUM(len(string_split(text, ' '))) AS toks
      FROM documents GROUP BY source),
    tot AS (SELECT SUM(toks) AS total, (SUM(toks) * 3) // 5 AS budget FROM s),
    r AS (
      SELECT source, n_docs, toks,
             CAST(toks AS DOUBLE) / CAST(n_docs AS DOUBLE) AS mean_doc_toks,
             row_number() OVER (
               ORDER BY CAST(toks AS DOUBLE) / CAST(n_docs AS DOUBLE) DESC,
                        source) AS rank,
             SUM(toks) OVER (
               ORDER BY CAST(toks AS DOUBLE) / CAST(n_docs AS DOUBLE) DESC,
                        source ROWS UNBOUNDED PRECEDING) AS cum_toks
      FROM s)
    SELECT r.source, CAST(r.rank AS INTEGER) AS rank,
           CAST(r.toks AS BIGINT) AS source_tokens,
           CAST(r.cum_toks AS BIGINT) AS cum_tokens,
           ROUND(r.mean_doc_toks, 4) AS mean_doc_tokens,
           r.cum_toks <= t.budget AS selected
    FROM r CROSS JOIN tot t
    """,
)
def token_budget_curriculum(spark, sf_dir):
    """Data budgeting: rank sources by mean document length (the
    cheap quality proxy — longer docs carry more contiguous context;
    swap in any per-source score) and admit sources in rank order
    until a 60%-of-corpus token budget fills — the greedy curriculum
    that decides which sources make the training mix when compute is
    capped. Token counts and the budget are exact integers (budget =
    3·total div 5); the ordering key is one double division identical
    on both engines with a source tie-break; rank and prefix sum run
    over the |sources| AGGREGATE (20 rows), never raw documents."""
    d = load(spark, sf_dir, "documents")["documents"]
    s = d.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(tokens("text"))).alias("toks"),
    )
    key = F.col("toks").cast("double") / F.col("n_docs").cast("double")
    # Rank, prefix sum, AND the corpus-total budget all ride ONE
    # ordered window (full frame for the total — no scalar cross
    # join; plancheck bnlj hygiene).
    w = Window.orderBy(key.desc(), "source")
    wf = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    r = s.select(
        "source",
        "n_docs",
        "toks",
        key.alias("mean_doc_toks"),
        F.row_number().over(w).alias("rank"),
        F.sum("toks").over(w.rowsBetween(Window.unboundedPreceding, 0)).alias(
            "cum_toks"
        ),
        F.call_function(
            "div", F.sum("toks").over(wf) * F.lit(3), F.lit(5)
        ).alias("budget"),
    )
    return r.select(
        "source",
        F.col("rank").cast("int").alias("rank"),
        F.col("toks").cast("long").alias("source_tokens"),
        F.col("cum_toks").cast("long").alias("cum_tokens"),
        F.round("mean_doc_toks", 4).alias("mean_doc_tokens"),
        (F.col("cum_toks") <= F.col("budget")).alias("selected"),
    )
