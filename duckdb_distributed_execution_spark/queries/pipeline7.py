"""Seventh-wave operators — window-frame EXCLUDE emulation, exact
discrete percentiles via value histograms, MAD-based robust outlier
gating, duplicated-substring-span profiling, MinHash candidate-recall
evaluation, and streaming per-window top-k.

Reference scope: none of these exist in the reference (SURVEY §2.C);
the EXCLUDE CURRENT ROW and quantile_disc entries are *dialect parity*
pieces — DuckDB window/aggregate features Spark lacks natively,
re-expressed as compositions and checked against DuckDB running the
native feature as the oracle. The rest extend the LLM-pipeline
surface (Lee-et-al-style substring dedup signal, LSH quality gate).
"""

from __future__ import annotations

import os

from pyspark.sql import Window
from pyspark.sql import functions as F

from duckdb_distributed_execution_spark.operators import dedup as D
from duckdb_distributed_execution_spark.operators import text as X
from duckdb_distributed_execution_spark.queries import load, register

# ---------------------------------------------------------------------------
# Window frame EXCLUDE CURRENT ROW (DuckDB-native; Spark emulation)
# ---------------------------------------------------------------------------


@register(
    "window_frame_exclude_current",
    oracle="""
    WITH v AS (
      SELECT event_id, user_id, ts,
             CAST(ROUND(value * 1000000, 0) AS BIGINT) AS vm
      FROM events)
    SELECT event_id,
           SUM(vm) OVER (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS BETWEEN 2 PRECEDING AND 2 FOLLOWING
                         EXCLUDE CURRENT ROW) AS neighbor_sum
    FROM v
    """,
)
def window_frame_exclude_current(spark, sf_dir):
    """SQL:2011 frame exclusion (``EXCLUDE CURRENT ROW``), which
    DuckDB supports natively and Spark does not: the sum of the 2
    rows either side of each event WITHOUT the event itself — the
    leave-one-out neighborhood used by self-exclusion anomaly scores.
    Emulated as (full-frame sum) − (current value); an algebraic
    identity for SUM/COUNT/AVG-style aggregates, so the rewrite is
    exact (values integer micro-scaled → bit-exact cross-engine).
    Same keyed-window shuffle as any frame; nothing extra at scale.
    """
    e = load(spark, sf_dir, "events")["events"]
    v = e.select(
        "event_id",
        "user_id",
        "ts",
        F.round(F.col("value") * 1000000, 0).cast("bigint").alias("vm"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-2, 2)
    )
    return v.select(
        "event_id",
        (F.sum("vm").over(w) - F.col("vm")).alias("neighbor_sum"),
    )


# ---------------------------------------------------------------------------
# Exact discrete percentiles (quantile_disc) via value histogram
# ---------------------------------------------------------------------------


@register(
    "percentile_disc_groups",
    oracle="""
    SELECT l_returnflag,
           quantile_disc(l_quantity, 0.25) AS p25,
           quantile_disc(l_quantity, 0.50) AS p50,
           quantile_disc(l_quantity, 0.75) AS p75
    FROM lineitem GROUP BY l_returnflag
    """,
)
def percentile_disc_groups(spark, sf_dir):
    """DuckDB ``quantile_disc`` (exact discrete percentile: the
    element at 1-based rank ceil(p*n) of the sorted group — always an
    actual data value, never interpolated; Spark's percentile() only
    interpolates). Computed scale-safely through the VALUE HISTOGRAM:
    group to (flag, value) counts first, then a cumulative sum over
    the distinct values picks the smallest value whose cumulative
    count reaches the target rank. The window runs over distinct
    values per group — bounded by the value domain, not the row count
    — so a 3-group window over 100 TB of rows never funnels rows
    through one task the way rank-selection over raw rows would.
    """
    li = load(spark, sf_dir, "lineitem")["lineitem"]
    hist = li.groupBy(
        "l_returnflag", F.col("l_quantity").alias("q")
    ).agg(F.count(F.lit(1)).alias("c"))
    wg = Window.partitionBy("l_returnflag")
    cum = (
        Window.partitionBy("l_returnflag")
        .orderBy("q")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    h = hist.withColumn("n", F.sum("c").over(wg)).withColumn(
        "cum", F.sum("c").over(cum)
    )
    picks = [
        F.min(
            F.when(
                F.col("cum") >= F.ceil(F.lit(p) * F.col("n")), F.col("q")
            )
        ).alias(name)
        for p, name in [(0.25, "p25"), (0.50, "p50"), (0.75, "p75")]
    ]
    return h.groupBy("l_returnflag").agg(*picks)


# ---------------------------------------------------------------------------
# MAD-based robust outlier gate
# ---------------------------------------------------------------------------


@register(
    "robust_mad_outliers",
    oracle="""
    WITH med AS (
      SELECT event_type, median(value) AS m FROM events GROUP BY 1),
    dev AS (
      SELECT e.event_type, m.m, abs(e.value - m.m) AS d
      FROM events e JOIN med m USING (event_type)),
    madt AS (
      SELECT event_type, median(d) AS mad FROM dev GROUP BY 1)
    SELECT d.event_type,
           ROUND(MAX(d.m), 4) AS med_r,
           ROUND(MAX(t.mad), 4) AS mad_r,
           SUM(CASE WHEN d.d > 3.0 * t.mad THEN 1 ELSE 0 END) AS n_outliers
    FROM dev d JOIN madt t USING (event_type)
    GROUP BY d.event_type
    """,
)
def robust_mad_outliers(spark, sf_dir):
    """Robust per-group outlier gate: median absolute deviation
    (DuckDB's native mad() = median(|x − median|)), flagging values
    beyond 3×MAD — the standard heavy-tail-safe alternative to
    z-scores for metric-quality filtering (a handful of garbage
    values cannot drag the threshold the way they drag stddev).
    Exact medians on both engines interpolate identically
    (percentile ≡ quantile_cont bit-for-bit, proven by
    `percentiles`), |x−m| and 3.0*mad are the same IEEE ops in the
    same order, so even the unrounded comparison agrees; reported
    medians rounded to 4. Two grouped exact percentiles = two keyed
    shuffles; group medians broadcast back onto the rows.
    """
    e = load(spark, sf_dir, "events")["events"]
    med = e.groupBy("event_type").agg(
        F.percentile("value", F.lit(0.5)).alias("m")
    )
    dev = e.join(F.broadcast(med), "event_type").select(
        "event_type", "m", F.abs(F.col("value") - F.col("m")).alias("d")
    )
    madt = dev.groupBy("event_type").agg(
        F.percentile("d", F.lit(0.5)).alias("mad")
    )
    return (
        dev.join(F.broadcast(madt), "event_type")
        .groupBy("event_type")
        .agg(
            F.round(F.max("m"), 4).alias("med_r"),
            F.round(F.max("mad"), 4).alias("mad_r"),
            F.sum(
                F.when(F.col("d") > 3.0 * F.col("mad"), 1).otherwise(0)
            ).alias("n_outliers"),
        )
    )


# ---------------------------------------------------------------------------
# Duplicated-substring span profiling (Lee et al. signal, doc level)
# ---------------------------------------------------------------------------

_SPAN_N = 3  # word n-gram length


@register(
    "dedup_substring_spans",
    oracle=f"""
    WITH occ AS (
      SELECT doc_id, unnest({D.oracle_word_shingles('text', _SPAN_N)}) AS g
      FROM documents),
    per AS (
      SELECT doc_id, g, COUNT(*) AS c FROM occ GROUP BY doc_id, g),
    df AS (
      SELECT g, COUNT(*) AS docs FROM per GROUP BY g)
    SELECT p.doc_id,
           SUM(p.c) AS n_grams,
           SUM(CASE WHEN df.docs >= 2 THEN p.c ELSE 0 END) AS n_dup,
           ROUND(CAST(SUM(CASE WHEN df.docs >= 2 THEN p.c ELSE 0 END)
                      AS DOUBLE) / CAST(SUM(p.c) AS DOUBLE), 4) AS dup_frac
    FROM per p JOIN df ON df.g = p.g
    GROUP BY p.doc_id
    """,
)
def dedup_substring_spans(spark, sf_dir):
    """Duplicated-substring profiling — the document-level signal of
    exact substring deduplication (Lee et al., "Deduplicating
    Training Data Makes Language Models Better"): for every document,
    the fraction of its word {n}-gram occurrences whose gram also
    appears in at least one OTHER document. High-fraction docs are
    boilerplate/templated and are the ones substring dedup would cut.
    Two grouped aggregations — (doc, gram) occurrence counts, then
    gram document-frequency — and one join back on the gram key; the
    shuffle carries distinct (doc, gram) pairs, never raw token
    occurrences, and no pairwise doc comparison exists anywhere.
    """.format(n=_SPAN_N)
    d = load(spark, sf_dir, "documents")["documents"]
    occ = d.select(
        "doc_id",
        F.explode(D.word_shingles(F.col("text"), _SPAN_N)).alias("g"),
    )
    per = occ.groupBy("doc_id", "g").agg(F.count(F.lit(1)).alias("c"))
    df = per.groupBy("g").agg(F.count(F.lit(1)).alias("docs"))
    dup_c = F.when(F.col("docs") >= 2, F.col("c")).otherwise(F.lit(0))
    return (
        per.join(df, "g")
        .groupBy("doc_id")
        .agg(
            F.sum("c").alias("n_grams"),
            F.sum(dup_c).alias("n_dup"),
            F.round(
                F.sum(dup_c).cast("double") / F.sum("c").cast("double"), 4
            ).alias("dup_frac"),
        )
    )


# ---------------------------------------------------------------------------
# MinHash-LSH candidate recall evaluation
# ---------------------------------------------------------------------------

_RECALL_T = 0.12  # ground-truth Jaccard threshold (matches dedup_ngram_jaccard)

_TRUTH_SQL = f"""
      WITH sh AS (
        SELECT doc_id, lang, {D.oracle_word_shingles('text', 2)} AS s,
               len(regexp_split_to_array({X.oracle_normalize('text')},
                                         '\\s+')) // 16 AS lb
        FROM documents)
      SELECT a.doc_id AS id_a, b.doc_id AS id_b
      FROM sh a JOIN sh b
        ON a.lang = b.lang AND a.lb = b.lb AND a.doc_id < b.doc_id
      WHERE (CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
             (CAST(len(a.s) + len(b.s) AS DOUBLE)
              - CAST(len(list_intersect(a.s, b.s)) AS DOUBLE))) >= {_RECALL_T}
"""


@register(
    "minhash_candidate_recall",
    oracle=f"""
    WITH truth AS ({_TRUTH_SQL}),
    cand AS (
      SELECT id_a, id_b FROM (
        {D.oracle_minhash_lsh_sql(D.oracle_word_shingles('text', 2),
                                  num_hashes=8, band_size=2,
                                  verify_threshold=0.0)})),
    hits AS (
      SELECT t.id_a, t.id_b FROM truth t
      JOIN cand c ON c.id_a = t.id_a AND c.id_b = t.id_b)
    SELECT (SELECT COUNT(*) FROM truth) AS n_truth,
           (SELECT COUNT(*) FROM cand) AS n_candidates,
           (SELECT COUNT(*) FROM hits) AS n_hits,
           ROUND(CAST((SELECT COUNT(*) FROM hits) AS DOUBLE)
                 / CAST((SELECT COUNT(*) FROM truth) AS DOUBLE), 4) AS recall
    """,
)
def minhash_candidate_recall(spark, sf_dir):
    """Index-quality gate for the MinHash-LSH dedup path (the dedup
    twin of `ann_ivf_recall_eval`): recall of the LSH CANDIDATE set
    (8 hashes × 4 bands, no verify — verify_threshold=0 keeps every
    banded pair) against exact ground truth — blocked bigram-Jaccard
    ≥ {t} pairs, the same truth definition as `dedup_ngram_jaccard`.
    This measures the banding scheme itself: every truth pair missed
    here is a near-duplicate the production pipeline can never
    recover, so the number gates any (num_hashes, band_size) change.
    Both the candidate generation and the truth join are the existing
    bounded-shuffle operators; the intersection is one more keyed
    join on the pair id.
    """.format(t=_RECALL_T)
    from duckdb_distributed_execution_spark.operators.text import (
        normalize_text,
        tokens,
    )

    d = load(spark, sf_dir, "documents")["documents"]
    blocked = d.withColumn(
        "__blk",
        F.concat_ws(
            "|",
            F.col("lang"),
            (F.size(tokens(normalize_text("text"))).cast("long") / 16)
            .cast("long")
            .cast("string"),
        ),
    )
    truth = D.ngram_jaccard_pairs(
        blocked, "doc_id", "text", n=2, threshold=_RECALL_T,
        block_col="__blk",
    ).select("id_a", "id_b")
    cand = D.minhash_lsh_pairs(
        d, "doc_id", "text", shingle_n=2, num_hashes=8, band_size=2,
        verify_threshold=0.0,
    ).select("id_a", "id_b")
    hits = truth.join(cand, on=["id_a", "id_b"], how="left_semi")
    return (
        truth.agg(F.count(F.lit(1)).alias("n_truth"))
        .crossJoin(cand.agg(F.count(F.lit(1)).alias("n_candidates")))
        .crossJoin(hits.agg(F.count(F.lit(1)).alias("n_hits")))
        .select(
            "n_truth",
            "n_candidates",
            "n_hits",
            F.round(
                F.col("n_hits").cast("double")
                / F.col("n_truth").cast("double"),
                4,
            ).alias("recall"),
        )
    )


# ---------------------------------------------------------------------------
# Streaming per-window top-k
# ---------------------------------------------------------------------------

_NO_EVICT = "30 days"


@register(
    "streaming_topk_per_window",
    oracle="""
    WITH wc AS (
      SELECT time_bucket(INTERVAL '1 day', ts) AS w_start,
             event_type, COUNT(*) AS cnt
      FROM events GROUP BY 1, 2),
    ranked AS (
      SELECT w_start, event_type, cnt,
             row_number() OVER (PARTITION BY w_start
                                ORDER BY cnt DESC, event_type) AS rk
      FROM wc)
    SELECT w_start, rk, event_type, cnt FROM ranked WHERE rk <= 3
    """,
)
def streaming_topk_per_window(spark, sf_dir):
    """Streaming per-window top-k — trending-items over tumbling
    1-day windows: a real availableNow stream maintains the windowed
    (window, type) counts in the state store (complete-mode memory
    sink), and the rank-and-cut runs as a tiny batch query over the
    sink — the standard two-tier serving shape, since a global rank
    inside the stream would re-sort all state every trigger. The
    batch time_bucket + row_number oracle checks the composition
    end-to-end (counts from real streaming execution, rank exact).
    """
    from duckdb_distributed_execution_spark.streaming import (
        read_events_stream,
        run_to_memory,
    )

    load(spark, sf_dir, "events")  # oracle-side view
    stream = read_events_stream(spark, os.path.join(sf_dir, "events.parquet"))
    agg = (
        stream.withWatermark("ts", _NO_EVICT)
        .groupBy(F.window("ts", "1 day").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(F.col("w.start").alias("w_start"), "event_type", "cnt")
    )
    run_to_memory(agg, "streaming_topk_per_window_sink", mode="complete")
    wc = spark.table("streaming_topk_per_window_sink")
    rk = Window.partitionBy("w_start").orderBy(F.desc("cnt"), "event_type")
    return (
        wc.withColumn("rk", F.row_number().over(rk))
        .filter(F.col("rk") <= 3)
        .select("w_start", "rk", "event_type", "cnt")
    )
