"""Thirty-seventh-wave operators — dup-family shape and directed
temporal association: the cluster-SIZE histogram of the near-dup
graph (how big are duplicate families? — the number that decides
whether dedup keeps 99% or 60% of the corpus), and the
followed-by-within matrix (which event types trigger which within an
hour — DIRECTED, unlike session_type_lift's symmetric co-presence).

North-star greenfield. Conventions: the CC machinery and its
recursive-CTE oracle are shared with dedup_connected_components;
singleton documents are counted explicitly (the pair graph omits
them); follow rates are exact integer counts with one division.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from duckdb_distributed_execution_spark.operators import dedup as D
from duckdb_distributed_execution_spark.queries import load, register, small_table
from duckdb_distributed_execution_spark.queries.llm import _CC_EDGES_ORACLE

# ---------------------------------------------------------------------------
# Duplicate-cluster size histogram
# ---------------------------------------------------------------------------


@register(
    "dup_cluster_size_histogram",
    oracle="WITH RECURSIVE "
    + _CC_EDGES_ORACLE.format(simhash=D.oracle_simhash("text", 32))
    + """,
    sizes AS (SELECT comp, COUNT(*) AS sz FROM cc GROUP BY comp),
    hist AS (
      SELECT sz AS cluster_size, COUNT(*) AS n_clusters FROM sizes
      GROUP BY sz),
    nd AS (SELECT COUNT(*) AS n_docs FROM documents),
    paired AS (SELECT COUNT(*) AS n_paired FROM cc)
    SELECT cluster_size, n_clusters FROM hist
    UNION ALL
    SELECT 1 AS cluster_size, nd.n_docs - paired.n_paired AS n_clusters
    FROM nd, paired
    """,
)
def dup_cluster_size_histogram(spark, sf_dir):
    """The SIZE distribution of near-dup families: connected
    components of the SimHash pair graph (same machinery and
    recursive-CTE oracle as dedup_connected_components) grouped by
    component size, PLUS the singleton row computed explicitly —
    documents with no near-dup never enter the pair graph, and
    forgetting them misstates corpus retention (keep-one dedup
    removes Σ(size−1), so the histogram IS the retention forecast).
    Iterative hash-min CC (one keyed join per round); everything
    after runs on the |components| aggregate; the singleton count is
    a tagged-union combine of two 1-row aggregates."""
    from duckdb_distributed_execution_spark.operators import graph as G
    from duckdb_distributed_execution_spark.queries.llm import _cc_edges

    # cc feeds BOTH the size histogram and the paired-node count; a
    # localCheckpoint stops the second consumer from re-running the
    # whole simhash-edge + CC pipeline (r9 — the fused CC path has no
    # internal checkpoint, unlike the iterative loop whose per-round
    # checkpoints made recomputation cheap by accident).
    cc = G.connected_components(
        _cc_edges(spark, sf_dir), fused=small_table(sf_dir, "documents")
    ).localCheckpoint()
    sizes = cc.groupBy("comp").agg(F.count(F.lit(1)).alias("sz"))
    hist = sizes.groupBy(F.col("sz").alias("cluster_size")).agg(
        F.count(F.lit(1)).alias("n_clusters")
    )
    d = load(spark, sf_dir, "documents")["documents"]
    nd = d.agg(F.count(F.lit(1)).alias("a"))
    paired = cc.agg(F.count(F.lit(1)).alias("b"))
    singles = (
        nd.select("a", F.lit(None).cast("long").alias("b"))
        .unionByName(paired.select(F.lit(None).cast("long").alias("a"), "b"))
        .agg(F.max("a").alias("a"), F.max("b").alias("b"))
        .select(
            F.lit(1).cast("long").alias("cluster_size"),
            (F.col("a") - F.col("b")).alias("n_clusters"),
        )
    )
    return hist.select(
        F.col("cluster_size").cast("long").alias("cluster_size"),
        "n_clusters",
    ).unionByName(singles)


# ---------------------------------------------------------------------------
# Directed followed-by-within matrix
# ---------------------------------------------------------------------------

_FBW_WINDOW_US = 3600 * 1_000_000  # 1 hour


@register(
    "followed_by_within",
    oracle=f"""
    WITH e1 AS (
      SELECT event_id, user_id, event_type, epoch_us(ts) AS us FROM events),
    followed AS (
      SELECT DISTINCT a.event_id, a.event_type AS antecedent,
             b.event_type AS consequent
      FROM e1 a JOIN e1 b
        ON b.user_id = a.user_id
       AND b.us > a.us AND b.us <= a.us + {_FBW_WINDOW_US}
       AND b.event_type <> a.event_type),
    f AS (
      SELECT antecedent, consequent, COUNT(*) AS n_followed
      FROM followed GROUP BY antecedent, consequent),
    tot AS (
      SELECT event_type, COUNT(*) AS n_antecedents FROM events
      GROUP BY event_type)
    SELECT f.antecedent, f.consequent,
           CAST(t.n_antecedents AS BIGINT) AS n_antecedents,
           CAST(f.n_followed AS BIGINT) AS n_followed,
           ROUND(CAST(f.n_followed AS DOUBLE)
                 / CAST(t.n_antecedents AS DOUBLE), 6) AS follow_rate
    FROM f JOIN tot t ON t.event_type = f.antecedent
    """,
)
def followed_by_within(spark, sf_dir):
    """The DIRECTED temporal association matrix: for each ordered
    type pair (A → B), the fraction of A events followed by at least
    one B from the same user within an hour — error→purchase ≠
    purchase→error, which is exactly what session_type_lift's
    symmetric co-presence cannot say, and the empirical transition
    strength a trigger-based campaign or alert-correlation rule needs.
    The self-join is keyed on user with a bounded time predicate
    (per-user pair volume, never corpus²); EXISTS semantics come from
    a DISTINCT on (antecedent event, consequent type) — one B or
    twenty count the same; rates are exact integer counts with one
    division, denominators broadcast."""
    e = load(spark, sf_dir, "events")["events"]
    us = F.expr("unix_micros(ts)")
    e1 = e.select(
        "event_id", "user_id", "event_type", us.alias("us")
    )
    a = e1.select(
        F.col("event_id").alias("aid"),
        "user_id",
        F.col("event_type").alias("antecedent"),
        F.col("us").alias("aus"),
    )
    b = e1.select(
        "user_id",
        F.col("event_type").alias("consequent"),
        F.col("us").alias("bus"),
    )
    followed = (
        a.join(b, on="user_id")
        .filter(
            (F.col("bus") > F.col("aus"))
            & (F.col("bus") <= F.col("aus") + _FBW_WINDOW_US)
            & (F.col("consequent") != F.col("antecedent"))
        )
        .select("aid", "antecedent", "consequent")
        .distinct()
    )
    f = followed.groupBy("antecedent", "consequent").agg(
        F.count(F.lit(1)).alias("n_followed")
    )
    tot = e.groupBy(F.col("event_type").alias("antecedent")).agg(
        F.count(F.lit(1)).alias("n_antecedents")
    )
    return f.join(F.broadcast(tot), on="antecedent").select(
        "antecedent",
        "consequent",
        F.col("n_antecedents").cast("long").alias("n_antecedents"),
        F.col("n_followed").cast("long").alias("n_followed"),
        F.round(
            F.col("n_followed").cast("double")
            / F.col("n_antecedents").cast("double"),
            6,
        ).alias("follow_rate"),
    )
