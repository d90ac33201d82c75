"""Fifty-sixth wave — leakage-safe evaluation splits.

Splitting a corpus into train/held-out by per-document hash is the
standard move, and it leaks: near-duplicate pairs straddle the split,
so the held-out set scores documents the model effectively saw.
The correct split assigns whole NEAR-DUP CLUSTERS to one side
(Lee et al. 2022 "Deduplicating Training Data Makes Language Models
Better" report exactly this eval hazard). Two queries:

- ``split_leakage_audit`` — the diagnosis: hash-split every doc, then
  count the near-dup pairs (SimHash graph, the dedup_connected_
  components relation) that cross the split, per language. Non-zero
  rows are the leak.
- ``cluster_safe_split`` — the fix: every doc inherits its duplicate-
  cluster's split (hash of the component id = min reachable doc_id),
  making cross-split near-dup pairs 0 BY CONSTRUCTION — and the query
  emits that zero next to the per-split sizes, so the property is
  checked, not assumed.

Scale shape: both reuse the banded SimHash pair graph (never n²
pairs) and the iterative min-id connected components
(operators/graph.py — per-round one keyed shuffle, rounds bounded by
graph diameter); the split itself is one md5 per doc/component and
grouped counts. Reference has no eval-split surface (north-star
greenfield, BASELINE.json).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from duckdb_distributed_execution_spark.functions import persist_tracked
from duckdb_distributed_execution_spark.operators import dedup as D
from duckdb_distributed_execution_spark.operators import graph as G
from duckdb_distributed_execution_spark.queries import load, register
from duckdb_distributed_execution_spark.queries.llm import (
    _CC_EDGES_ORACLE,
    _SIMHASH_UND_ORACLE,
    _cc_edges,
)

# Deterministic 90/10 hash split on a doc_id-derived key — both
# engines compute the same md5 nibble bucket.
_SPLIT_SQL = (
    "CASE WHEN CAST('0x' || substr(md5(CAST({key} AS VARCHAR)), 1, 7) "
    "AS BIGINT) % 10 = 0 THEN 'heldout' ELSE 'train' END"
)


def _split_col(key):
    return (
        F.when(
            F.conv(F.substring(F.md5(key.cast("string")), 1, 7), 16, 10)
            .cast("long") % 10 == 0,
            F.lit("heldout"),
        )
        .otherwise(F.lit("train"))
    )


@register(
    "split_leakage_audit",
    oracle="WITH "
    + _SIMHASH_UND_ORACLE.format(simhash=D.oracle_simhash("text", 32))
    + f""",
    s AS (SELECT doc_id, lang, {_SPLIT_SQL.format(key='doc_id')} AS split
          FROM documents),
    x AS (SELECT e.ea, e.eb, a.lang,
                 CASE WHEN a.split <> b.split THEN 1 ELSE 0 END AS leak
          FROM edges e JOIN s a ON a.doc_id = e.ea
                       JOIN s b ON b.doc_id = e.eb)
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_neardup_pairs,
           CAST(SUM(leak) AS BIGINT) AS n_cross_split,
           ROUND(CAST(SUM(leak) AS DOUBLE) / COUNT(*), 4) AS leakage_rate
    FROM x GROUP BY lang
    """,
)
def split_leakage_audit(spark, sf_dir):
    """How leaky is a naive per-document hash split: per language,
    the number of SimHash near-dup pairs whose endpoints land in
    DIFFERENT splits (each such pair puts a near-copy of a training
    doc in the held-out set). Expected leakage of a p/(1-p) split is
    2p(1-p) of pairs (~18% at 90/10) — the audit makes the hazard a
    number the fix below drives to zero."""
    d = load(spark, sf_dir, "documents")["documents"]
    s = d.select(
        "doc_id", "lang", _split_col(F.col("doc_id")).alias("split")
    )
    e = _cc_edges(spark, sf_dir).select("id_a", "id_b")
    sa = s.select(
        F.col("doc_id").alias("id_a"), "lang", F.col("split").alias("sa")
    )
    sb = s.select(F.col("doc_id").alias("id_b"), F.col("split").alias("sb"))
    leak = F.when(F.col("sa") != F.col("sb"), 1).otherwise(0)
    return (
        e.join(sa, "id_a")
        .join(sb, "id_b")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_neardup_pairs"),
            F.sum(leak).cast("long").alias("n_cross_split"),
            F.round(
                F.sum(leak).cast("double") / F.count(F.lit(1)), 4
            ).alias("leakage_rate"),
        )
    )


@register(
    "cluster_safe_split",
    oracle="WITH RECURSIVE "
    + _CC_EDGES_ORACLE.format(simhash=D.oracle_simhash("text", 32))
    + f""",
    comp AS (
      SELECT d.doc_id,
             COALESCE(cc.comp, d.doc_id) AS component
      FROM documents d LEFT JOIN cc ON cc.node = d.doc_id),
    s AS (SELECT doc_id, component,
                 {_SPLIT_SQL.format(key='component')} AS split
          FROM comp),
    leaks AS (
      SELECT CAST(SUM(CASE WHEN a.split <> b.split THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_cross
      FROM edges e JOIN s a ON a.doc_id = e.ea
                   JOIN s b ON b.doc_id = e.eb)
    SELECT s.split,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(DISTINCT s.component) AS BIGINT) AS n_clusters,
           leaks.n_cross AS n_cross_split_pairs
    FROM s CROSS JOIN leaks
    GROUP BY s.split, leaks.n_cross
    """,
)
def cluster_safe_split(spark, sf_dir):
    """The leakage-free split: every document inherits the split of
    its near-dup CLUSTER (md5 of the component id — the min doc_id
    reachable in the SimHash pair graph; singletons are their own
    component), so a near-duplicate can never straddle train/heldout.
    Emits per-split doc and cluster counts PLUS the cross-split pair
    count, which this construction makes exactly 0 — the property is
    in the result, not the docstring. The 1-row leak count broadcasts
    onto the 2-row summary (bounded crossJoin)."""
    d = load(spark, sf_dir, "documents")["documents"]
    # The pairs feed CC and the leak count, so they are computed once,
    # in parallel: the count fills the persist, which CC's one task
    # then reads. Persisted, not checkpointed: CC picks its form from
    # the scans under its input, which a checkpoint hides.
    edges = persist_tracked(_cc_edges(spark, sf_dir).select("id_a", "id_b"))
    edges.count()
    cc = G.connected_components(edges).select(
        F.col("node").alias("doc_id"), F.col("comp").alias("component")
    )
    comp = d.select("doc_id").join(cc, "doc_id", "left").select(
        "doc_id",
        F.coalesce(F.col("component"), F.col("doc_id")).alias("component"),
    )
    s = comp.select(
        "doc_id", "component", _split_col(F.col("component")).alias("split")
    ).localCheckpoint()
    sa = s.select(F.col("doc_id").alias("id_a"), F.col("split").alias("sa"))
    sb = s.select(F.col("doc_id").alias("id_b"), F.col("split").alias("sb"))
    leaks = (
        edges.join(sa, "id_a")
        .join(sb, "id_b")
        .agg(
            F.coalesce(
                F.sum(F.when(F.col("sa") != F.col("sb"), 1).otherwise(0)),
                F.lit(0),
            ).cast("long").alias("n_cross")
        )
    )
    return (
        s.groupBy("split")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.countDistinct("component").cast("long").alias("n_clusters"),
        )
        .crossJoin(F.broadcast(leaks))
        .select(
            "split", "n_docs", "n_clusters",
            F.col("n_cross").alias("n_cross_split_pairs"),
        )
    )
