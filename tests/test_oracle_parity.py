"""Fast oracle-parity smoke: a representative query per family,
checked against DuckDB at sf0.01 with the same canonicalization the
selfcheck harness uses, plus every scale-gated query on the branch
the repo's data never takes at sf0.01 (its large-input plan). The
full sweep runs via ``python tools/selfcheck.py``."""

from __future__ import annotations

import pytest

from tests.conftest import SF_ORACLE
from tools.selfcheck import table_hash

REPRESENTATIVE = [
    "agg_pricing_summary",
    "join_multi_star",
    "join_asof",
    "window_rownum_latest",
    "rollup_agg",
    "ann_bruteforce_topk",
    "dedup_minhash_sigs",
    "text_quality",
    "events_tumbling_window",
    "bool_bit_aggregates",
    "csv_roundtrip",
]

# Every query whose plan shape is chosen by queries.small_table.
SCALE_GATED = [
    # the minhash fuse= flag
    "minhash_candidate_recall",
    "minhash_lsh_selectivity",
    "dedup_threshold_curve",
    "dedup_cross_source_matrix",
    "dedup_minhash_token_lsh",
    "dedup_minhash_lsh",
    # the connected-components fused= flag
    "dedup_connected_components",
    "dedup_cluster_keep_one",
    "dedup_cluster_keep_best",
    "dup_cluster_size_histogram",
    "cluster_safe_split",
    # a fused kernel or the distributed plan
    "ann_bruteforce_topk",
    "semantic_dedup_seeded",
    "coreset_kcenter_greedy",
    "dedup_embedding_cosine_banded",
    # the JVM or the Arrow text plan
    "dedup_exact",
    "text_quality",
    "tokens_per_lang_topk",
    # join plan shape and join-strategy hint
    "join_multi_star",
    "tpch_q9_partsupp",
]


def _assert_matches_oracle(spark, duck, name):
    from duckdb_distributed_execution_spark.queries import all_queries

    spec = all_queries()[name]
    sdf = spec.fn(spark, SF_ORACLE)
    srows = [tuple(r) for r in sdf.collect()]
    cur = duck.execute(spec.oracle)
    dcols = [d[0] for d in cur.description]
    drows = cur.fetchall()
    assert len(srows) == len(drows)
    assert sorted(sdf.columns) == sorted(dcols)
    sh, _ = table_hash(srows, sdf.columns)
    dh, _ = table_hash(drows, dcols)
    assert sh == dh
    assert len(srows) > 0


@pytest.mark.parametrize("name", REPRESENTATIVE)
def test_query_matches_oracle(spark, duck, name):
    _assert_matches_oracle(spark, duck, name)


@pytest.mark.parametrize("name", SCALE_GATED)
def test_large_branch_matches_oracle(spark, duck, monkeypatch, name):
    """No table is small under a negative threshold, so every gate
    takes its large-input plan on the sf0.01 data."""
    import duckdb_distributed_execution_spark.queries as Q

    monkeypatch.setattr(Q, "SMALL_TABLE_BYTES", -1)
    assert not Q.small_table(SF_ORACLE, "documents")
    _assert_matches_oracle(spark, duck, name)
