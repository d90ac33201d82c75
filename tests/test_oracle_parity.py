"""Fast oracle-parity smoke: a representative query per family,
checked against DuckDB at sf0.01 with the same canonicalization the
selfcheck harness uses, plus every scale-gated query on the branch
the repo's data never takes at sf0.01 (its large-input plan). The
full sweep runs via ``python tools/selfcheck.py``."""

from __future__ import annotations

import pytest

from tests.conftest import SF_ORACLE, SF_SMOKE
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

# Every query whose plan shape is chosen by functions.input_bytes:
# through small_input, or join_multi_star's SHUFFLE_HASH_GATE_BYTES.
SCALE_GATED = [
    # minhash_lsh_pairs picks its form
    "minhash_candidate_recall",
    "minhash_lsh_selectivity",
    "dedup_threshold_curve",
    "dedup_cross_source_matrix",
    "dedup_minhash_token_lsh",
    "dedup_minhash_lsh",
    # connected_components picks its form
    "dedup_connected_components",
    "dedup_cluster_keep_one",
    "dedup_cluster_keep_best",
    "dup_cluster_size_histogram",
    "cluster_safe_split",
    # a fused kernel or the distributed plan (brute_force_topk,
    # semantic_dedup_pairs, kcenter_greedy, cosine_banded_pairs pick)
    "ann_bruteforce_topk",
    "semantic_dedup_seeded",
    "coreset_kcenter_greedy",
    "dedup_embedding_cosine_banded",
    "embedding_banded_recall",
    # the JVM or the Arrow text plan (fingerprint_groups picks for
    # dedup_exact)
    "dedup_exact",
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
    """No input is small under a negative threshold, so every gate
    takes its large-input plan on the sf0.01 data."""
    import duckdb_distributed_execution_spark.functions as FX
    from duckdb_distributed_execution_spark.queries import load

    monkeypatch.setattr(FX, "SMALL_INPUT_BYTES", -1)
    monkeypatch.setattr(FX, "SHUFFLE_HASH_GATE_BYTES", -1)
    assert not FX.small_input(load(spark, SF_ORACLE, "documents")["documents"])
    _assert_matches_oracle(spark, duck, name)


@pytest.mark.parametrize("sf", [SF_SMOKE, SF_ORACLE])
def test_scale_gated_queries_take_small_branch(spark, monkeypatch, sf):
    """Each scale-gated query builds its plan by asking small_input
    about the frame it reads, and at both test scales every answer is
    small."""
    import duckdb_distributed_execution_spark.functions as FX
    from duckdb_distributed_execution_spark.queries import all_queries

    sizes = []

    def recorded(df, _input_bytes=FX.input_bytes):
        sizes.append(_input_bytes(df))
        return sizes[-1]

    monkeypatch.setattr(FX, "input_bytes", recorded)
    for name in SCALE_GATED:
        sizes.clear()
        all_queries()[name].fn(spark, sf)
        assert sizes, f"{name} never consulted small_input"
        assert all(b <= FX.SMALL_INPUT_BYTES for b in sizes), (name, sizes)


def test_gate_reads_unscanned_inputs_as_large(spark):
    """A checkpointed or driver-side frame carries no file statistics,
    so the gate sends it to the distributed form: connected components
    over checkpointed pair edges runs the iterative loop (which sets
    last_round_count; the fused twin does not), the same edges
    unmaterialized measure their two document scans and stay small."""
    from duckdb_distributed_execution_spark.functions import (
        local_rows_df,
        small_input,
    )
    from duckdb_distributed_execution_spark.operators import graph as G
    from duckdb_distributed_execution_spark.queries.llm import _cc_edges

    edges = _cc_edges(spark, SF_SMOKE)
    assert small_input(edges)
    assert not small_input(local_rows_df(spark, [(1, 2)], "a long, b long"))
    ckpt = edges.localCheckpoint()
    assert not small_input(ckpt)
    G.last_round_count = -1
    G.connected_components(edges).collect()
    assert G.last_round_count == -1
    G.connected_components(ckpt).collect()
    assert G.last_round_count >= 1
