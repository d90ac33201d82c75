"""Wave-48 pins: the conformal coverage guarantee observed on held-out
data, and post-stratification identities."""

from __future__ import annotations

import pytest

from duckdb_distributed_execution_spark.queries.pipeline48 import (
    abtest_poststratified_ate,
    conformal_interval_coverage,
)

SF = "/root/testdata/sf0.01"  # conformal needs calibration mass


def test_conformal_coverage_guarantee(spark):
    """Split-conformal at α=0.1: per-type held-out coverage must sit
    near 90% (finite-sample noise bounded loosely), and the interval
    half-width is positive with sane split sizes."""
    rows = conformal_interval_coverage(spark, SF).collect()
    assert len(rows) >= 3
    for r in rows:
        assert r["n_train"] > 0 and r["n_cal"] > 0 and r["n_test"] > 0
        assert r["half_width"] > 0
        # guarantee: E[coverage] >= 0.9; per-type sample noise at
        # n_test ~ few hundred keeps it well inside [0.8, 1.0].
        assert 0.8 <= r["coverage"] <= 1.0, r
    # aggregate coverage across types should hug the target
    tot = sum(r["n_test"] for r in rows)
    cov = sum(r["coverage"] * r["n_test"] for r in rows) / tot
    assert cov == pytest.approx(0.9, abs=0.05)


def test_poststratified_ate_identities(spark):
    """Weights sum to 1; each stratum's effect is mean1 − mean0; the
    post-stratified ATE (Σ w·effect) stays within the span of the
    per-stratum effects."""
    rows = abtest_poststratified_ate(spark, SF).collect()
    assert rows
    assert sum(r["weight"] for r in rows) == pytest.approx(1.0, abs=1e-4)
    for r in rows:
        assert r["effect"] == pytest.approx(
            r["mean_arm1"] - r["mean_arm0"], abs=3e-6
        )
    ate = sum(r["weight"] * r["effect"] for r in rows)
    lo = min(r["effect"] for r in rows)
    hi = max(r["effect"] for r in rows)
    assert lo - 1e-9 <= ate <= hi + 1e-9


def test_hard_negatives_match_numpy_ground_truth(spark):
    """Every mined negative must have a different label from its
    anchor, and the top-3 must equal a dense numpy recomputation."""
    import numpy as np

    from duckdb_distributed_execution_spark.queries.pipeline49 import (
        ann_hard_negative_mining,
    )

    sf = "/root/testdata/sf0.001"
    emb = spark.read.parquet(f"{sf}/embeddings.parquet").collect()
    ids = np.array([r["vec_id"] for r in emb])
    lbl = np.array([r["label"] for r in emb])
    X = np.vstack([np.asarray(r["embedding"], dtype=np.float64) for r in emb])
    Xn = X / np.linalg.norm(X, axis=1, keepdims=True)
    labels = {r["vec_id"]: r["label"] for r in emb}

    got = {}
    for r in ann_hard_negative_mining(spark, sf).collect():
        got.setdefault(r["anchor_id"], []).append(
            (r["rank"], r["neighbor_id"], r["sim"])
        )
    assert set(got) == set(ids[ids < 8])
    for aid, rows in got.items():
        rows.sort()
        assert [r[0] for r in rows] == [1, 2, 3]
        a = np.where(ids == aid)[0][0]
        sims = Xn @ Xn[a]
        sims[lbl == labels[aid]] = -np.inf
        order = np.lexsort((ids, -sims))[:3]
        assert [r[1] for r in rows] == list(ids[order])
        for (_, _, s), j in zip(rows, order):
            assert abs(s - sims[j]) < 1e-4
        for _, nid, _ in rows:
            assert labels[nid] != labels[aid]


def test_kcenter_greedy_matches_numpy_and_radius_monotone(spark):
    """k-center picks must equal a dense numpy greedy recomputation
    (same quantized-argmax rule), with a non-increasing selection
    radius and no repeats (while any point remains uncovered)."""
    import numpy as np

    from duckdb_distributed_execution_spark.queries.pipeline50 import (
        coreset_kcenter_greedy,
    )

    sf = "/root/testdata/sf0.001"
    emb = spark.read.parquet(f"{sf}/embeddings.parquet").collect()
    ids = np.array([r["vec_id"] for r in emb])
    X = np.vstack([np.asarray(r["embedding"], dtype=np.float64) for r in emb])
    order = np.argsort(ids)
    ids, X = ids[order], X[order]

    picks = []
    cur = 0  # min id position
    picks.append((0, int(ids[cur]), 0.0))
    dq = None
    for t in range(1, 6):
        d = ((X - X[cur]) ** 2).sum(axis=1)
        ndq = np.floor(d * 1e6 + 0.5).astype(np.int64)
        dq = ndq if dq is None else np.minimum(dq, ndq)
        cand = np.lexsort((ids, -dq))[0]
        picks.append((t, int(ids[cand]), dq[cand] / 1e6))
        cur = cand

    got = sorted(
        (r["sel_round"], r["vec_id"], r["dist"])
        for r in coreset_kcenter_greedy(spark, sf).collect()
    )
    want = [(t, i, round(d, 4)) for t, i, d in picks]
    assert got == want
    radii = [d for _, _, d in got[1:]]
    assert all(a >= b for a, b in zip(radii, radii[1:]))
    chosen = [i for _, i, _ in got]
    assert len(set(chosen)) == len(chosen)


def test_ingest_funnel_monotone_and_consistent(spark):
    """Funnel sanity: stage counts are monotonically non-increasing
    per source; totals reconcile with the standalone stage operators
    (quota totals = domain_quota_sample rows; exact-dedup total
    bounded by distinct fingerprints)."""
    from duckdb_distributed_execution_spark.queries import all_queries
    from duckdb_distributed_execution_spark.queries.pipeline51 import (
        ingest_funnel_by_source,
    )

    sf = "/root/testdata/sf0.001"
    rows = ingest_funnel_by_source(spark, sf).collect()
    assert rows
    for r in rows:
        assert (
            r["n_in"] >= r["n_quota"] >= r["n_exact"]
            >= r["n_quality"] >= r["n_ppl"] >= 0
        )
        if r["n_ppl"] == 0:
            assert r["tokens_kept"] == 0
        else:
            assert r["tokens_kept"] > 0
    quota_total = sum(r["n_quota"] for r in rows)
    dq = all_queries()["domain_quota_sample"].fn(spark, sf)
    assert quota_total == dq.count()
    # the p90 cut keeps ~90% at the corpus level, before the earlier
    # stages' attrition
    assert sum(r["n_ppl"] for r in rows) <= 0.95 * sum(
        r["n_exact"] for r in rows
    )


def test_loso_influence_telescopes(spark):
    """Leave-one-out algebra: n_s-weighted removal gains telescope —
    Σ_s (N − n_s)·(loso_s − corpus_mean) == 0 (each doc's deviation
    counted once with opposite sign), and the sign of removal_gain
    is opposite to the source's own mean-vs-corpus position."""
    from duckdb_distributed_execution_spark.queries.pipeline52 import (
        loso_source_influence,
    )

    sf = "/root/testdata/sf0.001"
    rows = loso_source_influence(spark, sf).collect()
    assert rows
    n = sum(r["n_docs"] for r in rows)
    corpus = rows[0]["corpus_mean_quality"]
    assert all(r["corpus_mean_quality"] == corpus for r in rows)
    tele = sum(
        (n - r["n_docs"]) * (r["loso_mean_quality"] - corpus) for r in rows
    )
    # each term carries up to 5e-7 of 6-decimal rounding, scaled by
    # (N − n_s) ≈ N, summed over |sources| terms
    assert abs(tele) < len(rows) * n * 5e-7
    for r in rows:
        assert r["removal_gain"] == pytest.approx(
            r["loso_mean_quality"] - corpus, abs=3e-6
        )


def test_drift_audit_slices_partition_table(spark):
    from duckdb_distributed_execution_spark.queries import load
    from duckdb_distributed_execution_spark.queries.pipeline54 import (
        table_drift_audit,
    )

    sf = "/root/testdata/sf0.001"
    rows = {r["col"]: r for r in table_drift_audit(spark, sf).collect()}
    assert set(rows) == {
        "o_custkey", "o_totalprice", "o_orderstatus", "o_orderpriority",
        "o_orderkey",
    }
    orders = load(spark, sf, "orders")["orders"]
    total = orders.count()
    for r in rows.values():
        assert r["n_early"] + r["n_late"] == total
    assert rows["o_orderstatus"]["mean_delta"] is None


def test_register_rejects_duplicate_names():
    """A second @register under an existing name must raise, not
    silently overwrite (the round-5 target_encode_loo incident)."""
    from duckdb_distributed_execution_spark.queries import (
        all_queries,
        register,
    )

    assert "target_encode_loo" in all_queries()
    with pytest.raises(ValueError, match="already registered"):
        register("target_encode_loo")(lambda spark, sf: None)


def test_kcenter_greedy_fused_matches_distributed(spark, monkeypatch):
    """r9: the size-gated single-task k-center twin must be
    row-identical to the distributed per-round loop (same numpy d²
    expansion, same quantized least-fold, same max-dq/min-id pick)."""
    from duckdb_distributed_execution_spark import functions as FX
    from duckdb_distributed_execution_spark.operators.linalg import (
        _kcenter_greedy_fused,
        kcenter_greedy,
    )
    from duckdb_distributed_execution_spark.queries import load

    e = load(spark, "/root/testdata/sf0.01", "embeddings")["embeddings"]
    b = _kcenter_greedy_fused(e, "vec_id", "embedding", k=6)
    monkeypatch.setattr(FX, "SMALL_INPUT_BYTES", -1)
    a = kcenter_greedy(e, "vec_id", "embedding", k=6)
    assert a.exceptAll(b).count() == 0
    assert b.exceptAll(a).count() == 0
