"""Unit tests for the custom operators: as-of join, range join,
dedup suite, text analysis, multimodal plumbing — small handcrafted
inputs with known answers."""

from __future__ import annotations

import hashlib

import pytest
from pyspark.sql import functions as F

from duckdb_distributed_execution_spark.operators import dedup as D
from duckdb_distributed_execution_spark.operators import multimodal as M
from duckdb_distributed_execution_spark.operators import similarity as S
from duckdb_distributed_execution_spark.operators import text as X
from duckdb_distributed_execution_spark.operators.asof import asof_join, range_join
from duckdb_distributed_execution_spark.operators.similarity import (
    brute_force_topk,
    lsh_topk,
)


@pytest.fixture
def distributed(monkeypatch):
    """No input is small under a negative threshold, so every operator
    that picks its own form (minhash_lsh_pairs, connected_components,
    kcenter_greedy, brute_force_topk, cosine_banded_pairs,
    semantic_dedup_pairs, fingerprint_groups) takes the distributed
    one."""
    from duckdb_distributed_execution_spark import functions as FX

    monkeypatch.setattr(FX, "SMALL_INPUT_BYTES", -1)


def test_asof_join_backward(spark):
    quotes = spark.createDataFrame(
        [("A", 1, 10.0), ("A", 5, 11.0), ("A", 9, 12.0), ("B", 3, 20.0)],
        "sym STRING, ts LONG, px DOUBLE",
    )
    trades = spark.createDataFrame(
        [("A", 0), ("A", 1), ("A", 6), ("A", 20), ("B", 2), ("B", 4), ("C", 7)],
        "sym STRING, ts LONG",
    )
    out = asof_join(trades, quotes, on="sym", left_ts="ts", right_ts="ts",
                    right_cols=["px"])
    got = {(r.sym, r.ts): (r.px, r.asof_ts) for r in out.collect()}
    assert got[("A", 0)] == (None, None)      # nothing at-or-before
    assert got[("A", 1)] == (10.0, 1)         # equal ts matches (inclusive)
    assert got[("A", 6)] == (11.0, 5)
    assert got[("A", 20)] == (12.0, 9)
    assert got[("B", 2)] == (None, None)
    assert got[("B", 4)] == (20.0, 3)
    assert got[("C", 7)] == (None, None)      # key absent on right
    assert out.count() == 7                   # left outer: all left rows


def test_asof_join_tolerance(spark):
    quotes = spark.createDataFrame([("A", 1, 10.0)], "sym STRING, ts LONG, px DOUBLE")
    trades = spark.createDataFrame([("A", 2), ("A", 50)], "sym STRING, ts LONG")
    out = asof_join(trades, quotes, on="sym", left_ts="ts", right_ts="ts",
                    right_cols=["px"], tolerance=F.lit(5))
    got = {r.ts: r.px for r in out.collect()}
    assert got[2] == 10.0
    assert got[50] is None                    # beyond tolerance


def test_asof_join_forward(spark):
    quotes = spark.createDataFrame(
        [("A", 5, 10.0), ("A", 9, 12.0)], "sym STRING, ts LONG, px DOUBLE"
    )
    trades = spark.createDataFrame(
        [("A", 1), ("A", 5), ("A", 7), ("A", 10)], "sym STRING, ts LONG"
    )
    out = asof_join(trades, quotes, on="sym", left_ts="ts", right_ts="ts",
                    right_cols=["px"], direction="forward")
    got = {r.ts: (r.px, r.asof_ts) for r in out.collect()}
    assert got[1] == (10.0, 5)
    assert got[5] == (10.0, 5)   # equal ts matches forward too
    assert got[7] == (12.0, 9)
    assert got[10] == (None, None)


def test_sessionize_pandas_matches_window(spark):
    from duckdb_distributed_execution_spark.operators.sessionize import (
        sessionize_pandas,
        sessionize_window,
    )
    from duckdb_distributed_execution_spark.queries import load

    ev = load(spark, "/root/testdata/sf0.001", "events")["events"]
    a = {r.user_id: (r.n_sessions, r.n_events, r.longest_session)
         for r in sessionize_pandas(ev, "user_id", "ts", 1800).collect()}
    b = {r.user_id: (r.n_sessions, r.n_events, r.longest_session)
         for r in sessionize_window(ev, "user_id", "ts", 1800).collect()}
    assert a == b and len(a) > 0


def test_range_join(spark):
    points = spark.createDataFrame([(i, float(i)) for i in range(10)],
                                   "id LONG, v DOUBLE")
    intervals = spark.createDataFrame(
        [("lo", 0.0, 3.0), ("mid", 2.0, 7.0), ("hi", 8.5, 9.5)],
        "name STRING, lo DOUBLE, hi DOUBLE",
    )
    out = range_join(points, intervals, "v", "lo", "hi", bucket_width=2.0)
    got = sorted((r.id, r.name) for r in out.collect())
    expected = sorted(
        [(i, "lo") for i in range(0, 3)]
        + [(i, "mid") for i in range(2, 7)]
        + [(9, "hi")]
    )
    assert got == expected


def test_salted_join_matches_plain(spark):
    from duckdb_distributed_execution_spark.operators.skew import salted_join

    fact = spark.createDataFrame(
        [(i % 3, i) for i in range(300)], "k INT, v INT"  # 3 hot keys
    )
    dim = spark.createDataFrame([(0, "a"), (1, "b"), (2, "c")], "k INT, name STRING")
    plain = {(r.k, r.v, r.name) for r in fact.join(dim, on="k").collect()}
    salted = {(r.k, r.v, r.name)
              for r in salted_join(fact, dim, on="k", salt_source="v").collect()}
    assert salted == plain and len(plain) == 300


def test_recursive_cte(spark):
    from duckdb_distributed_execution_spark.operators.recursive import recursive_cte

    seed = spark.createDataFrame([(1,)], "n INT")
    out = recursive_cte(
        seed,
        lambda f: f.select((F.col("n") + 1).alias("n")).filter(F.col("n") <= 10),
        max_iterations=15,
    )
    assert sorted(r.n for r in out.collect()) == list(range(1, 11))
    with pytest.raises(RuntimeError):
        recursive_cte(seed, lambda f: f, max_iterations=3)  # never empties


def test_exact_dedup(spark, monkeypatch):
    """fingerprint_groups keeps the minimum id per normalized text, in
    its Arrow form (a driver-side frame reads as large) and, under a
    threshold no input exceeds, in its JVM form."""
    from duckdb_distributed_execution_spark import functions as FX

    df = spark.createDataFrame(
        [(1, "Hello, World!"), (2, "hello world"), (3, "different text"),
         (4, "HELLO  world")],
        "doc_id LONG, text STRING",
    )
    for threshold in (FX.SMALL_INPUT_BYTES, 1 << 63):
        monkeypatch.setattr(FX, "SMALL_INPUT_BYTES", threshold)
        groups = D.fingerprint_groups(df, "doc_id", "text")
        assert groups.columns == ["dedup_key", "keep_id", "n_dups"]
        g = {r.keep_id: r.n_dups for r in groups.collect()}
        assert g == {1: 3, 3: 1}


def test_word_shingles(spark):
    df = spark.createDataFrame([("a b c d",)], "text STRING")
    out = df.select(D.word_shingles(F.col("text"), 2).alias("sh")).collect()[0].sh
    assert sorted(out) == ["a b", "b c", "c d"]
    uni = df.select(D.word_shingles(F.col("text"), 1).alias("sh")).collect()[0].sh
    assert sorted(uni) == ["a", "b", "c", "d"]


def test_jaccard_pairs(spark):
    df = spark.createDataFrame(
        [(1, "the quick brown fox jumps", "en"),
         (2, "the quick brown fox leaps", "en"),
         (3, "completely unrelated words here", "en"),
         (4, "the quick brown fox jumps", "de")],  # different block
        "doc_id LONG, text STRING, lang STRING",
    )
    pairs = D.ngram_jaccard_pairs(df, "doc_id", "text", n=2, threshold=0.4,
                                  block_col="lang")
    got = {(r.id_a, r.id_b): r.jaccard for r in pairs.collect()}
    assert (1, 2) in got and got[(1, 2)] == pytest.approx(3 / 5)
    assert (1, 3) not in got
    assert (1, 4) not in got  # blocked by lang


def test_minhash_identical_docs_share_signature(spark):
    df = spark.createDataFrame(
        [(1, "alpha beta gamma delta"), (2, "alpha beta gamma delta"),
         (3, "epsilon zeta eta theta")],
        "doc_id LONG, text STRING",
    )
    sh = D.word_shingles(F.col("text"), 2)
    sig = df.select("doc_id", *D.minhash_signature(sh, 4)).collect()
    by_id = {r.doc_id: (r.mh_0, r.mh_1, r.mh_2, r.mh_3) for r in sig}
    assert by_id[1] == by_id[2]
    assert by_id[1] != by_id[3]
    # values match the Python reference implementation
    shingles = ["alpha beta", "beta gamma", "gamma delta"]
    a0, b0 = D.minhash_coeffs(1)[0]
    expected0 = min(
        (a0 * int(hashlib.md5(s.encode()).hexdigest()[:7], 16) + b0) % D.MINHASH_P
        for s in shingles
    )
    assert by_id[1][0] == expected0


def test_minhash_lsh_pairs(spark):
    df = spark.createDataFrame(
        [(1, "a b c d e f g h"), (2, "a b c d e f g x"), (3, "p q r s t u v w")],
        "doc_id LONG, text STRING",
    )
    pairs = D.minhash_lsh_pairs(df, "doc_id", "text", shingle_n=2,
                                num_hashes=8, band_size=2, verify_threshold=0.3)
    got = {(r.id_a, r.id_b) for r in pairs.collect()}
    assert (1, 2) in got
    assert all(3 not in p for p in got)


def test_simhash_hamming(spark):
    df = spark.createDataFrame(
        [(1, "a b c d e f g h", "x"), (2, "a b c d e f g h", "x"),
         (3, "z y x w v u t s", "x")],
        "doc_id LONG, text STRING, blk STRING",
    )
    pairs = D.simhash_pairs(df, "doc_id", "text", max_hamming=0, block_col="blk")
    got = {(r.id_a, r.id_b): r.hamming for r in pairs.collect()}
    assert got == {(1, 2): 0}


def test_brute_force_topk(spark):
    vecs = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [1.0, 0.01]), (2, [0.0, 1.0]), (3, [0.9, 0.1])],
        "vec_id LONG, embedding ARRAY<DOUBLE>",
    )
    out = brute_force_topk(vecs, F.col("vec_id") == 0, k=2)
    ranked = [r.neighbor_id for r in out.orderBy("rank").collect()]
    assert ranked == [1, 3]  # by cosine to (1,0)
    # no query rows: both forms rank nothing
    assert brute_force_topk(vecs, F.lit(False), k=2).count() == 0
    assert S._brute_force_topk_fused(vecs, F.lit(False), k=2).count() == 0


def test_lsh_topk_recall_smoke(spark):
    from duckdb_distributed_execution_spark.queries import load

    t = load(spark, "/root/testdata/sf0.001", "embeddings")["embeddings"]
    q = t.filter("vec_id < 3")
    exact = brute_force_topk(t, F.col("vec_id") < 3, k=5)
    # bucket width must match corpus size: 3 planes → 8 buckets over
    # 500 vectors (8 planes/256 buckets would leave ~2 candidates).
    approx = lsh_topk(t.filter("vec_id >= 3"), q, k=5, n_planes=3)
    e = {(r.query_id, r.neighbor_id) for r in exact.collect()}
    a = {(r.query_id, r.neighbor_id) for r in approx.collect()}
    # LSH candidates are a subset; require non-trivial recall.
    assert len(a & e) >= len(e) // 5


def test_text_ops(spark):
    df = spark.createDataFrame(
        [(1, "The quick brown fox, the lazy dog!")], "id LONG, text STRING"
    )
    r = df.select(
        X.token_count("text").alias("n"),
        X.normalize_text("text").alias("norm"),
        X.stopword_count("text").alias("sw"),
        X.fingerprint("text").alias("fp"),
    ).collect()[0]
    assert r.n == 7
    assert r.norm == "the quick brown fox the lazy dog"
    assert r.sw == 2  # 'the' twice
    assert r.fp == hashlib.md5(b"the quick brown fox the lazy dog").hexdigest()


def test_multimodal_features_deterministic(spark):
    df = spark.createDataFrame([(1, "hello"), (2, "world")], "doc_id LONG, text STRING")
    media = M.attach_binary_payload(df, "text", "doc_id")
    feats = {r.media_id: r.feature
             for r in M.extract_features(media, dim=4).collect()}
    # mirror the stub computation in Python
    h = hashlib.md5(b"hello").digest()
    expected = [float((h[i % 16] * 31 + 7 * i) % 256) for i in range(4)]
    assert feats[1] == expected  # integer-valued floats: float32-exact
    meta = {r.media_id: r for r in M.extract_metadata(media).collect()}
    assert meta[1].n_bytes == 5
    assert meta[1].content_md5 == hashlib.md5(b"hello").hexdigest()


def test_multimodal_decode_stub_gate(spark):
    """decode_stub=False is the REAL header-parse path now: a payload
    that is not media bytes quarantines to format code 0.0 (unknown)
    with zeroed metadata features instead of raising."""
    df = spark.createDataFrame([(1, "x")], "doc_id LONG, text STRING")
    media = M.attach_binary_payload(df, "text", "doc_id")
    feat = M.extract_features(media, dim=4, decode_stub=False).collect()[0]
    assert feat.feature == [0.0, 0.0, 0.0, 0.0][:3] + [0.0]


def test_hash_sampling_properties(spark):
    from duckdb_distributed_execution_spark.operators import sampling as SP

    df = spark.range(0, 20000).withColumnRenamed("id", "k")
    # rate ≈ 10% with tight concentration, and rerun-stable
    s1 = SP.hash_sample(df, F.col("k"), 0.10, "s1")
    n = s1.count()
    assert abs(n - 2000) < 200
    assert s1.count() == n  # deterministic re-run
    # independent salts give (nearly) independent samples
    s2 = SP.hash_sample(df, F.col("k"), 0.10, "s2")
    overlap = s1.join(s2, on="k").count()
    assert abs(overlap - 200) < 100  # ~rate² · N

    # splits: disjoint, exhaustive, stable under repartitioning
    splits = {"train": 0.8, "val": 0.1, "test": 0.1}
    lab = df.withColumn("split", SP.assign_split(F.col("k"), splits))
    by = {r.split: r.n for r in
          lab.groupBy("split").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert set(by) == {"train", "val", "test"}
    assert sum(by.values()) == 20000
    assert abs(by["train"] - 16000) < 500
    relab = df.repartition(7).withColumn("split", SP.assign_split(F.col("k"), splits))
    assert lab.exceptAll(relab).count() == 0

    # stratified: listed strata thinned, unlisted untouched
    strat = df.withColumn("g", (F.col("k") % 2 == 0).cast("string"))
    kept = SP.stratified_downsample(
        strat, F.col("g"), F.col("k"), {"true": 0.2}
    )
    by_g = {r.g: r.n for r in
            kept.groupBy("g").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert by_g["false"] == 10000
    assert abs(by_g["true"] - 2000) < 300


def test_connected_components(spark):
    from duckdb_distributed_execution_spark.operators import graph as G

    # path 1-2-3-4, triangle 10-11-12 plus chord, isolated pair 20-21
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (11, 12), (10, 12), (20, 21)],
        ["id_a", "id_b"],
    )
    cc = {r.node: r.comp for r in G.connected_components(edges).collect()}
    assert cc == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 12: 10, 20: 20, 21: 20}

    clusters = {
        r.keep_id: r.n_members for r in G.dedup_clusters(edges).collect()
    }
    assert clusters == {1: 4, 10: 3, 20: 2}

    # result is independent of edge orientation and partitioning
    flipped = edges.select(
        edges.id_b.alias("id_a"), edges.id_a.alias("id_b")
    ).repartition(5)
    cc2 = {r.node: r.comp for r in G.connected_components(flipped).collect()}
    assert cc2 == cc


def test_graph_edge_cases(spark):
    from duckdb_distributed_execution_spark.operators import graph as G

    empty = spark.createDataFrame([], "id_a LONG, id_b LONG")
    assert G.connected_components(empty).count() == 0
    assert G.dedup_clusters(empty).count() == 0

    # self-loop only: node is its own component
    loop = spark.createDataFrame([(7, 7)], "id_a LONG, id_b LONG")
    assert [(r.node, r.comp) for r in G.connected_components(loop).collect()] \
        == [(7, 7)]

    # pagerank mass conservation on a simple path graph
    path = spark.createDataFrame([(1, 2), (2, 3)], "id_a LONG, id_b LONG")
    pr = {r.node: r.pr for r in G.pagerank(path, iterations=3).collect()}
    assert set(pr) == {1, 2, 3}
    assert abs(sum(pr.values()) - 1.0) < 1e-6
    assert pr[2] > pr[1] == pr[3]


def test_kmeans_train_converges(spark):
    """Lloyd's iteration must monotonically not-increase inertia and
    produce k usable centroids for ivf_assign."""
    from duckdb_distributed_execution_spark.operators.similarity import (
        ivf_assign,
        kmeans_train,
    )
    from tests.conftest import SF_SMOKE

    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    k = 4
    cents = kmeans_train(emb, k, max_iter=5)
    rows = cents.collect()
    assert len(rows) == k
    dim = len(emb.select("embedding").first()[0])
    assert all(len(r.embedding) == dim for r in rows)

    assigned = ivf_assign(emb, cents)
    # every vector assigned exactly once, to a valid cell
    assert assigned.count() == emb.count()
    cids = {r.cid for r in assigned.select("cid").distinct().collect()}
    assert cids <= set(range(k)) and len(cids) >= 2

    # trained inertia must beat the 1-iteration inertia
    one = kmeans_train(emb, k, max_iter=1)
    inertia = lambda c: ivf_assign(emb, c).agg(F.sum("dist")).first()[0]
    assert inertia(cents) <= inertia(one) + 1e-9


def test_stable_row_ids_multi_partition(spark):
    from duckdb_distributed_execution_spark.operators.rowid import (
        assign_stable_row_ids,
    )

    df = spark.range(0, 1000).withColumn(
        "k", (F.lit(999) - F.col("id"))  # reverse order key
    ).repartition(7)
    out = assign_stable_row_ids(df, ["k"], num_partitions=5)
    rows = {r.k: r.row_id for r in out.collect()}
    assert len(rows) == 1000
    # id must equal rank of k in ascending order, regardless of the
    # input layout
    assert all(rows[k] == k for k in (0, 1, 499, 998, 999))


def test_assign_running_sum_matches_window(spark):
    """assign_running_sum must equal SUM(v) OVER (ORDER BY k ROWS
    UNBOUNDED PRECEDING) and the row number must be 1-based dense, at
    any input layout and partition count (heaps_law_fit's
    unpartitioned-window replacement)."""
    from pyspark.sql import Window

    from duckdb_distributed_execution_spark.operators.rowid import (
        assign_running_sum,
    )

    df = spark.range(0, 500).select(
        (F.lit(499) - F.col("id")).alias("k"),
        ((F.col("id") * 7) % 23).alias("v"),
    ).repartition(9)
    for parts in (1, 4, 13):
        out = {
            r.k: (r.i, r.rs)
            for r in assign_running_sum(
                df, ["k"], "v", out_col="rs", id_col="i",
                num_partitions=parts,
            ).collect()
        }
        w = Window.orderBy("k").rowsBetween(Window.unboundedPreceding, 0)
        exp = {
            r.k: (r.i, r.rs)
            for r in df.select(
                "k",
                F.row_number().over(Window.orderBy("k")).alias("i"),
                F.sum("v").over(w).alias("rs"),
            ).collect()
        }
        assert out == exp and len(out) == 500


def test_keyed_row_number_matches_plain_window(spark):
    """keyed_row_number must equal ROW_NUMBER() OVER (PARTITION BY key
    ORDER BY ...) exactly, at any input layout and bucket count —
    including boundary tie-groups (duplicate order tuples across the
    sampled cut points)."""
    from pyspark.sql import Window

    from duckdb_distributed_execution_spark.operators.rowid import (
        keyed_row_number,
    )

    df = (
        spark.range(0, 3000)
        .withColumn("k", (F.col("id") % 3).cast("int"))
        .withColumn("o1", (F.col("id") % 50).cast("int"))  # heavy ties
        .withColumn("o2", F.col("id"))  # tiebreak -> total order
        .repartition(11)
    )
    w = Window.partitionBy("k").orderBy("o1", "o2")
    expected = {
        (r.k, r.o2): r.rn
        for r in df.withColumn("rn", F.row_number().over(w)).collect()
    }
    for parts, sample in ((4, 200), (9, 3000)):
        out = keyed_row_number(
            df,
            ["k"],
            ["o1", "o2"],
            num_partitions=parts,
            sample_rows=sample,
        )
        got = {(r.k, r.o2): r.rn for r in out.collect()}
        assert got == expected


def test_keyed_row_number_null_key_raises(spark):
    """A NULL key must raise a clear ValueError, not a TypeError from
    sorting None against ints (round-3 advisor finding)."""
    import pytest as _pytest

    from duckdb_distributed_execution_spark.operators.rowid import (
        keyed_row_number,
    )

    df = spark.range(0, 100).withColumn(
        "k",
        F.when(F.col("id") % 2 == 0, F.col("id") % 3).cast("int"),
    )
    with _pytest.raises(ValueError, match="non-null key"):
        keyed_row_number(df, ["k"], ["id"], num_partitions=4).collect()


def test_minhash_lsh_partition_independent(spark, distributed):
    """The full LSH pipeline (shingle -> sig -> band -> bucket join ->
    verify) must produce identical pairs at any input partitioning —
    the property that makes it safe to scale executor counts."""
    from duckdb_distributed_execution_spark.queries import load

    from tests.conftest import SF_SMOKE

    docs = load(spark, SF_SMOKE, "documents")["documents"]

    def run(nparts):
        d = docs.repartition(nparts)
        pairs = D.minhash_lsh_pairs(
            d, "doc_id", "text", shingle_n=2, num_hashes=8, band_size=2,
            verify_threshold=0.12,
        )
        return {
            (r.id_a, r.id_b, round(r.jaccard, 9)) for r in pairs.collect()
        }

    assert run(2) == run(16)


def test_paragraph_dedup_partition_independent(spark):
    """Corpus-wide chunk keep-first must not depend on partition
    layout: the winner is (doc_id, chunk_idx)-minimal per hash, a
    total order independent of physical placement."""
    from duckdb_distributed_execution_spark.queries import all_queries
    from tests.conftest import SF_SMOKE

    fn = all_queries()["dedup_paragraph_exact"].fn
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "2")
        a = {tuple(r) for r in fn(spark, SF_SMOKE).collect()}
        spark.conf.set("spark.sql.shuffle.partitions", "17")
        b = {tuple(r) for r in fn(spark, SF_SMOKE).collect()}
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    assert a == b and len(a) > 0


def test_pii_redact_absolute_counts(spark):
    """Every augmented doc carries exactly one injected email, IP, and
    phone span (the base corpus has none), and the redacted text no
    longer matches any of the three patterns — an absolute-semantics
    check on top of the cross-engine selfcheck parity."""
    from duckdb_distributed_execution_spark.queries.pipeline4 import (
        _PII_EMAIL,
        _PII_IPV4,
        _PII_PHONE,
        text_pii_redact,
    )
    from tests.conftest import SF_SMOKE

    out = text_pii_redact(spark, SF_SMOKE)
    rows = out.collect()
    assert rows, "empty result"
    assert all(r.n_emails == 1 and r.n_ips == 1 and r.n_phones == 1 for r in rows)
    import re

    # redacted_fp is the md5 of a text with no remaining PII span;
    # rebuild one row's redaction in Python to confirm placeholders.
    assert all(len(r.redacted_fp) == 32 for r in rows)
    assert not any(
        re.search(p, "<EMAIL> <IP> <PHONE>")
        for p in (_PII_EMAIL, _PII_IPV4, _PII_PHONE)
    )


def test_simhash_pairs_wide_signature(spark):
    """The 60-bit simhash path (corpus-scale chunk width): exact
    duplicate texts land at Hamming 0 and are recovered; unrelated
    texts with disjoint vocabulary are not paired."""
    from duckdb_distributed_execution_spark.operators.dedup import simhash_pairs

    rows = [
        (1, "alpha beta gamma delta epsilon zeta"),
        (2, "alpha beta gamma delta epsilon zeta"),   # dup of 1
        (3, "one two three four five six seven"),
        (4, "one two three four five six seven"),     # dup of 3
        (5, "completely different words entirely here now"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {
        (r.id_a, r.id_b): r.hamming
        for r in simhash_pairs(df, "doc_id", "text", max_hamming=3, bits=60).collect()
    }
    assert got.get((1, 2)) == 0
    assert got.get((3, 4)) == 0
    assert all(5 not in pair for pair in got)


def test_connected_components_chain_converges(spark, distributed):
    """Worst-case depth regression: a 1000-link chain (diameter 1000)
    must converge within the default iteration budget — the
    large-star/small-star alternation (r7) needs O(log² n) rounds
    (11 measured here, pinned with slack), where plain hash-min
    propagation needs d rounds and times out."""
    from pyspark.sql import functions as F

    from duckdb_distributed_execution_spark.operators import graph as G

    chain = spark.range(999).select(
        F.col("id").alias("id_a"), (F.col("id") + 1).alias("id_b")
    )
    cc = G.connected_components(chain, max_iterations=30)
    assert cc.select("comp").distinct().count() == 1
    assert cc.count() == 1000
    assert cc.agg(F.min("comp")).first()[0] == 0
    assert G.last_round_count <= 14, (
        f"1000-chain took {G.last_round_count} rounds — the alternation "
        "should be logarithmic in component depth"
    )


def test_connected_components_round_count_shallow(spark, distributed):
    """The round-count pin behind the r7 graph-family speedup: real
    near-dup pair graphs are star-shaped/shallow, and the alternation
    must finish them in a handful of rounds (measured at sf0.1:
    cluster_safe_split converges in 4 rounds / 6.7 s Spark wall vs
    ~25 s for the round-6 hash-min+jump loop, identical outputs —
    selfcheck hashes unchanged). A hub star converges in ONE round;
    a two-level boilerplate family in ≤ 3."""
    from pyspark.sql import functions as F

    from duckdb_distributed_execution_spark.operators import graph as G

    star = spark.range(1, 100).select(
        F.lit(0).alias("id_a"), F.col("id").alias("id_b")
    )
    cc = {r.node: r.comp for r in G.connected_components(star).collect()}
    assert set(cc.values()) == {0} and len(cc) == 100
    assert G.last_round_count == 1

    # two-level tree: 0-(1..9), i-(10i..10i+9) — depth 2
    lvl1 = spark.range(1, 10).select(
        F.lit(0).alias("id_a"), F.col("id").alias("id_b")
    )
    lvl2 = spark.range(10, 100).select(
        (F.col("id") / 10).cast("long").alias("id_a"),
        F.col("id").alias("id_b"),
    )
    cc2 = G.connected_components(lvl1.union(lvl2))
    assert cc2.select("comp").distinct().collect()[0][0] == 0
    assert cc2.count() == 100
    assert G.last_round_count <= 3


def test_ngram_jaccard_unblocked_raises(spark):
    df = spark.createDataFrame(
        [(1, "a b c"), (2, "a b d")], "doc_id LONG, text STRING"
    )
    with pytest.raises(ValueError, match="all-pairs cartesian"):
        D.ngram_jaccard_pairs(df, "doc_id", "text", n=2, threshold=0.1)
    # Explicit opt-in still works for small exact/oracle runs.
    out = D.ngram_jaccard_pairs(
        df, "doc_id", "text", n=2, threshold=0.1, allow_unblocked=True
    )
    assert out.count() == 1


def test_embedding_banded_recall_gate(spark):
    """The banded (LSH-candidates + exact-verify) embedding dedup must
    hold recall >= 0.95 against the planted-pair truth, with precision
    1.0 by construction (every emitted pair passes the exact verify).
    Deterministic: fixed planes, fixed corpus — not flaky."""
    from duckdb_distributed_execution_spark.queries.pipeline13 import (
        embedding_banded_recall,
    )

    row = embedding_banded_recall(spark, "/root/testdata/sf0.01").collect()[0]
    assert row.n_truth >= 50  # planted truth is real, not an empty set
    assert row.recall >= 0.95
    assert row.n_hit == row.n_banded  # precision 1.0: no false positives


def test_embedding_banded_selectivity_gate(spark):
    """Pruning-power gate (round-3 'What's missing' #2): the candidate
    set must stay a small fraction of all within-label pairs — a
    vacuous filter (round 3's 2-bit config admitted 94%) can never
    pass CI again. Measured: 0.92% at sf0.01, 0.67% at sf0.1."""
    from duckdb_distributed_execution_spark.queries.pipeline13 import (
        embedding_banded_selectivity,
    )

    row = embedding_banded_selectivity(
        spark, "/root/testdata/sf0.01"
    ).collect()[0]
    assert row.candidate_fraction <= 0.02
    assert row.n_possible > 10_000  # the denominator is the real pair count


def test_contamination_span_planted(spark, tmp_path):
    """Plant a doc that quotes a 'benchmark' doc verbatim for 8 tokens
    mid-text: the span detector must report exactly that span (8
    tokens = 6 consecutive trigram hits) and ignore docs with only
    scattered single-gram overlap."""
    from duckdb_distributed_execution_spark.queries.pipeline16 import (
        contamination_span_max,
    )

    bench_text = "alpha beta gamma delta epsilon zeta eta theta"
    rows = [
        (0, bench_text),  # doc_id % 50 == 0 -> the benchmark doc
        # verbatim 8-token quote embedded in noise
        (1, "noise1 noise2 " + bench_text + " noise3 noise4"),
        # scattered overlap only: single shared trigram, run < 4
        (2, "alpha beta gamma noiseA noiseB delta epsilon noiseC"),
        (3, "completely unrelated words here nothing shared at all"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    df.write.mode("overwrite").parquet(f"{tmp_path}/documents.parquet")
    out = {
        r.doc_id: (r.max_span_tokens, r.n_runs)
        for r in contamination_span_max(spark, str(tmp_path)).collect()
    }
    assert out == {1: (8, 1)}  # 6 trigram hits -> 8-token span; doc 2/3 clean


def test_substring_cut_planted(spark):
    """Plant verbatim duplication and assert the EXACT removed spans,
    attribution, and surgically cut text (round-4 verdict task 6 —
    surgery, not just signal). Doc 3 embeds tokens 3..10 of doc 1
    (8 tokens = 6 consecutive trigram matches) plus, later, tokens
    12..17 of doc 2 (6 tokens = 4 matches); doc 4 shares only a
    scattered trigram (run < 4). Keep-first: doc 1/2 lose nothing."""
    from duckdb_distributed_execution_spark.operators.dedup import (
        substring_cut_spans,
        substring_cut_text,
    )

    w1 = [f"a{i}" for i in range(1, 21)]   # doc 1: a1..a20
    w2 = [f"b{i}" for i in range(1, 21)]   # doc 2: b1..b20
    quote1 = w1[2:10]                      # a3..a10 (8 tokens)
    quote2 = w2[11:17]                     # b12..b17 (6 tokens)
    d3 = ["n1", "n2"] + quote1 + ["n3"] + quote2 + ["n4"]
    d4 = ["a1", "a2", "a3", "x1", "x2", "b5", "b6", "b7", "x3"]
    rows = [
        (1, " ".join(w1)),
        (2, " ".join(w2)),
        (3, " ".join(d3)),
        (4, " ".join(d4)),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    spans = {
        (r.doc_id, r.span_start, r.span_end): (r.n_tokens, r.src_doc)
        for r in substring_cut_spans(docs, min_run=4).collect()
    }
    # doc 3: quote1 occupies positions 3..10, quote2 positions 12..17.
    assert spans == {
        (3, 3, 10): (8, 1),
        (3, 12, 17): (6, 2),
    }
    cut = {
        r.doc_id: (r.n_tokens_orig, r.n_tokens_kept, r.text_dedup)
        for r in substring_cut_text(docs, min_run=4).collect()
    }
    assert cut[1] == (20, 20, " ".join(w1))
    assert cut[2] == (20, 20, " ".join(w2))
    assert cut[3] == (18, 4, "n1 n2 n3 n4")
    assert cut[4] == (9, 9, " ".join(d4))


def test_substring_cut_short_docs(spark):
    """Docs shorter than the k-gram seed (min span = min_run + 2
    tokens) produce no grams and must neither crash nor emit spans —
    guards the sequence(1, m<1) DESCENDING pitfall in
    positional_word_kgrams — and identical short docs are untouched
    (below the span threshold by definition)."""
    from duckdb_distributed_execution_spark.operators.dedup import (
        positional_word_kgrams,
        substring_cut_spans,
        substring_cut_text,
    )

    rows = [(1, "a b c"), (2, "a b c"), (3, "x"), (4, "")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    grams = docs.select(
        F.size(positional_word_kgrams(F.col("text"), 6)).alias("n")
    ).collect()
    assert all(r.n == 0 for r in grams)
    assert substring_cut_spans(docs, min_run=4).count() == 0
    cut = {r.doc_id: r.text_dedup
           for r in substring_cut_text(docs, min_run=4).collect()}
    assert cut[1] == "a b c" and cut[2] == "a b c" and cut[3] == "x"


def test_substring_cut_incremental_matches_batch(spark):
    """When every corpus id precedes every increment id, delta-mode
    substring surgery must EXACTLY equal the batch form of the union
    restricted to increment docs — the invariant that makes daily
    increments composable (re-running batch over the growing corpus
    and running increments forever produce the same removed spans)."""
    from duckdb_distributed_execution_spark.operators.dedup import (
        substring_cut_spans,
        substring_cut_spans_incremental,
    )
    from duckdb_distributed_execution_spark.queries import load

    d = load(spark, "/root/testdata/sf0.01", "documents")["documents"]
    thr = 250
    corpus = d.filter(F.col("doc_id") < thr)
    new = d.filter(F.col("doc_id") >= thr)
    inc = {
        tuple(r)
        for r in substring_cut_spans_incremental(corpus, new).collect()
    }
    full = {
        tuple(r)
        for r in substring_cut_spans(d).collect()
        if r.doc_id >= thr
    }
    assert inc == full and len(inc) > 0

    from duckdb_distributed_execution_spark.operators.dedup import (
        substring_cut_text,
        substring_cut_text_incremental,
    )

    inc_t = {
        tuple(r)
        for r in substring_cut_text_incremental(corpus, new).collect()
    }
    full_t = {
        tuple(r)
        for r in substring_cut_text(d).collect()
        if r.doc_id >= thr
    }
    assert inc_t == full_t and len(inc_t) == new.count()


def test_substring_cut_adjacent_spans_merge(spark):
    """Two runs whose intervals touch merge into one span (the
    interval-merge window), and a doc duplicated WHOLE comes back as
    an empty string."""
    from duckdb_distributed_execution_spark.operators.dedup import (
        substring_cut_spans,
        substring_cut_text,
    )

    w1 = [f"c{i}" for i in range(1, 15)]
    rows = [
        (1, " ".join(w1)),
        (2, " ".join(w1)),  # verbatim clone of doc 1
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    spans = [
        (r.doc_id, r.span_start, r.span_end, r.src_doc)
        for r in substring_cut_spans(docs, min_run=4).collect()
    ]
    assert spans == [(2, 1, 14, 1)]
    cut = {
        r.doc_id: (r.n_tokens_kept, r.text_dedup)
        for r in substring_cut_text(docs, min_run=4).collect()
    }
    assert cut[1] == (14, " ".join(w1))
    assert cut[2] == (0, "")


def test_cosine_verify_numpy_matches_fold(spark):
    """The Arrow-batched numpy verify (the large-candidate-set hot
    path) must agree with the sequential-fold cosine on pair identity
    and on sims to 4 decimals."""
    from duckdb_distributed_execution_spark.functions import (
        dot_product,
        l2_norm,
    )
    from duckdb_distributed_execution_spark.operators.similarity import (
        cosine_verify_numpy,
    )
    from duckdb_distributed_execution_spark.queries import load

    e = load(spark, "/root/testdata/sf0.001", "embeddings")["embeddings"]
    v = e.select(
        "vec_id",
        "label",
        F.transform("embedding", lambda x: x.cast("double")).alias("v"),
    )
    a = v.select(
        F.col("vec_id").alias("id_a"), F.col("v").alias("__va"), "label"
    )
    b = v.select(
        F.col("vec_id").alias("id_b"), F.col("v").alias("__vb"), "label"
    )
    pairs = a.join(b, on="label").filter(F.col("id_a") < F.col("id_b"))
    fold = (
        pairs.select(
            "id_a",
            "id_b",
            (
                dot_product(F.col("__va"), F.col("__vb"))
                / (l2_norm(F.col("__va")) * l2_norm(F.col("__vb")))
            ).alias("sim"),
        )
        # filter on the RAW sim then round — the same order
        # cosine_banded_pairs and cosine_verify_numpy use
        .filter(F.col("sim") >= 0.3)
        .select("id_a", "id_b", F.round("sim", 4).alias("sim"))
    )
    np_out = cosine_verify_numpy(pairs, threshold=0.3)
    got = {(r.id_a, r.id_b): r.sim for r in np_out.collect()}
    exp = {(r.id_a, r.id_b): r.sim for r in fold.collect()}
    assert got == exp and len(got) > 0


def test_cosine_pairs_blocked_numpy_matches_fold(spark):
    """The per-block matmul pair generator (semantic_dedup_seeded's
    round-5 hot path) must agree with the fold-based blocked self-join
    on pair identity and 4-decimal sims — including with a row_block
    smaller than the block, so the chunked upper-triangle indexing is
    exercised across chunk boundaries."""
    from duckdb_distributed_execution_spark.functions import (
        dot_product,
        l2_norm,
    )
    from duckdb_distributed_execution_spark.operators.similarity import (
        cosine_pairs_blocked_numpy,
    )
    from duckdb_distributed_execution_spark.queries import load

    e = load(spark, "/root/testdata/sf0.001", "embeddings")["embeddings"]
    v = e.select(
        "vec_id",
        "label",
        F.transform("embedding", lambda x: x.cast("double")).alias("v"),
    )
    a = v.select(
        F.col("vec_id").alias("id_a"), F.col("v").alias("__va"), "label"
    )
    b = v.select(
        F.col("vec_id").alias("id_b"), F.col("v").alias("__vb"), "label"
    )
    fold = (
        a.join(b, on="label")
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "label",
            "id_a",
            "id_b",
            (
                dot_product(F.col("__va"), F.col("__vb"))
                / (l2_norm(F.col("__va")) * l2_norm(F.col("__vb")))
            ).alias("sim"),
        )
        .filter(F.col("sim") >= 0.3)
        .select("label", "id_a", "id_b", F.round("sim", 4).alias("sim"))
    )
    for row_block in (7, 4096):
        np_out = cosine_pairs_blocked_numpy(
            v.select("vec_id", "label", F.col("v").alias("embedding")),
            block_col="label", id_col="vec_id", vec_col="embedding",
            threshold=0.3, row_block=row_block,
        )
        got = {(r.label, r.id_a, r.id_b): r.sim for r in np_out.collect()}
        exp = {(r.label, r.id_a, r.id_b): r.sim for r in fold.collect()}
        assert got == exp and len(got) > 0


def test_lsh_family_selectivity_gates(spark):
    """Pruning-power gates for the remaining LSH families (round-3
    'What's missing' #2): candidates / possible pairs must stay small,
    so a config whose filter is vacuous (passes ~all pairs) fails CI.
    Measured at sf0.01: minhash 0.55%, ann_lsh same-bucket 1.03%;
    gates at 3% leave margin without admitting a vacuous filter."""
    from duckdb_distributed_execution_spark.queries import load
    from duckdb_distributed_execution_spark.queries.vectors import (
        _hyperplanes,
        lsh_bucket,
    )

    sf = "/root/testdata/sf0.01"
    docs = load(spark, sf, "documents")["documents"]
    n = docs.count()
    cand = D.minhash_lsh_pairs(
        docs, "doc_id", "text", shingle_n=2, num_hashes=8, band_size=2,
        candidates_only=True,
    ).count()
    assert cand <= 0.03 * n * (n - 1) / 2, (cand, n)

    e = load(spark, sf, "embeddings")["embeddings"]
    ne = e.count()
    occ = (
        e.select(lsh_bucket(F.col("embedding"), _hyperplanes()).alias("b"))
        .groupBy("b")
        .count()
        .collect()
    )
    bucket_pairs = sum(r["count"] * (r["count"] - 1) // 2 for r in occ)
    assert bucket_pairs <= 0.03 * ne * (ne - 1) / 2, (bucket_pairs, ne)


def test_media_header_roundtrip():
    """Builders emit format-conformant bytes; the parser recovers the
    exact parameters — pure Python, no Spark."""
    assert M.parse_media_header(M.png_bytes(640, 480)) == {
        "format": "png", "width": 640, "height": 480, "channels": 3,
        "bit_depth": 8, "sample_rate": None, "n_samples": None,
    }
    j = M.parse_media_header(M.jpeg_bytes(123, 45, n_components=1))
    assert (j["format"], j["width"], j["height"], j["channels"]) == (
        "jpeg", 123, 45, 1)
    g = M.parse_media_header(M.gif_bytes(2, 65535))
    assert (g["format"], g["width"], g["height"]) == ("gif", 2, 65535)
    b = M.parse_media_header(M.bmp_bytes(31, 17))
    assert (b["format"], b["width"], b["height"], b["channels"]) == (
        "bmp", 31, 17, 3)
    w = M.parse_media_header(M.wav_bytes(44100, 441, channels=2))
    assert (w["format"], w["sample_rate"], w["n_samples"], w["channels"],
            w["bit_depth"]) == ("wav", 44100, 441, 2, 16)


def test_media_header_corrupt_quarantines():
    """Garbage, truncated, and empty payloads must decode to
    format='unknown' (or a format with NULL fields), never raise —
    a media lake always contains bad rows."""
    assert M.parse_media_header(b"")["format"] == "unknown"
    assert M.parse_media_header(b"not media at all")["format"] == "unknown"
    t = M.parse_media_header(b"\xff\xd8tr")  # JPEG SOI then garbage
    assert t["format"] == "jpeg" and t["width"] is None
    # PNG signature but truncated before IHDR: unknown, not a crash.
    assert M.parse_media_header(b"\x89PNG\r\n\x1a\n\x00")["format"] == "unknown"


def test_decode_media_info_distributed(spark):
    """The mapInPandas decode path over synthesized real bytes."""
    base = spark.range(0, 50).select(F.col("id").alias("doc_id"))
    media = M.synth_media(base, "doc_id")
    info = {r.media_id: r for r in M.decode_media_info(media).collect()}
    assert len(info) == 50
    assert info[0].format == "png" and info[0].width == 1
    assert info[9].format == "wav" and info[9].sample_rate == 9000
    assert info[9].n_samples == 17  # 8 + 9 % 32
    assert info[13].format == "bmp" and info[13].height == 14


def test_media_content_roundtrip():
    """Content-level decode (pure Python): the PNG raster must survive
    a REAL zlib inflate and match the generator's closed form; WAV PCM
    decodes to the exact sawtooth; corrupt zlib streams quarantine."""
    p = M.png_bytes(5, 3)
    c = M.parse_media_content(p)
    rw, rh = 5, 3
    assert c["format"] == "png" and c["n_values"] == rh * (1 + 3 * rw)
    assert c["value_sum"] == (
        21 * (rw * (rw - 1) // 2) * rh
        + 39 * rw * (rh * (rh - 1) // 2)
        + 93 * rw * rh
    )
    assert c["value_min"] == 0
    assert c["value_max"] == 7 * (rw - 1) + 13 * (rh - 1) + 62

    w = M.parse_media_content(M.wav_bytes(8000, 4))
    assert w["format"] == "wav" and w["n_values"] == 4
    assert w["value_sum"] == 257 * (4 * 3 // 2) - 16384 * 4
    assert w["value_min"] == -16384 and w["value_max"] == 257 * 3 - 16384

    # Corrupt the IDAT zlib stream: quarantine, not die.
    bad = bytearray(M.png_bytes(4, 4))
    bad[40] ^= 0xFF
    assert M.parse_media_content(bytes(bad))["format"] in (
        "png", "unknown",
    )  # either the chunk walk bails or inflate raises -> unknown
    assert M.parse_media_content(b"")["format"] == "unknown"
    # JPEG/GIF synthetics carry no payload data
    assert M.parse_media_content(M.jpeg_bytes(9, 9))["n_values"] == 0
    assert M.parse_media_content(M.gif_bytes(9, 9))["n_values"] == 0


def test_decode_media_info_null_payload(spark):
    """NULL payloads quarantine to 'unknown' like corrupt bytes do —
    the task must not die on bytes(None) (round-3 advisor finding)."""
    from pyspark.sql import types as T

    rows = [(1, M.png_bytes(4, 3)), (2, None), (3, b"\x00garbage")]
    schema = T.StructType([
        T.StructField("media_id", T.LongType()),
        T.StructField("payload", T.BinaryType()),
    ])
    media = spark.createDataFrame(rows, schema)
    info = {r.media_id: r for r in M.decode_media_info(media).collect()}
    assert info[1].format == "png" and info[1].width == 4
    assert info[2].format == "unknown" and info[2].width is None
    assert info[3].format == "unknown"


def test_extract_features_null_payload(spark):
    """NULL payloads through extract_features quarantine to the
    empty-bytes feature instead of dying on bytes(None) — the third
    sibling of the round-3 advisor's NULL-payload finding (the first
    two, decode_media_info/parse_media_content, were fixed in r4)."""
    from pyspark.sql import types as T

    rows = [(1, M.png_bytes(4, 3)), (2, None)]
    schema = T.StructType([
        T.StructField("media_id", T.LongType()),
        T.StructField("payload", T.BinaryType()),
    ])
    media = spark.createDataFrame(rows, schema)
    for stub in (True, False):
        feats = {r.media_id: r.feature
                 for r in M.extract_features(media, dim=4,
                                             decode_stub=stub).collect()}
        assert len(feats) == 2 and len(feats[2]) == 4
        assert feats[2] == feats[2]  # materialized, no NaN surprises


def test_extract_features_real_decode(spark):
    """decode_stub=False now runs the real header parser — feature
    vector = typed metadata, integer-valued floats."""
    base = spark.range(0, 10).select(F.col("id").alias("doc_id"))
    media = M.synth_media(base, "doc_id")
    feats = {r.media_id: r.feature
             for r in M.extract_features(media, dim=8, decode_stub=False).collect()}
    assert feats[0][0] == 1.0 and feats[0][1] == 1.0   # png, width 1
    assert feats[4][0] == 5.0 and feats[4][5] == 12000.0  # wav, rate


def test_cosine_banded_pairs_fused_matches_distributed(spark, distributed):
    """r9 fused single-task kernel (plant → LSH sig → bucket pairs →
    verify in one mapInPandas) must be row-identical to the
    distributed plan cosine_banded_pairs runs above the scale gate —
    including the planted clones, which the kernel recomputes in numpy
    with the same IEEE-double ops the JVM zip_with performs."""
    from duckdb_distributed_execution_spark.queries import load

    e = load(spark, "/root/testdata/sf0.01", "embeddings")["embeddings"]
    kw = dict(threshold=0.8, n_tables=16, band_bits=12, dim=64,
              plant=(7, 0.4, 10_000_000))
    dist = S.cosine_banded_pairs(e, "vec_id", "embedding", "label", **kw)
    fused = S._cosine_banded_pairs_fused(
        e, "vec_id", "embedding", "label", **kw
    )
    got = {(r.id_a, r.id_b): r.sim for r in fused.collect()}
    exp = {(r.id_a, r.id_b): r.sim for r in dist.collect()}
    assert got == exp and len(got) > 0


def test_semantic_dedup_pairs_fused_matches_distributed(spark, distributed):
    """r9 fused single-task kernel (seed pick → assign → per-cluster
    pairs in one mapInPandas) must be row-identical to the
    collect + assign_nearest_seed_numpy + cosine_pairs_blocked_numpy
    plan semantic_dedup_pairs runs above the scale gate."""
    from duckdb_distributed_execution_spark.queries import load

    e = load(spark, "/root/testdata/sf0.01", "embeddings")["embeddings"]
    kw = dict(id_col="vec_id", vec_col="embedding", k_seeds=8, threshold=0.3)
    dist = S.semantic_dedup_pairs(e, **kw)
    fused = S._semantic_dedup_pairs_fused(e, **kw)
    got = {(r.cluster, r.id_a, r.id_b): r.sim for r in fused.collect()}
    exp = {(r.cluster, r.id_a, r.id_b): r.sim for r in dist.collect()}
    assert got == exp and len(got) > 0


def test_brute_force_topk_fused_matches_distributed(spark, distributed):
    """r9 fused single-task kernel (query split → score matmul →
    per-query lexsort rank in one mapInPandas) must be row-identical
    to the collect + per-batch-prune + rank-window plan
    brute_force_topk runs above the scale gate."""
    from duckdb_distributed_execution_spark.queries import load

    e = load(spark, "/root/testdata/sf0.01", "embeddings")["embeddings"]
    is_query = F.col("vec_id") < 5
    dist = S.brute_force_topk(e, is_query, k=10)
    fused = S._brute_force_topk_fused(e, is_query, k=10)
    got = {(r.query_id, r.neighbor_id): (r.rank, r.sim)
           for r in fused.collect()}
    exp = {(r.query_id, r.neighbor_id): (r.rank, r.sim)
           for r in dist.collect()}
    assert got == exp and len(got) > 0


def test_boilerplate_ngrams_array_distinct_matches_global(spark):
    """r9: boilerplate_ngrams dedups doc-grams per row
    (array_distinct before the explode) instead of a global DISTINCT
    exchange. The two forms must agree — asserted on a synthetic
    corpus with real boilerplate (repeated headers inside one source)
    because the testdata corpora produce EMPTY results for this query
    at every SF, which would make the oracle comparison vacuous."""
    from pyspark.sql import Window

    from duckdb_distributed_execution_spark.operators.dedup import (
        word_shingles,
    )

    header = "all rights reserved contact us terms of service"
    rows = [
        (i, "web", f"{header} unique body {i} filler words here {i}")
        for i in range(20)
    ] + [
        (100 + i, "web", f"different text entirely number {i} no shared")
        for i in range(5)
    ] + [
        # duplicate grams INSIDE one doc — the case where a naive
        # per-row dedup and the global DISTINCT could diverge if the
        # per-doc count leaked into doc_freq
        (200, "web", f"{header} middle words {header} tail"),
        (300, "news", "single doc source never flagged at threshold"),
    ]
    d = spark.createDataFrame(rows, "doc_id LONG, source STRING, text STRING")

    def freq(grams):
        return grams.groupBy("source", "g").agg(
            F.count(F.lit(1)).alias("doc_freq")
        )

    old = freq(
        d.select(
            "doc_id", "source",
            F.explode(word_shingles(F.col("text"), 4)).alias("g"),
        ).distinct().drop("doc_id")
    )
    new = freq(
        d.select(
            "source",
            F.explode(
                F.array_distinct(word_shingles(F.col("text"), 4))
            ).alias("g"),
        )
    )
    got = {(r.source, r.g): r.doc_freq for r in new.collect()}
    exp = {(r.source, r.g): r.doc_freq for r in old.collect()}
    assert got == exp and len(got) > 0
    # the header grams really are boilerplate-frequent (non-vacuous)
    assert max(got.values()) >= 21


def test_connected_components_fused_matches_iterative(spark, distributed):
    """r9 single-task union-find twin must label every node with the
    same min-reachable component id as the alternating-star loop —
    pure integer graph semantics, asserted on the real sf0.01 simhash
    pair graph (361 nodes) plus a hand-built chain + self-loop +
    singleton-edge graph covering the contract's edge cases."""
    from duckdb_distributed_execution_spark.operators import graph as G
    from duckdb_distributed_execution_spark.queries.llm import _cc_edges

    edges = _cc_edges(spark, "/root/testdata/sf0.01")
    it = {(r.node, r.comp)
          for r in G.connected_components(edges).collect()}
    fu = {(r.node, r.comp)
          for r in G._connected_components_fused(edges).collect()}
    assert it == fu and len(it) > 0

    hand = spark.createDataFrame(
        [(5, 4), (4, 3), (3, 2), (2, 1),      # chain -> comp 1
         (10, 10),                            # self-loop only
         (20, 21),                            # pair
         (None, 30), (31, None)],             # null sides
        "id_a LONG, id_b LONG",
    )
    it = {(r.node, r.comp)
          for r in G.connected_components(hand).collect()}
    fu = {(r.node, r.comp)
          for r in G._connected_components_fused(hand).collect()}
    assert it == fu
    comp = dict(fu)
    assert comp[5] == 1 and comp[10] == 10 and comp[21] == 20


def _fused_kernels(spark):
    """Each size-gated fused kernel, built over a tiny input (8 rows,
    or 4 edges for connected components)."""
    from duckdb_distributed_execution_spark.operators.graph import (
        _connected_components_fused,
    )
    from duckdb_distributed_execution_spark.operators.linalg import (
        _kcenter_greedy_fused,
    )

    docs = spark.createDataFrame(
        [(i, f"alpha beta gamma delta {i}") for i in range(8)],
        "doc_id long, text string",
    )
    vecs = spark.createDataFrame(
        [(i, i % 2, [float(i + 1), 1.0, float(i % 3)]) for i in range(8)],
        "vec_id long, label long, embedding array<double>",
    )
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5)], "u long, v long"
    )
    return {
        "minhash": lambda: D._minhash_lsh_pairs_fused(docs, "doc_id", "text"),
        "connected_components": lambda: _connected_components_fused(
            edges, "u", "v"
        ),
        "cosine_banded": lambda: S._cosine_banded_pairs_fused(
            vecs, threshold=0.1, n_tables=2, band_bits=2, dim=3
        ),
        "semantic_dedup": lambda: S._semantic_dedup_pairs_fused(
            vecs, k_seeds=2
        ),
        "brute_force_topk": lambda: S._brute_force_topk_fused(
            vecs, F.col("vec_id") < 2, k=2
        ),
        "kcenter": lambda: _kcenter_greedy_fused(vecs, k=3),
    }


def test_bucket_pairs_match_per_bucket_loop():
    """The fused pair generators' shared helper: the same pair set as
    one ``triu_indices`` per bucket, over buckets of mixed sizes
    (singletons and empty ones included)."""
    import numpy as np

    from duckdb_distributed_execution_spark.operators.similarity import (
        _bucket_pairs,
    )

    rng = np.random.default_rng(3)
    sizes = rng.integers(0, 9, 200)
    ends = np.cumsum(sizes)
    starts = ends - sizes
    order = rng.permutation(int(ends[-1]))
    exp = set()
    for s, e in zip(starts, ends):
        idx = order[s:e]
        r, c = np.triu_indices(len(idx), k=1)
        exp |= set(zip(idx[r].tolist(), idx[c].tolist()))
    ia, ib = _bucket_pairs(order, starts, ends)
    got = list(zip(ia.tolist(), ib.tolist()))
    assert len(got) == len(set(got)) and set(got) == exp
    ia, ib = _bucket_pairs(order, starts[:0], ends[:0])
    assert len(ia) == len(ib) == 0


def test_fused_kernel_guard_unit():
    """At/below the limit is silent, above raises."""
    from duckdb_distributed_execution_spark import functions as FX

    FX.check_fused_input_rows(10, "x", 10)
    with pytest.raises(RuntimeError, match="fused single-task kernel"):
        FX.check_fused_input_rows(11, "x", 10)


def test_fused_kernel_input_guard(spark, monkeypatch):
    """r10 verdict item 8: the size-gated fused single-task kernels
    defend against an ungated caller passing a large relation. Every
    fused kernel runs through ``functions.fused_single_task``, which
    captures the cap DRIVER-side when the operator is built (executor
    workers re-import the module, so a runtime read would be
    unpatchable): each of the six kernels runs under the default cap,
    and with the module constant lowered its tiny input trips the
    guard end-to-end through the Py4J boundary."""
    from duckdb_distributed_execution_spark import functions as FX

    kernels = _fused_kernels(spark)
    assert len(kernels) == 6
    for build in kernels.values():
        build().collect()
    monkeypatch.setattr(FX, "FUSED_KERNEL_MAX_ROWS", 3)
    for name, build in kernels.items():
        with pytest.raises(Exception, match="fused single-task kernel"):
            build().collect()
            pytest.fail(f"{name}: guard did not trip")
