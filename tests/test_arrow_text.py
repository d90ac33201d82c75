"""Arrow-kernel text operators (r7 sf1-watchlist surgery) must be
EXACTLY equivalent to the JVM column expressions they replace — not
just oracle-parity at one sf, but row-for-row identical on adversarial
inputs (unicode, empty, whitespace-only, null, regex metacharacters).
The parity argument (why RE2-vs-java.util.regex dialects cannot
diverge after the first [^a-z0-9 ]→space replacement) lives in
operators/text.py::tokens_exploded_arrow; these tests enforce it."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from duckdb_distributed_execution_spark.operators import text as X
from tests.conftest import SF_ORACLE, SF_SMOKE

ADVERSARIAL = [
    (1, "Hello, World!  multiple   spaces"),
    (2, ""),
    (3, "   "),
    (4, None),
    (5, "ALL-CAPS&SYMBOLS###"),
    (6, "tabs\tand\nnewlines\x0bvertical"),
    (7, "unicode Éclair ß İstanbul KK kelvin"),
    (8, "regex .*+?[]{}()|^$ metachars"),
    (9, "a"),
    (10, "numbers 123 mixed a1b2"),
    (11, "the a of and to in is it on for stopwords"),
    (12, "x" * 500),
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(ADVERSARIAL, "doc_id LONG, text STRING")


def test_tokens_exploded_arrow_matches_jvm(spark, docs):
    jvm = docs.select(
        "doc_id",
        F.explode(X.tokens(X.normalize_text("text"))).alias("term"),
    )
    arrow = X.tokens_exploded_arrow(docs, "doc_id", "text")
    assert sorted(map(tuple, jvm.collect())) == sorted(
        map(tuple, arrow.collect())
    )


def test_tokens_exploded_arrow_on_real_corpus(spark):
    """Same check over the driver corpus — volume + real distribution."""
    d = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    jvm = d.select(
        "doc_id",
        F.explode(X.tokens(X.normalize_text("text"))).alias("term"),
    )
    arrow = X.tokens_exploded_arrow(d, "doc_id", "text")
    assert jvm.count() == arrow.count()
    assert jvm.exceptAll(arrow).limit(1).count() == 0
    assert arrow.exceptAll(jvm).limit(1).count() == 0


def test_doc_features_arrow_matches_jvm(spark, docs):
    jvm = docs.select(
        "doc_id",
        X.quality_score("text").alias("quality"),
        X.fingerprint("text").alias("fp"),
        F.size(F.split("text", " ")).alias("n_words"),
    ).collect()
    arrow = X.doc_features_arrow(docs, "doc_id", "text").collect()
    j = {r["doc_id"]: r for r in jvm}
    a = {r["doc_id"]: r for r in arrow}
    assert set(j) == set(a)
    for k in j:
        assert j[k]["fp"] == a[k]["fp"], k
        # quality must be BIT-identical (same IEEE op order), not close
        assert j[k]["quality"] == a[k]["quality"], k
        if j[k]["text" if False else "n_words"] is not None:
            assert j[k]["n_words"] == a[k]["n_words"], k


def test_doc_features_arrow_on_real_corpus(spark):
    d = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    jvm = d.select(
        "doc_id",
        X.quality_score("text").alias("quality"),
        X.fingerprint("text").alias("fp"),
        F.size(F.split("text", " ")).alias("n_words"),
        X.stopword_count("text").alias("n_stopwords"),
    )
    arrow = X.doc_features_arrow(d, "doc_id", "text", emit_stopwords=True)
    assert jvm.exceptAll(arrow).limit(1).count() == 0
    assert arrow.exceptAll(jvm).limit(1).count() == 0


def test_fingerprint_kv_arrow_matches_jvm(spark, docs):
    """The r8 dedup_exact fast path: dedup._fingerprint_kv_arrow must be
    byte-identical to the JVM fingerprint on adversarial strings
    (unicode, nulls, regex metachars, whitespace zoo) AND the real
    corpus — same contract as doc_features_arrow's fp column."""
    from duckdb_distributed_execution_spark.operators import dedup as D

    jvm = docs.select(
        "doc_id", X.fingerprint("text").alias("dedup_key")
    )
    arrow = D._fingerprint_kv_arrow(docs, "doc_id", "text")
    assert jvm.exceptAll(arrow).limit(1).count() == 0
    assert arrow.exceptAll(jvm).limit(1).count() == 0

    d = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    jvm2 = d.select("doc_id", X.fingerprint("text").alias("dedup_key"))
    arrow2 = D._fingerprint_kv_arrow(d, "doc_id", "text")
    assert jvm2.exceptAll(arrow2).limit(1).count() == 0
    assert arrow2.exceptAll(jvm2).limit(1).count() == 0


def test_keyed_kth_smallest_matches_window(spark):
    """keyed_kth_smallest == the k-th value of ROW_NUMBER ordering,
    across batch boundaries and under-k keys."""
    from duckdb_distributed_execution_spark.operators.rowid import (
        keyed_kth_smallest,
    )

    df = (
        spark.range(1000)
        .select(
            (F.col("id") % 7).alias("k"),
            # scattered, unique order values
            ((F.col("id") * 131) % 1009).alias("v"),
        )
        .union(spark.createDataFrame([(99, 5), (99, 3)], "k LONG, v LONG"))
        .repartition(8)
    )
    got = {
        r["k"]: r["kth"]
        for r in keyed_kth_smallest(df, ["k"], "v", 20).collect()
    }
    from pyspark.sql import Window

    w = Window.partitionBy("k").orderBy("v")
    want_rows = (
        df.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 20)
        .collect()
    )
    want = {r["k"]: r["v"] for r in want_rows}
    for k in got:
        assert got[k] == want.get(k), k  # None for under-k keys
    assert got[99] is None, "under-k key must report no threshold"
    # the quota equivalence the funnel relies on: v <= kth ⟺ rn <= 20
    thr = keyed_kth_smallest(df, ["k"], "v", 20)
    quota = df.join(thr, "k", "left").filter(
        F.col("kth").isNull() | (F.col("v") <= F.col("kth"))
    )
    rn20 = df.withColumn("rn", F.row_number().over(w)).filter("rn <= 20")
    assert quota.count() == rn20.count()
    assert quota.select("k", "v").exceptAll(
        rn20.select("k", "v")
    ).count() == 0


def test_grouped_token_counts_arrow_matches_jvm(spark, docs):
    """r9: the fused tokenize+count kernel must produce EXACT counts —
    summing its per-batch partials equals the JVM explode+groupBy on
    the same adversarial inputs (group keyed by doc_id here to make
    every edge row its own group)."""
    jvm = (
        docs.select(
            "doc_id",
            F.explode(X.tokens(X.normalize_text("text"))).alias("term"),
        )
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    arrow = (
        X.grouped_token_counts_arrow(docs, "doc_id")
        .groupBy("doc_id", "term")
        .agg(F.sum("cnt").alias("cnt"))
    )
    assert sorted(map(tuple, jvm.collect())) == sorted(
        map(tuple, arrow.collect())
    )


def test_grouped_token_counts_arrow_on_real_corpus(spark):
    d = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    jvm = (
        d.select(
            "lang",
            F.explode(X.tokens(X.normalize_text("text"))).alias("term"),
        )
        .groupBy("lang", "term")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    arrow = (
        X.grouped_token_counts_arrow(d, "lang")
        .groupBy("lang", "term")
        .agg(F.sum("cnt").alias("cnt"))
    )
    assert sorted(map(tuple, jvm.collect())) == sorted(
        map(tuple, arrow.collect())
    )


def test_doc_features_arrow_stopwords_matches_jvm(spark, docs):
    """r9 text_quality surgery: the opt-in n_stopwords column must be
    exactly the JVM stopword_count (bigint, null on null text), and
    the default-off form must keep its original schema."""
    assert "n_stopwords" not in X.doc_features_arrow(
        docs, "doc_id", "text"
    ).columns
    jvm = docs.select(
        "doc_id", X.stopword_count("text").alias("n_stopwords")
    ).collect()
    arrow = X.doc_features_arrow(
        docs, "doc_id", "text", emit_stopwords=True
    ).select("doc_id", "n_stopwords").collect()
    j = {r["doc_id"]: r["n_stopwords"] for r in jvm}
    a = {r["doc_id"]: r["n_stopwords"] for r in arrow}
    assert j == a


@pytest.mark.parametrize("n", [1, 2, 3])
def test_minhash_sig_rows_arrow_matches_jvm(spark, docs, n):
    """r9 minhash surgery: the fused Arrow signature kernel must be
    row-identical (ids, every affine min, the distinct-hash SET) to
    the explode → groupBy(min, collect_set) plan it replaces — on
    adversarial inputs and for every shingle width."""
    from duckdb_distributed_execution_spark.operators import dedup as D

    jvm = (
        docs.repartition(4, "doc_id")
        .select(
            F.col("doc_id").alias("doc"),
            F.explode(D.word_shingles(F.col("text"), n)).alias("s"),
        )
        .select("doc", D.minhash_base(F.col("s")).alias("h"))
        .groupBy("doc")
        .agg(
            *[
                F.expr(f"min(({a} * h + {b}) % {D.MINHASH_P})").alias(
                    f"mh_{i}"
                )
                for i, (a, b) in enumerate(D.minhash_coeffs(8))
            ],
            F.sort_array(F.collect_set("h")).alias("sh"),
        )
    )
    arrow = D.minhash_sig_rows_arrow(docs, "doc_id", "text", n, 8).select(
        "doc",
        *[f"mh_{i}" for i in range(8)],
        F.sort_array("sh").alias("sh"),
    )
    assert sorted(map(repr, jvm.collect())) == sorted(
        map(repr, arrow.collect())
    )


def test_minhash_sig_rows_arrow_on_real_corpus(spark):
    from duckdb_distributed_execution_spark.operators import dedup as D

    d = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    jvm = (
        d.repartition(4, "doc_id")
        .select(
            F.col("doc_id").alias("doc"),
            F.explode(D.word_shingles(F.col("text"), 2)).alias("s"),
        )
        .select("doc", D.minhash_base(F.col("s")).alias("h"))
        .groupBy("doc")
        .agg(
            *[
                F.expr(f"min(({a} * h + {b}) % {D.MINHASH_P})").alias(
                    f"mh_{i}"
                )
                for i, (a, b) in enumerate(D.minhash_coeffs(8))
            ],
            F.sort_array(F.collect_set("h")).alias("sh"),
        )
    )
    arrow = D.minhash_sig_rows_arrow(d, "doc_id", "text", 2, 8).select(
        "doc",
        *[f"mh_{i}" for i in range(8)],
        F.sort_array("sh").alias("sh"),
    )
    assert jvm.count() == arrow.count()
    assert jvm.exceptAll(arrow).limit(1).count() == 0
    assert arrow.exceptAll(jvm).limit(1).count() == 0


def _doc_hashes_by_strings(pdf, n):
    """String reference for the word-shingle doc hashes: normalize
    each text, " "-join every n-token window and md5 it — one string
    and one md5 per (doc, shingle) — then the distinct (doc, h)
    pairs."""
    import hashlib
    import re

    out = set()
    for doc, text in zip(pdf["doc_id"], pdf["text"]):
        if text is None:
            continue
        norm = re.sub(" +", " ", re.sub("[^a-z0-9 ]", " ", text.lower()))
        toks = norm.strip(" ").split(" ")
        for i in range(len(toks) - n + 1):
            s = " ".join(toks[i : i + n])
            out.add((doc, int(hashlib.md5(s.encode()).hexdigest()[:7], 16)))
    return out


@pytest.mark.parametrize("n", [1, 2, 3, 4])
def test_minhash_doc_hashes_high_vocabulary(n):
    """The token-code doc hashes (rolling shingle codes, one md5 per
    distinct shingle) equal the per-shingle string form on a batch
    with >20k distinct tokens, repeated shingles, and NULL, empty,
    whitespace-only and shorter-than-n docs."""
    import numpy as np
    import pandas as pd

    from duckdb_distributed_execution_spark.operators import dedup as D

    rng = np.random.default_rng(7)
    alphabet = np.array(list("abcdefghijklmnopqrstuvwxyz0123456789"))
    lens = rng.integers(2, 9, 30_000)
    chars = rng.choice(alphabet, lens.sum())
    pool = np.array(
        ["".join(w) for w in np.split(chars, np.cumsum(lens)[:-1])]
    )
    texts = [" ".join(rng.choice(pool, rng.integers(50, 400)))
             for _ in range(300)]
    texts[5] = texts[4]  # a duplicate doc
    texts[6] = "Echo echo, ECHO! echo echo"  # repeated shingles
    texts += [None, "", "   ", "!!", "one", "one two", "one two three"]
    pdf = pd.DataFrame(
        {"doc_id": np.arange(len(texts), dtype=np.int64) * 3 + 1,
         "text": texts}
    )
    assert len(set(" ".join(t for t in texts if t).split())) > 20_000
    dh = D._minhash_doc_hashes(pdf, "doc_id", "text", n, None)
    got = list(zip(dh["doc"].tolist(), dh["h"].tolist()))
    assert len(got) == len(set(got))
    assert set(got) == _doc_hashes_by_strings(pdf, n)


def test_token_shingle_fn_matches_jvm(spark):
    """r9 wave-60 routing: the per-doc Python mirror of the JVM
    BPE-encode + array_shingles expression (token_shingles_py →
    bpe_apply_py) must produce signature rows identical to the
    explode plan over the JVM column — every affine min AND the
    distinct-hash set — on the real corpus, so routing the token
    variant through the fused kernel cannot change any pair."""
    from duckdb_distributed_execution_spark.operators import dedup as D
    from duckdb_distributed_execution_spark.operators.bpe import (
        bpe_apply_expr,
    )
    from duckdb_distributed_execution_spark.queries.pipeline60 import (
        BPE_MERGES,
        _N,
        _SEP,
        token_shingles_py,
    )

    d = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    enc = bpe_apply_expr(F.col("text"), BPE_MERGES)
    toks = F.filter(
        F.split(enc, "\\|"),
        lambda t: (t != F.lit("")) & (t != F.lit(" ")),
    )
    jvm = (
        d.repartition(4, "doc_id")
        .select(
            F.col("doc_id").alias("doc"),
            F.explode(D.array_shingles(toks, _N, _SEP)).alias("s"),
        )
        .select("doc", D.minhash_base(F.col("s")).alias("h"))
        .groupBy("doc")
        .agg(
            *[
                F.expr(f"min(({a} * h + {b}) % {D.MINHASH_P})").alias(
                    f"mh_{i}"
                )
                for i, (a, b) in enumerate(D.minhash_coeffs(8))
            ],
            F.sort_array(F.collect_set("h")).alias("sh"),
        )
    )
    kern = D.minhash_sig_rows_arrow(
        d, "doc_id", "text", _N, 8,
        shingle_fn=token_shingles_py(BPE_MERGES, _N, _SEP),
    ).select(
        "doc",
        *[f"mh_{i}" for i in range(8)],
        F.sort_array("sh").alias("sh"),
    )
    assert jvm.count() == kern.count()
    assert jvm.exceptAll(kern).limit(1).count() == 0
    assert kern.exceptAll(jvm).limit(1).count() == 0


_FUSED_MINHASH_KW = {
    "verify_0.12": dict(shingle_n=2, verify_threshold=0.12),
    "verify_0.0": dict(shingle_n=2, verify_threshold=0.0),
    "candidates_only": dict(shingle_n=2, candidates_only=True),
}


@pytest.mark.parametrize(
    "sf,kw",
    [
        pytest.param(sf, kw, id=name if sf == SF_ORACLE else f"sf0.001-{name}")
        for sf in (SF_ORACLE, SF_SMOKE)
        for name, kw in _FUSED_MINHASH_KW.items()
    ],
)
def test_minhash_lsh_pairs_fused_matches_distributed(
    spark, monkeypatch, sf, kw
):
    """The one-task MinHash-LSH kernel (doc hashes, signatures,
    banding, hot-bucket cap, pair distinct and length-prefiltered
    exact-Jaccard verify in one numpy task) must be row-identical —
    including the jaccard DOUBLES — to the distributed plan it gates
    in for, at every threshold shape the six query sites use and at
    two scales."""
    from duckdb_distributed_execution_spark import functions as FX
    from duckdb_distributed_execution_spark.operators import dedup as D

    d = spark.read.parquet(f"{sf}/documents.parquet")
    fused = D._minhash_lsh_pairs_fused(
        d, "doc_id", "text", num_hashes=8, band_size=2, **kw
    )
    monkeypatch.setattr(FX, "SMALL_INPUT_BYTES", -1)
    dist = D.minhash_lsh_pairs(
        d, "doc_id", "text", num_hashes=8, band_size=2, **kw
    )
    got = sorted(map(tuple, fused.collect()))
    exp = sorted(map(tuple, dist.collect()))
    assert got == exp and len(got) > 0


def test_minhash_lsh_pairs_fused_token_variant(spark, monkeypatch):
    """The token-space twin (shingle_fn) through the fused kernel:
    pairs identical to the distributed token plan."""
    from duckdb_distributed_execution_spark import functions as FX
    from duckdb_distributed_execution_spark.operators import dedup as D
    from duckdb_distributed_execution_spark.queries.pipeline60 import (
        BPE_MERGES,
        _N,
        _SEP,
        _THRESH,
        token_shingles_py,
    )

    d = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    fn = token_shingles_py(BPE_MERGES, _N, _SEP)
    fused = D._minhash_lsh_pairs_fused(
        d, "doc_id", "text", num_hashes=8, band_size=2,
        verify_threshold=_THRESH, shingle_fn=fn,
    )
    monkeypatch.setattr(FX, "SMALL_INPUT_BYTES", -1)
    dist = D.minhash_lsh_pairs(
        d, "doc_id", "text", num_hashes=8, band_size=2,
        verify_threshold=_THRESH, shingle_fn=fn,
    )
    got = sorted(map(tuple, fused.collect()))
    exp = sorted(map(tuple, dist.collect()))
    assert got == exp and len(got) > 0


_TC_TERMS = ["spark", "window", "hash", "merge", "customer", "vector",
             "a", "and", "multiple"]


def _tc_pairs(spark, d):
    """(old exploded+filtered tf, old per-doc token count) twins."""
    old_tf = (
        X.tokens_exploded_arrow(d, "doc_id", "text")
        .filter(F.col("term").isin(_TC_TERMS))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    old_dl = (
        X.tokens_exploded_arrow(d, "doc_id", "text")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("long").alias("dl"))
    )
    return old_tf, old_dl


@pytest.mark.parametrize("source", ["adversarial", "corpus"])
def test_term_counts_arrow_matches_exploded(spark, docs, source):
    """r10: term_counts_arrow (term filter + per-doc count pushed
    inside the kernel) must be row-identical to the exploded
    semi-join + groupBy shape it replaces in rag_hybrid_rrf /
    bm25_retrieval_topk, on adversarial inputs AND the sf0.01 corpus —
    tf rows, and in the doclen variant also the per-doc token counts
    (including the single empty token of empty/whitespace texts)."""
    d = (
        docs
        if source == "adversarial"
        else spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    )
    old_tf, old_dl = _tc_pairs(spark, d)

    new_tf = X.term_counts_arrow(d, "doc_id", "text", _TC_TERMS)
    assert new_tf.exceptAll(old_tf).count() == 0
    assert old_tf.exceptAll(new_tf).count() == 0

    both = X.term_counts_arrow(d, "doc_id", "text", _TC_TERMS,
                               doclen_col="dl")
    dl = both.filter(F.col("term").isNull()).select("doc_id", "dl")
    assert dl.exceptAll(old_dl).count() == 0
    assert old_dl.exceptAll(dl).count() == 0
    tf2 = both.filter(F.col("term").isNotNull()).select(
        "doc_id", "term", "tf"
    )
    assert tf2.exceptAll(old_tf).count() == 0
    assert old_tf.exceptAll(tf2).count() == 0
