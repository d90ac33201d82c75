"""LLM training-data pipeline queries — dedup, text analysis,
multimodal — exercised over the ``documents`` table with DuckDB
oracles wherever the op is SQL-expressible (everything here except
the mapInPandas feature extraction, which gets a rows-only check).
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from duckdb_distributed_execution_spark.functions import (
    dot_product,
    exact_avg,
    l2_norm,
    oracle_exact_avg,
)
from duckdb_distributed_execution_spark.operators import dedup as D
from duckdb_distributed_execution_spark.operators import graph as G
from duckdb_distributed_execution_spark.operators.graph import oracle_pagerank_sql
from duckdb_distributed_execution_spark.operators import multimodal as M
from duckdb_distributed_execution_spark.operators import text as X
from duckdb_distributed_execution_spark.queries import load, register


@register(
    "dedup_exact",
    headline=True,
    oracle=f"""
    SELECT {X.oracle_fingerprint('text')} AS dedup_key,
           MIN(doc_id) AS keep_id,
           COUNT(*) AS n_dups
    FROM documents
    GROUP BY 1
    """,
)
def dedup_exact(spark, sf_dir):
    """Exact dedup groups on the normalized-text fingerprint
    (dedup.fingerprint_groups, the operator Engine.dedup(method='exact')
    runs) — one hash shuffle, map-side combined. Below the scale gate
    the JVM column form; above it one Arrow normalize+md5 pass. At
    sf0.1 the JVM form costs 0.34 s of CPU vs 0.56 s, at local sf1
    1.91 vs 1.61 s (4 vCPU)."""
    d = load(spark, sf_dir, "documents")["documents"]
    return D.fingerprint_groups(d, "doc_id", "text")


@register(
    "dedup_exact_prefix",
    oracle=f"""
    SELECT substr({X.oracle_normalize('text')}, 1, 30) AS prefix_key,
           MIN(doc_id) AS keep_id,
           COUNT(*) AS n_docs
    FROM documents
    GROUP BY 1
    HAVING COUNT(*) > 1
    """,
)
def dedup_exact_prefix(spark, sf_dir):
    """Prefix-key dedup (catches boilerplate-leading near-dups that
    full-text hashing misses)."""
    d = load(spark, sf_dir, "documents")["documents"]
    key = F.substring(X.normalize_text("text"), 1, 30)
    return (
        d.groupBy(key.alias("prefix_key"))
        .agg(F.min("doc_id").alias("keep_id"), F.count(F.lit(1)).alias("n_docs"))
        .filter(F.col("n_docs") > 1)
    )


_JACC = (
    "(CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) / "
    "(CAST(len(a.s) + len(b.s) AS DOUBLE) "
    "- CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)))"
)
_NTOK_NORM = (
    r"len(regexp_split_to_array("
    + X.oracle_normalize("text")
    + r", '\s+'))"
)


@register(
    "dedup_ngram_jaccard",
    oracle=f"""
    WITH sh AS (
      SELECT doc_id, lang, {D.oracle_word_shingles('text', 2)} AS s,
             {_NTOK_NORM} // 16 AS lb
      FROM documents)
    SELECT a.doc_id AS id_a, b.doc_id AS id_b, {_JACC} AS jaccard
    FROM sh a JOIN sh b
      ON a.lang = b.lang AND a.lb = b.lb AND a.doc_id < b.doc_id
    WHERE {_JACC} >= 0.12
    """,
)
def dedup_ngram_jaccard(spark, sf_dir):
    """Bigram-shingle Jaccard near-dup pairs, blocked by (language,
    token-length bucket) — near-dups have near-equal lengths, so the
    length bucket cuts candidate pairs ~10× with no loss on real
    duplicates. |a∪b| computed as |a|+|b|−|∩| (one set op per pair)."""
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
            .cast("long").cast("string"),
        ),
    )
    return D.ngram_jaccard_pairs(
        blocked, "doc_id", "text", n=2, threshold=0.12, block_col="__blk"
    )


@register(
    "dedup_minhash_lsh",
    headline=True,
    # The full pipeline — signatures, banding, bucket cap, candidate
    # pairs, Jaccard verify — mirrored in DuckDB SQL, so even the
    # LSH candidate generation is hash-checked cross-engine.
    oracle=D.oracle_minhash_lsh_sql(
        D.oracle_word_shingles("text", 2),
        num_hashes=8,
        band_size=2,
        verify_threshold=0.12,
    ),
)
def dedup_minhash_lsh(spark, sf_dir):
    """MinHash+LSH near-dup pairs: shingle → 8 min-hashes → 4 bands →
    bucket join → exact-Jaccard verify (operators/dedup.py). Below
    the corpus-size gate the operator runs the whole pipeline as one
    numpy task (bit-identical, pinned by test + selfcheck); above it
    the designed distributed shape."""
    d = load(spark, sf_dir, "documents")["documents"]
    pairs = D.minhash_lsh_pairs(
        d, "doc_id", "text", shingle_n=2, num_hashes=8, band_size=2,
        verify_threshold=0.12,
    )
    return pairs.select("id_a", "id_b", F.round("jaccard", 4).alias("jaccard"))


_SH = D.oracle_word_shingles("text", 2)


@register(
    "dedup_minhash_sigs",
    oracle=f"""
    SELECT doc_id,
           {D.oracle_minhash_sig(_SH, 0)} AS mh_0,
           {D.oracle_minhash_sig(_SH, 1)} AS mh_1,
           {D.oracle_minhash_sig(_SH, 2)} AS mh_2,
           {D.oracle_minhash_sig(_SH, 3)} AS mh_3
    FROM documents
    """,
)
def dedup_minhash_sigs(spark, sf_dir):
    """MinHash signature computation itself, oracle-checked exactly
    (md5-derived 60-bit hashes are engine-independent; the bulk
    explode→groupBy-min plan is order-independent)."""
    d = load(spark, sf_dir, "documents")["documents"]
    return D.minhash_signatures_df(d, "doc_id", "text", 2, 4).withColumnRenamed(
        "doc", "doc_id"
    )


@register(
    "dedup_simhash",
    oracle=f"""
    SELECT doc_id, {D.oracle_simhash('text', 16)} AS simhash
    FROM documents
    """,
)
def dedup_simhash(spark, sf_dir):
    """16-bit SimHash signatures (oracle-checked bit-exactly; the
    pair search runs at 32 bits in operators/dedup.py)."""
    d = load(spark, sf_dir, "documents")["documents"]
    return D.simhash_df(d, "doc_id", "text", bits=16).withColumnRenamed(
        "doc", "doc_id"
    )


@register(
    "dedup_simhash_pairs",
    oracle=f"""
    WITH sig AS (
      SELECT doc_id, {D.oracle_simhash('text', 32)} AS sh
      FROM documents)
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(bit_count(xor(a.sh, b.sh)) AS BIGINT) AS hamming
    FROM sig a
    JOIN sig b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.sh, b.sh)) <= 3
    """,
)
def dedup_simhash_pairs(spark, sf_dir):
    """SimHash near-dup pairs within Hamming radius 3, corpus-wide —
    candidates from exact pigeonhole bit-chunk banding (see
    operators/dedup.simhash_pairs), so no blocking column is needed
    and the plan never contains a block-local all-pairs join. The
    oracle is the definitionally-equivalent all-pairs form (fine on
    DuckDB at oracle scale; the banding itself is lossless)."""
    d = load(spark, sf_dir, "documents")["documents"]
    return D.simhash_pairs(d, "doc_id", "text", max_hamming=3)


@register(
    "dedup_simhash_pairs_wide",
    oracle=f"""
    WITH sig AS (
      SELECT doc_id, {D.oracle_simhash('text', 60)} AS sh
      FROM documents)
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(bit_count(xor(a.sh, b.sh)) AS BIGINT) AS hamming
    FROM sig a
    JOIN sig b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.sh, b.sh)) <= 3
    """,
)
def dedup_simhash_pairs_wide(spark, sf_dir):
    """The corpus-scale SimHash configuration, oracle-checked: 60-bit
    signatures (the full width the md5 token hash carries) with the
    same lossless pigeonhole banding — 15-bit chunks give 32k bucket
    values per chunk, so expected bucket occupancy stays ~n/32k and
    the candidate join survives corpora where the 32-bit default
    saturates (see operators/dedup.simhash_pairs docstring for the
    occupancy math). The oracle is the definitionally-equivalent
    all-pairs form, fine at oracle scale."""
    d = load(spark, sf_dir, "documents")["documents"]
    return D.simhash_pairs(d, "doc_id", "text", max_hamming=3, bits=60)


@register(
    "dedup_embedding_cosine",
    oracle="""
    WITH v AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS e FROM embeddings)
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           ROUND(list_dot_product(a.e, b.e)
                 / (sqrt(list_dot_product(a.e, a.e))
                    * sqrt(list_dot_product(b.e, b.e))), 4) AS sim
    FROM v a JOIN v b ON a.label = b.label AND a.vec_id < b.vec_id
    WHERE list_dot_product(a.e, b.e)
          / (sqrt(list_dot_product(a.e, a.e))
             * sqrt(list_dot_product(b.e, b.e))) >= 0.3
    """,
)
def dedup_embedding_cosine(spark, sf_dir):
    """Embedding-cosine near-dup pairs, label-blocked. The *contract*
    here is exact: every same-label pair with cosine ≥ 0.3 — and at a
    threshold this low on isotropic embeddings the OUTPUT itself is
    Θ(n²) (~2% of all pairs), so no candidate filter can be
    sub-quadratic and this exact blocked form IS the right tool (the
    round-4 infeasibility algebra lives in the pipeline13 module
    header). The corpus-scale headline form for real near-dup
    thresholds (≥ ~0.7) is dedup_embedding_cosine_banded
    (queries/pipeline13.py): LSH candidates + exact verify, recall
    measured by embedding_banded_recall and pruning power by
    embedding_banded_selectivity; see also ann_lsh_candidates and
    semantic_dedup_seeded (IVF-cluster blocking)."""
    e = load(spark, sf_dir, "embeddings")["embeddings"]
    withn = e.select(
        "vec_id", "label", "embedding", l2_norm(F.col("embedding")).alias("n")
    )
    a = withn.select(
        F.col("vec_id").alias("id_a"), F.col("embedding").alias("ea"),
        F.col("n").alias("na"), "label",
    )
    b = withn.select(
        F.col("vec_id").alias("id_b"), F.col("embedding").alias("eb"),
        F.col("n").alias("nb"), "label",
    )
    pairs = a.join(b, on="label").filter(F.col("id_a") < F.col("id_b"))
    sims = pairs.select(
        "id_a",
        "id_b",
        (dot_product(F.col("ea"), F.col("eb")) / (F.col("na") * F.col("nb"))).alias("sim"),
    )
    return sims.filter(F.col("sim") >= 0.3).select(
        "id_a", "id_b", F.round("sim", 4).alias("sim")
    )


@register(
    "pipeline_dedup_quality_filter",
    oracle=f"""
    WITH q AS (
      SELECT doc_id, lang, {X.oracle_quality_score('text')} AS quality,
             {X.oracle_fingerprint('text')} AS fp
      FROM documents),
    keep AS (
      SELECT fp, MIN(doc_id) AS keep_id FROM q GROUP BY fp),
    v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings)
    SELECT q.doc_id, q.lang,
           ROUND(q.quality, 6) AS quality,
           ROUND(sqrt(list_dot_product(v.e, v.e)), 4) AS emb_norm
    FROM q
    JOIN keep ON q.doc_id = keep.keep_id
    JOIN v ON v.vec_id = q.doc_id
    WHERE q.quality >= 0.72
    """,
)
def pipeline_dedup_quality_filter(spark, sf_dir):
    """The composite training-data pipeline in one plan: fingerprint
    dedup (keep min doc per fingerprint) → quality filter → join each
    surviving document to its embedding (cross-modal doc_id = vec_id)
    with the vector norm as a sanity feature. Every stage is the same
    operator used standalone elsewhere; this query proves they
    compose — one shuffle for the dedup group, broadcast-joined
    embeddings."""
    d = load(spark, sf_dir, "documents", "embeddings")
    docs = d["documents"].select(
        "doc_id",
        "lang",
        X.quality_score("text").alias("quality"),
        X.fingerprint("text").alias("fp"),
    )
    keep = docs.groupBy("fp").agg(F.min("doc_id").alias("keep_id"))
    vecs = d["embeddings"].select(
        F.col("vec_id"), l2_norm(F.col("embedding")).alias("emb_norm")
    )
    return (
        docs.join(keep, docs["doc_id"] == keep["keep_id"], "inner")
        .filter(F.col("quality") >= 0.72)
        .join(vecs, F.col("vec_id") == F.col("doc_id"))
        .select(
            "doc_id",
            "lang",
            F.round("quality", 6).alias("quality"),
            F.round("emb_norm", 4).alias("emb_norm"),
        )
    )


# ---------------------------------------------------------------------------
# Text analysis
# ---------------------------------------------------------------------------


_NTOK = r"CAST(len(regexp_split_to_array(TRIM(text), '\s+')) AS BIGINT)"
_NTOK_D = r"CAST(len(regexp_split_to_array(TRIM(text), '\s+')) AS DOUBLE)"


@register(
    "text_token_stats",
    oracle=f"""
    SELECT lang,
           COUNT(*) AS n_docs,
           CAST(SUM({_NTOK}) AS BIGINT) AS total_tokens,
           {oracle_exact_avg(_NTOK_D)} AS avg_tokens
    FROM documents
    GROUP BY lang
    """,
)
def text_token_stats(spark, sf_dir):
    """Token counting (whitespace tokenizer) aggregated per language."""
    d = load(spark, sf_dir, "documents")["documents"]
    n = X.token_count("text")
    return d.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(n).alias("total_tokens"),
        exact_avg(n.cast("double")).alias("avg_tokens"),
    )


@register(
    "text_quality",
    headline=True,
    oracle=f"""
    SELECT doc_id,
           ROUND({X.oracle_quality_score('text')}, 6) AS quality,
           {X.oracle_stopword_count('text')} AS n_stopwords
    FROM documents
    """,
)
def text_quality(spark, sf_dir):
    """Per-document quality scoring (length/diversity/stopword mix).

    One Arrow pass (doc_features_arrow with emit_stopwords: RE2
    normalize + numpy quality, the oracle's IEEE operation order) at
    every scale. The JVM column form re-derives normalize_text ~4×
    and tokenize ~3× per row (no CSE across the interpreted HOF
    projection); measured at sf0.1 on 4 cores it cost 1.90 s of CPU
    and 0.83 s of wall against 1.18 s and 0.62 s for this pass, and
    on a 32-core host at sf1 4.48 s of wall against ~0.9 s. With the
    distinct-token and stopword counts on token codes the pass went
    1.22 → 0.77 s of CPU at sf0.1 (perfbench, 4 cores, medians of 10
    interleaved runs)."""
    d = load(spark, sf_dir, "documents")["documents"]
    feats = X.doc_features_arrow(d, "doc_id", "text", emit_stopwords=True)
    return feats.select(
        "doc_id", F.round("quality", 6).alias("quality"), "n_stopwords"
    )


@register(
    "text_lang_id",
    oracle=f"""
    SELECT {X.oracle_lang_id('text')} AS predicted,
           COUNT(*) AS n_docs
    FROM documents
    GROUP BY 1
    """,
)
def text_lang_id(spark, sf_dir):
    """Heuristic language ID (stopword ratio + token-length shape)."""
    d = load(spark, sf_dir, "documents")["documents"]
    return d.groupBy(X.lang_id("text").alias("predicted")).agg(
        F.count(F.lit(1)).alias("n_docs")
    )


@register(
    "text_fingerprint",
    oracle=f"""
    SELECT doc_id, {X.oracle_fingerprint('text')} AS fp
    FROM documents
    """,
)
def text_fingerprint(spark, sf_dir):
    # (r6 probe: an ensure_min_parallelism guard here bought nothing —
    # this query is row-output-bound at toy scale, not compute-bound,
    # so the narrow shuffle was pure cost and was reverted.)
    d = load(spark, sf_dir, "documents")["documents"]
    return d.select("doc_id", X.fingerprint("text").alias("fp"))


# ---------------------------------------------------------------------------
# Multimodal plumbing
# ---------------------------------------------------------------------------


@register(
    "multimodal_metadata",
    oracle="""
    SELECT doc_id AS media_id,
           OCTET_LENGTH(CAST(text AS BLOB)) AS n_bytes,
           UPPER(substr(hex(CAST(text AS BLOB)), 1, 8)) AS head_hex,
           md5(text) AS content_md5
    FROM documents
    """,
)
def multimodal_metadata(spark, sf_dir):
    """Binary-column metadata extraction (pure column funcs; payload =
    UTF-8 bytes standing in for media bytes)."""
    d = load(spark, sf_dir, "documents")["documents"]
    media = M.attach_binary_payload(d, "text", "doc_id")
    return M.extract_metadata(media).select(
        "media_id", "n_bytes", "head_hex", "content_md5"
    )


def _md5_byte_sql(j: int) -> str:
    """DuckDB expr for byte j (0-based) of md5(text)'s digest: decode
    the two hex chars at positions 2j+1, 2j+2 into 16*hi + lo."""

    def hexdig(p: int) -> str:
        a = f"ascii(substr(md5(text), {p}, 1))"
        return f"({a} - CASE WHEN {a} >= 97 THEN 87 ELSE 48 END)"

    return f"({hexdig(2 * j + 1)} * 16 + {hexdig(2 * j + 2)})"


@register(
    "multimodal_features",
    oracle=f"""
    SELECT doc_id AS media_id,
           CAST(({_md5_byte_sql(0)} * 31 + 0) % 256 AS DOUBLE) AS f0,
           CAST(({_md5_byte_sql(7)} * 31 + 49) % 256 AS DOUBLE) AS f7
    FROM documents
    """,
)
def multimodal_features(spark, sf_dir):
    """mapInPandas feature extraction over binary payloads, with the
    deterministic decode STUB (operators/multimodal.py — a real
    decoder swaps into _decode_one; the Arrow plumbing is what's real
    here). The stub emits integer-valued floats derived from the md5
    digest bytes, which are float32-exact — so the DuckDB oracle
    (hex-digit arithmetic over md5(text)) verifies the Python
    Arrow-batch path END TO END: batching, schema, row alignment.
    Previously the inventory's only rows-only entry."""
    d = load(spark, sf_dir, "documents")["documents"]
    media = M.attach_binary_payload(d, "text", "doc_id")
    feats = M.extract_features(media, dim=8, decode_stub=True)
    return feats.select(
        "media_id",
        F.round(F.element_at("feature", 1).cast("double"), 6).alias("f0"),
        F.round(F.element_at("feature", 8).cast("double"), 6).alias("f7"),
    )


# ---------------------------------------------------------------------------
# Deterministic sampling & splits (operators/sampling.py)
# ---------------------------------------------------------------------------

from duckdb_distributed_execution_spark.operators import sampling as SP  # noqa: E402

_SPLITS = {"train": 0.8, "val": 0.1, "test": 0.1}


@register(
    "sample_hash_bernoulli",
    oracle=f"""
    SELECT doc_id, lang
    FROM documents
    WHERE {SP.oracle_sample_bucket('doc_id', 's1')} < 100000
    """,
)
def sample_hash_bernoulli(spark, sf_dir):
    """Deterministic 10% Bernoulli sample keyed on md5(doc_id): the
    same rows are kept on any engine, partitioning, or rerun — a pure
    filter with no shuffle (operators/sampling.py)."""
    d = load(spark, sf_dir, "documents")["documents"]
    return SP.hash_sample(d, F.col("doc_id"), 0.10, "s1").select("doc_id", "lang")


@register(
    "split_train_val_test",
    oracle=f"""
    SELECT {SP.oracle_assign_split('doc_id', _SPLITS)} AS split,
           COUNT(*) AS n,
           MIN(doc_id) AS min_id
    FROM documents
    GROUP BY 1
    """,
)
def split_train_val_test(spark, sf_dir):
    """Stable 80/10/10 train/val/test assignment by hash-bucket range
    — mutually exclusive and exhaustive, reproducible from the data
    alone (no stored split table, no RNG state)."""
    d = load(spark, sf_dir, "documents")["documents"]
    return (
        d.withColumn("split", SP.assign_split(F.col("doc_id"), _SPLITS))
        .groupBy("split")
        .agg(F.count(F.lit(1)).alias("n"), F.min("doc_id").alias("min_id"))
    )


_STRAT_RATES = {"en": 0.25, "zh": 0.5}


@register(
    "stratified_downsample",
    oracle=f"""
    SELECT lang, COUNT(*) AS n
    FROM documents
    WHERE {SP.oracle_sample_bucket('doc_id', 'strat')} <
          CASE WHEN lang = 'en' THEN 250000
               WHEN lang = 'zh' THEN 500000
               ELSE 1000000 END
    GROUP BY lang
    """,
)
def stratified_downsample(spark, sf_dir):
    """Per-language deterministic downsampling (cap over-represented
    strata): en kept at 25%, zh at 50%, everything else untouched.
    Still a pure per-row filter — no shuffle, skew-immune."""
    d = load(spark, sf_dir, "documents")["documents"]
    kept = SP.stratified_downsample(
        d, F.col("lang"), F.col("doc_id"), _STRAT_RATES
    )
    return kept.groupBy("lang").agg(F.count(F.lit(1)).alias("n"))


# ---------------------------------------------------------------------------
# Duplicate-cluster connected components (transitive closure of near-dup
# pairs).  The pair detectors above emit edges; "keep one doc per
# duplicate cluster" needs components.  Spark side: iterative hash-min
# label propagation (operators/graph.py); oracle: DuckDB recursive CTE
# computing min-reachable-id — the single-node gold standard the
# distributed loop must match exactly.
# ---------------------------------------------------------------------------

# sig/edges/und are AS MATERIALIZED: und is referenced on every
# recursion step of `reach` (and again by downstream consumers), and
# DuckDB's default inlining re-evaluates the simhash pair self-join
# at each reference — measured 13.7 s → sub-second at sf0.01 once
# materialized (same pitfall as the k-core oracle, operators/graph.py).
_SIMHASH_UND_ORACLE = """
    sig AS MATERIALIZED (
      SELECT doc_id, lang, {simhash} AS sh
      FROM documents),
    edges AS MATERIALIZED (
      SELECT a.doc_id AS ea, b.doc_id AS eb
      FROM sig a JOIN sig b ON a.lang = b.lang AND a.doc_id < b.doc_id
      WHERE bit_count(xor(a.sh, b.sh)) <= 3),
    und AS MATERIALIZED (SELECT ea AS u, eb AS v FROM edges
            UNION SELECT eb, ea FROM edges)
"""

_CC_EDGES_ORACLE = _SIMHASH_UND_ORACLE + """,
    reach(node, comp) AS (
      SELECT u, u FROM und
      UNION
      SELECT und.v, reach.comp FROM reach JOIN und ON und.u = reach.node),
    cc AS MATERIALIZED (
      SELECT node, MIN(comp) AS comp FROM reach GROUP BY node)
"""


def _cc_edges(spark, sf_dir):
    d = load(spark, sf_dir, "documents")["documents"]
    return D.simhash_pairs(d, "doc_id", "text", max_hamming=3, block_col="lang")


@register(
    "dedup_connected_components",
    oracle="WITH RECURSIVE "
    + _CC_EDGES_ORACLE.format(simhash=D.oracle_simhash("text", 32))
    + """
    SELECT node AS doc_id, comp AS component FROM cc
    """,
)
def dedup_connected_components(spark, sf_dir):
    """Per-document duplicate-cluster id (min doc_id reachable through
    the SimHash near-dup pair graph)."""
    cc = G.connected_components(_cc_edges(spark, sf_dir))
    return cc.select(F.col("node").alias("doc_id"), F.col("comp").alias("component"))


@register(
    "dedup_cluster_keep_one",
    oracle="WITH RECURSIVE "
    + _CC_EDGES_ORACLE.format(simhash=D.oracle_simhash("text", 32))
    + """
    SELECT comp AS keep_id, COUNT(*) AS n_members
    FROM cc GROUP BY comp
    """,
)
def dedup_cluster_keep_one(spark, sf_dir):
    """Cluster summary: canonical survivor (min member id) + cluster
    size — the row set a pipeline anti-joins against to drop dups."""
    return G.dedup_clusters(_cc_edges(spark, sf_dir))


@register(
    "dedup_cluster_keep_best",
    oracle="WITH RECURSIVE "
    + _CC_EDGES_ORACLE.format(simhash=D.oracle_simhash("text", 32))
    + f""",
    q AS (SELECT doc_id, {X.oracle_hashed_logit('text')} AS logit
          FROM documents),
    sel AS (
      SELECT cc.comp AS component, q.doc_id, q.logit,
             row_number() OVER (PARTITION BY cc.comp
                                ORDER BY q.logit DESC, q.doc_id) AS rn,
             COUNT(*) OVER (PARTITION BY cc.comp) AS n_members
      FROM cc JOIN q ON q.doc_id = cc.node)
    SELECT component, doc_id AS keep_id, logit AS best_logit, n_members
    FROM sel WHERE rn = 1
    """,
)
def dedup_cluster_keep_best(spark, sf_dir):
    """Quality-aware cluster resolution: per near-dup cluster keep the
    HIGHEST-QUALITY member (hashed-classifier logit, doc_id
    tie-break), not the lowest id — what production dedup actually
    does (drop the worse copies, keep the best). The logit is an
    exact integer, so the argmax is engine-stable; the join and
    window shuffle on the component id, whose cardinality is the
    cluster count — no global funnel."""
    d = load(spark, sf_dir, "documents")["documents"]
    cc = G.connected_components(_cc_edges(spark, sf_dir))
    q = d.select("doc_id", X.hashed_logit("text").alias("logit"))
    joined = cc.join(q, cc["node"] == q["doc_id"]).select(
        F.col("comp").alias("component"), "doc_id", "logit"
    )
    w = Window.partitionBy("component").orderBy(
        F.desc("logit"), F.col("doc_id")
    )
    return (
        joined.withColumn("rn", F.row_number().over(w))
        .withColumn(
            "n_members", F.count(F.lit(1)).over(Window.partitionBy("component"))
        )
        .filter(F.col("rn") == 1)
        .select(
            "component",
            F.col("doc_id").alias("keep_id"),
            F.col("logit").alias("best_logit"),
            "n_members",
        )
    )


@register(
    "graph_pagerank",
    oracle=oracle_pagerank_sql(
        _SIMHASH_UND_ORACLE.format(simhash=D.oracle_simhash("text", 32)),
        iterations=5,
    ),
)
def graph_pagerank(spark, sf_dir):
    """PageRank over the SimHash near-dup graph (5 iterations) — the
    'canonical representative by centrality' alternative to min-id
    cluster resolution.  Fixed-point quantization between iterations
    makes the distributed loop bit-identical to the oracle's unrolled
    single-node evaluation."""
    return G.pagerank(_cc_edges(spark, sf_dir), iterations=5)


@register(
    "multimodal_frame_sample",
    oracle="""
    WITH m AS (
      SELECT doc_id AS media_id, CAST(text AS BLOB) AS payload,
             OCTET_LENGTH(CAST(text AS BLOB)) AS n_bytes
      FROM documents),
    f AS (
      SELECT media_id, n_bytes, CAST(r.range AS INTEGER) AS frame_idx,
             CAST(r.range * (n_bytes // 4) AS BIGINT) AS frame_off
      FROM m CROSS JOIN range(3) r)
    SELECT f.media_id, f.frame_idx, f.frame_off,
           md5(UPPER(substring(hex(m.payload),
                               CAST(f.frame_off * 2 + 1 AS INTEGER), 32)))
             AS frame_md5
    FROM f JOIN m ON f.media_id = m.media_id
    """,
)
def multimodal_frame_sample(spark, sf_dir):
    """Frame sampling over opaque binary payloads: extract 3 evenly
    spaced fixed-size byte windows per media object and fingerprint
    each (the video-keyframe / audio-chunk access pattern; a real
    decoder replaces the md5 with a frame decode).  Pure column
    algebra — the byte slicing never leaves the JVM."""
    d = load(spark, sf_dir, "documents")["documents"]
    m = d.select(
        F.col("doc_id").alias("media_id"),
        F.col("text").cast("binary").alias("payload"),
        F.octet_length(F.col("text").cast("binary")).cast("long").alias("n_bytes"),
    )
    f = m.select(
        "media_id",
        "payload",
        F.explode(F.array(F.lit(0), F.lit(1), F.lit(2))).alias("frame_idx"),
        (F.col("n_bytes") / 4).cast("long").alias("stride"),
    ).select(
        "media_id",
        "payload",
        "frame_idx",
        (F.col("frame_idx").cast("long") * F.col("stride")).alias("frame_off"),
    )
    # 16-byte windows sliced on the hex encoding (this DuckDB build
    # has no BLOB substring, so both engines slice the hex string —
    # same bytes, same fingerprint).
    return f.select(
        "media_id",
        "frame_idx",
        "frame_off",
        F.md5(
            F.upper(
                F.expr("substring(hex(payload), cast(frame_off * 2 + 1 as int), 32)")
            )
        ).alias("frame_md5"),
    )
