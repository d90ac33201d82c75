"""Sixtieth wave — TOKENIZER-AWARE near-dup detection: MinHash-LSH
over BPE TOKEN n-grams. Word-shingle MinHash (dedup_minhash_lsh)
measures overlap in whitespace space; a training pipeline that
dedups what the MODEL sees measures it in token space — two documents
whose word boundaries differ (concatenated answers, code, CJK-ish
unsegmented text) can be near-identical token streams yet share few
word shingles. Composes wave 57's composition pattern one level up:
the codegen'd BPE replace-chain encoder (operators/bpe.py) feeds the
ENTIRE MinHash-LSH pipeline (operators/dedup.py — signatures,
banding, hot-bucket cap, Jaccard verify) unchanged, via the new
``shingles`` override.

Scale shape (100 TB): identical to the word-level LSH — one
encode+shingle+md5 fan-out pass over the corpus (fully codegen'd, no
Python), k min-hashes as a map-side-combined grouped aggregate, the
banding shuffle moves narrow (doc, bucket) rows only, and the bucket
cap bounds candidate volume linearly in bucket count. Reference has
no dedup surface (north-star greenfield, BASELINE.json).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from duckdb_distributed_execution_spark.operators import dedup as D
from duckdb_distributed_execution_spark.operators.bpe import (
    bpe_apply_expr,
    bpe_apply_py,
    oracle_bpe_apply,
)
from duckdb_distributed_execution_spark.queries import load, register
from duckdb_distributed_execution_spark.queries.pipeline42 import BPE_MERGES

_N = 3         # token-gram width (wave-57 convention)
_SEP = "\x1f"  # gram joiner (unit separator — can't appear in tokens)
# Token shingles are denser and more repetitive than word shingles, so
# the background Jaccard sits far higher than word space's: measured
# at sf0.01 the distribution is cleanly bimodal — true near-dups at
# ≥ 0.91, unrelated-doc noise ≤ 0.32 — so 0.5 separates them with a
# wide margin (word-space's 0.12 would pass ~14k noise pairs).
_THRESH = 0.5

_ENC = oracle_bpe_apply("text", BPE_MERGES)
_TOKS = f"list_filter(string_split({_ENC}, '|'), t -> t <> '' AND t <> ' ')"
_TOKEN_SHINGLES = D.oracle_array_shingles(_TOKS, _N, _SEP)


@register(
    "dedup_minhash_token_lsh",
    # Full-pipeline mirror (signatures, banding, cap, verify) over the
    # SAME token shingles; shingle-less docs (<N non-space tokens) are
    # excluded on both sides — the engine's explode drops them
    # structurally, the oracle filters the base relation (an all-NULL
    # signature would otherwise band into one spurious shared bucket).
    oracle=D.oracle_minhash_lsh_sql(
        _TOKEN_SHINGLES,
        num_hashes=8,
        band_size=2,
        verify_threshold=_THRESH,
        base_where=f"len({_TOKEN_SHINGLES}) > 0",
    ),
)
def dedup_minhash_token_lsh(spark, sf_dir):
    """Near-dup pairs in BPE TOKEN space: each doc is encoded whole
    with the pretrained merge table (spaces survive as unmergeable
    1-char tokens, so merges respect word boundaries like a real
    tokenizer), space tokens are dropped, and the token-sequence
    3-grams feed the standard MinHash-LSH pipeline: 8 min-hashes →
    4 bands → capped bucket join → exact-Jaccard verify ≥ 0.5.
    The token-space twin of dedup_minhash_lsh — what a dedup stage
    that protects the MODEL's view of the data runs.

    r9: the signature relation routes through the fused Arrow kernel
    via ``shingle_fn`` — a per-doc Python mirror of the JVM
    encode+shingle expression (bpe_apply_py: same char-split regex,
    same literal replace-all chain, same pass count; then the same
    split/filter/3-gram-distinct), so token signatures get the
    zero-exchange kernel plan word signatures got (sig stage 0.98 →
    0.79 s at sf0.1, rows bit-identical —
    test_token_shingle_fn_matches_jvm). Token 3-grams over a 17-merge
    vocabulary are non-discriminative under 4 bands (412k candidates
    from 5k docs at sf0.1), so the verify joins dominated the
    distributed plan; below the corpus-size gate the whole pipeline,
    signatures included, runs as one numpy task (the operator's
    fused kernel — length-prefilter + searchsorted verify; the
    post-signature part alone took 6.0 → 1.7 s at sf0.1 same-session,
    bit-identical pairs)."""
    d = load(spark, sf_dir, "documents")["documents"]
    pairs = D.minhash_lsh_pairs(
        d,
        "doc_id",
        "text",
        num_hashes=8,
        band_size=2,
        verify_threshold=_THRESH,
        shingle_fn=token_shingles_py(BPE_MERGES, _N, _SEP),
    )
    return pairs.select("id_a", "id_b", F.round("jaccard", 4).alias("jaccard"))


def token_shingles_py(merges, n: int, sep: str):
    """Per-doc Python twin of the query's JVM shingle expression:
    bpe_apply_expr → split('|') → drop ''/' ' tokens →
    array_shingles(n, sep) — distinct n-grams in first-occurrence
    order (order is irrelevant downstream; only the SET feeds md5)."""
    enc = bpe_apply_py(merges)

    def fn(text: str):
        toks = [t for t in enc(text).split("|") if t not in ("", " ")]
        return list(
            dict.fromkeys(
                sep.join(toks[i : i + n])
                for i in range(len(toks) - n + 1)
            )
        )

    return fn
