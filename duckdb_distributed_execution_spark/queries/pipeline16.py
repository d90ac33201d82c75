"""Sixteenth-wave operators — LLM pretraining data-prep analytics:
sequence packing (concat-and-chunk window accounting), Gopher-style
quality rules, DoReMi-lite domain mixing weights, tokenizer fertility,
and n-gram repetition screening. North-star greenfield (the reference
has no text surface — BASELINE.json); these are the jobs a training
corpus actually runs between dedup and tokenization.

Cross-engine conventions: whitespace tokenization matches the repo's
`tokens()`/`string_split(text, ' ')` pair (the corpus is
single-spaced); every cross-row reduction is an exact integer
(token/char/ngram counts); doubles appear only as one final
division/round per group with the identical expression tree on both
engines.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from duckdb_distributed_execution_spark.operators.text import (
    STOPWORDS,
    token_count,
    tokens,
)
from duckdb_distributed_execution_spark.queries import load, register, small_table

_CAP = 128  # context-window size in tokens for the packing queries


# ---------------------------------------------------------------------------
# Sequence packing: concat-and-chunk window accounting
# ---------------------------------------------------------------------------


@register(
    "packing_token_windows",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, source, len(string_split(text, ' ')) AS tk
      FROM documents),
    c AS (
      SELECT source, tk,
             COALESCE(SUM(tk) OVER (PARTITION BY source ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb
      FROM t)
    SELECT source,
           COUNT(*) AS n_docs,
           CAST(SUM(tk) AS BIGINT) AS total_tokens,
           CAST((SUM(tk) + {_CAP - 1}) // {_CAP} AS BIGINT) AS n_windows,
           CAST(SUM(CASE WHEN (cb + tk - 1) // {_CAP} > cb // {_CAP}
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_crossing_docs
    FROM c GROUP BY source
    """,
)
def packing_token_windows(spark, sf_dir):
    """Pretraining sequence packing, accounted: concatenate each
    source's documents in doc_id order into a token stream and chunk
    it into fixed {cap}-token context windows (the standard
    concat-and-chunk packing LLM pretraining uses — no padding waste,
    documents may straddle window boundaries). Reports, per source:
    docs, total tokens, windows produced, and how many documents cross
    a window boundary (the attention-masking cost of packing). The
    running offset is a per-source cumulative sum — partitioned by
    source, so at 100 TB each shard packs independently (exactly how
    packing jobs shard in practice); a single global stream would be
    the low-cardinality window hazard, and the two-pass sampled-range
    scheme (operators/rowid.py::keyed_row_number) is the documented
    escape hatch if one global stream is truly required. All window
    ids come from integer floor-division on exact token prefix sums —
    no float drift."""
    d = load(spark, sf_dir, "documents")["documents"]
    t = d.select("doc_id", "source", token_count("text").alias("tk"))
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    c = t.select(
        "source",
        "tk",
        F.coalesce(F.sum("tk").over(w), F.lit(0)).alias("cb"),
    )
    crossing = (
        F.floor((F.col("cb") + F.col("tk") - 1) / _CAP)
        > F.floor(F.col("cb") / _CAP)
    ).cast("int")
    return c.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("tk").cast("long").alias("total_tokens"),
        F.floor((F.sum("tk") + (_CAP - 1)) / _CAP)
        .cast("long")
        .alias("n_windows"),
        F.sum(crossing).cast("long").alias("n_crossing_docs"),
    )


# ---------------------------------------------------------------------------
# Gopher-style quality rules
# ---------------------------------------------------------------------------

_STOP_SQL = ", ".join(f"'{s}'" for s in STOPWORDS)


@register(
    "quality_gopher_rules",
    oracle=f"""
    WITH w AS (
      SELECT doc_id, lang, unnest(string_split(text, ' ')) AS w
      FROM documents),
    pw AS (
      SELECT doc_id, lang, w, COUNT(*) AS c FROM w GROUP BY 1, 2, 3),
    pd AS (
      SELECT doc_id, lang,
             CAST(SUM(c) AS BIGINT) AS n_words,
             CAST(MAX(c) AS BIGINT) AS top_cnt,
             CAST(SUM(CASE WHEN w IN ({_STOP_SQL}) THEN c ELSE 0 END)
                  AS BIGINT) AS stop_cnt,
             CAST(SUM(len(w) * c) AS BIGINT) AS n_chars
      FROM pw GROUP BY 1, 2)
    SELECT lang,
           COUNT(*) AS n_docs,
           CAST(SUM(CASE WHEN n_chars BETWEEN 3 * n_words AND 10 * n_words
                          AND stop_cnt * 50 >= n_words
                          AND top_cnt * 5 <= n_words
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_pass,
           CAST(SUM(CASE WHEN top_cnt * 5 > n_words THEN 1 ELSE 0 END)
                AS BIGINT) AS n_fail_repetition,
           CAST(SUM(CASE WHEN stop_cnt * 50 < n_words THEN 1 ELSE 0 END)
                AS BIGINT) AS n_fail_stopwords
    FROM pd GROUP BY lang
    """,
)
def quality_gopher_rules(spark, sf_dir):
    """Gopher-style document quality screening, per language: a doc
    passes iff its mean word length is in [3, 10] chars, stopwords are
    >= 2% of tokens, and the single most frequent word is <= 20% of
    tokens (the repetition screen). Every rule is evaluated as an
    integer cross-multiplication (n_chars BETWEEN 3*n_words AND
    10*n_words, stop_cnt*50 >= n_words, top_cnt*5 <= n_words) — no
    ratio floats anywhere, so both engines agree exactly. Plan: one
    token explode -> (doc, word) partial-agg -> per-doc agg -> per-lang
    agg; three shuffles, all key-partitioned, no windows."""
    d = load(spark, sf_dir, "documents")["documents"]
    w = d.select(
        "doc_id", "lang", F.explode(tokens(F.col("text"))).alias("w")
    )
    pw = w.groupBy("doc_id", "lang", "w").agg(F.count(F.lit(1)).alias("c"))
    pd_ = pw.groupBy("doc_id", "lang").agg(
        F.sum("c").cast("long").alias("n_words"),
        F.max("c").cast("long").alias("top_cnt"),
        F.sum(
            F.when(F.col("w").isin(*STOPWORDS), F.col("c")).otherwise(0)
        )
        .cast("long")
        .alias("stop_cnt"),
        F.sum(F.length("w") * F.col("c")).cast("long").alias("n_chars"),
    )
    ok = (
        F.col("n_chars").between(3 * F.col("n_words"), 10 * F.col("n_words"))
        & (F.col("stop_cnt") * 50 >= F.col("n_words"))
        & (F.col("top_cnt") * 5 <= F.col("n_words"))
    )
    return pd_.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(ok.cast("int")).cast("long").alias("n_pass"),
        F.sum((F.col("top_cnt") * 5 > F.col("n_words")).cast("int"))
        .cast("long")
        .alias("n_fail_repetition"),
        F.sum((F.col("stop_cnt") * 50 < F.col("n_words")).cast("int"))
        .cast("long")
        .alias("n_fail_stopwords"),
    )


# ---------------------------------------------------------------------------
# DoReMi-lite domain mixing weights
# ---------------------------------------------------------------------------


@register(
    "domain_mixing_weights",
    oracle="""
    WITH t AS (
      SELECT lang, CAST(SUM(len(string_split(text, ' '))) AS BIGINT)
               AS n_tokens
      FROM documents GROUP BY lang),
    tot AS (SELECT SUM(n_tokens) AS total,
                   COUNT(*) AS n_domains FROM t)
    SELECT lang, n_tokens,
           ROUND(CAST(n_tokens AS DOUBLE) / total, 6) AS token_share,
           ROUND((CAST(total AS DOUBLE) / n_domains) / n_tokens, 6)
             AS mix_weight
    FROM t, tot
    """,
)
def domain_mixing_weights(spark, sf_dir):
    """Domain-mixture reweighting (DoReMi-lite with a uniform target):
    per language, the corpus token share and the sampling weight that
    would equalize effective tokens across domains (target_share /
    actual_share with target = 1/n_domains). Weights > 1 mean the
    domain must be upsampled (epochs over its data). The shares divide
    exact integer token counts; each group does the same two double
    ops in the same order on both engines."""
    d = load(spark, sf_dir, "documents")["documents"]
    t = d.groupBy("lang").agg(
        F.sum(token_count("text")).cast("long").alias("n_tokens")
    )
    w = Window.partitionBy()
    return t.select(
        "lang",
        "n_tokens",
        F.round(
            F.col("n_tokens").cast("double") / F.sum("n_tokens").over(w), 6
        ).alias("token_share"),
        F.round(
            (F.sum("n_tokens").over(w).cast("double")
             / F.count(F.lit(1)).over(w))
            / F.col("n_tokens"),
            6,
        ).alias("mix_weight"),
    )


# ---------------------------------------------------------------------------
# Tokenizer fertility
# ---------------------------------------------------------------------------


@register(
    "tokenizer_fertility",
    oracle="""
    WITH t AS (
      SELECT lang,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS tk,
             CAST(len(replace(text, ' ', '')) AS BIGINT) AS ch
      FROM documents)
    SELECT lang,
           COUNT(*) AS n_docs,
           CAST(SUM(tk) AS BIGINT) AS n_tokens,
           CAST(SUM(ch) AS BIGINT) AS n_chars,
           ROUND(CAST(SUM(ch) AS DOUBLE) / SUM(tk), 6)
             AS chars_per_token
    FROM t GROUP BY lang
    """,
)
def tokenizer_fertility(spark, sf_dir):
    """Tokenizer fertility per language: characters per (whitespace)
    token — the number that predicts how a byte-budgeted corpus
    converts to a token budget per domain, and the first thing to
    compare when swapping tokenizers. Exact integer char/token sums;
    one division per group."""
    d = load(spark, sf_dir, "documents")["documents"]
    t = d.select(
        "lang",
        token_count("text").alias("tk"),
        F.length(F.regexp_replace("text", " ", "")).cast("long").alias("ch"),
    )
    return t.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("tk").cast("long").alias("n_tokens"),
        F.sum("ch").cast("long").alias("n_chars"),
        F.round(
            F.sum("ch").cast("double") / F.sum("tk"), 6
        ).alias("chars_per_token"),
    )


# ---------------------------------------------------------------------------
# Streaming contamination screen (stateless per-row Bloom probe)
# ---------------------------------------------------------------------------


def _bloom_oracle():
    from duckdb_distributed_execution_spark.queries.pipeline5 import (
        _BLOOM_ORACLE,
    )

    return _BLOOM_ORACLE


@register("streaming_contamination_screen", oracle=_bloom_oracle())
def streaming_contamination_screen(spark, sf_dir):
    """STREAMING decontamination at ingest time — the shape a corpus
    pipeline actually wants (screen every incoming shard against the
    eval-set filter, no batch recompute): the benchmark Bloom bitmap
    (265 int64 words, built once batch-side — eval sets are small and
    static) is baked into the streaming plan as a LITERAL array, and
    each streaming document row probes its own distinct 3-grams
    against it with per-row column expressions. Completely STATELESS
    streaming — no watermark, no state store, no shuffle; every
    micro-batch is a pure map, so throughput is scan-bound at any
    corpus size. Flagged docs (>= 20% possibly-benchmark grams) land
    in the sink. availableNow drain ≡ the batch twin
    (contamination_bloom) — same oracle, hash-compared."""
    import os as _os

    from duckdb_distributed_execution_spark.operators.dedup import (
        word_shingles,
    )
    from duckdb_distributed_execution_spark.queries.pipeline5 import (
        _BLOOM_BITS,
        _BLOOM_WORD,
    )
    from duckdb_distributed_execution_spark.streaming import (
        read_documents_stream,
        run_to_memory,
    )

    # Batch side: fold the benchmark docs' gram positions into the
    # bitmap and collect it (265 longs — O(filter), not O(corpus)).
    d = load(spark, sf_dir, "documents")["documents"]
    grams_b = d.filter(F.col("doc_id") % 50 == 0).select(
        F.explode(word_shingles(F.col("text"), 3)).alias("g")
    )
    p1 = (
        F.conv(F.substring(F.md5(F.col("g")), 1, 7), 16, 10).cast("long")
        % _BLOOM_BITS
    )
    p2 = (
        F.conv(F.substring(F.md5(F.col("g")), 8, 7), 16, 10).cast("long")
        % _BLOOM_BITS
    )
    bpos = grams_b.select(p1.alias("p")).unionAll(
        grams_b.select(p2.alias("p"))
    ).distinct()
    words = {
        r.w: r.bits
        for r in bpos.select(
            (F.col("p") / _BLOOM_WORD).cast("int").alias("w"),
            F.expr(
                f"shiftleft(CAST(1 AS BIGINT), CAST(p % {_BLOOM_WORD} AS INT))"
            ).alias("bv"),
        )
        .groupBy("w")
        .agg(F.bit_or("bv").alias("bits"))
        .collect()
    }
    n_words = (_BLOOM_BITS + _BLOOM_WORD - 1) // _BLOOM_WORD
    lit_bloom = F.array(
        *[F.lit(int(words.get(w, 0))).cast("long") for w in range(n_words)]
    )

    def hit(g):
        q1 = (
            F.conv(F.substring(F.md5(g), 1, 7), 16, 10).cast("long")
            % _BLOOM_BITS
        )
        q2 = (
            F.conv(F.substring(F.md5(g), 8, 7), 16, 10).cast("long")
            % _BLOOM_BITS
        )

        def probe(q):
            word = F.element_at(
                lit_bloom, (q / _BLOOM_WORD).cast("int") + 1
            )
            # F.shiftleft only takes a Python-int bit count; the SQL
            # function accepts a column operand.
            bit = F.call_function(
                "shiftleft",
                F.lit(1).cast("long"),
                (q % _BLOOM_WORD).cast("int"),
            )
            return word.bitwiseAND(bit) != 0

        return probe(q1) & probe(q2)

    stream = read_documents_stream(
        spark, _os.path.join(sf_dir, "documents.parquet")
    ).filter(F.col("doc_id") % 50 != 0)
    gr = word_shingles(F.col("text"), 3)
    screened = stream.select(
        "doc_id",
        F.size(gr).cast("long").alias("n_grams"),
        F.size(F.filter(gr, hit)).cast("long").alias("n_hits"),
    ).withColumn(
        "hit_rate",
        F.round(F.col("n_hits").cast("double") / F.col("n_grams"), 4),
    ).filter(F.col("n_hits") * 5 >= F.col("n_grams"))
    run_to_memory(
        screened, "streaming_contamination_screen_sink", mode="append"
    )
    return spark.table("streaming_contamination_screen_sink")


# ---------------------------------------------------------------------------
# Streaming quality filter (stateless per-row Gopher rules)
# ---------------------------------------------------------------------------


@register(
    "streaming_quality_filter",
    oracle=f"""
    WITH w AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS w
      FROM documents),
    pw AS (SELECT doc_id, w, COUNT(*) AS c FROM w GROUP BY 1, 2),
    pd AS (
      SELECT doc_id,
             CAST(SUM(c) AS BIGINT) AS n_words,
             CAST(MAX(c) AS BIGINT) AS top_cnt,
             CAST(SUM(CASE WHEN w IN ({_STOP_SQL}) THEN c ELSE 0 END)
                  AS BIGINT) AS stop_cnt,
             CAST(SUM(len(w) * c) AS BIGINT) AS n_chars
      FROM pw GROUP BY 1)
    SELECT doc_id, n_words, top_cnt, stop_cnt, n_chars,
           (n_chars BETWEEN 3 * n_words AND 10 * n_words) AS ok_wordlen,
           (stop_cnt * 50 >= n_words) AS ok_stopwords,
           (top_cnt * 5 <= n_words) AS ok_repetition
    FROM pd
    WHERE NOT (n_chars BETWEEN 3 * n_words AND 10 * n_words
               AND stop_cnt * 50 >= n_words
               AND top_cnt * 5 <= n_words)
    """,
)
def streaming_quality_filter(spark, sf_dir):
    """STREAMING Gopher-rule screening at ingest: every quality signal
    of quality_gopher_rules is computed as per-ROW array algebra over
    the streaming document (no groupBy anywhere, so the stream stays
    stateless/append — a pure map per micro-batch): word and char
    counts from the token array, stopword mass via a filtered-array
    size, and the top-word count via a single left fold over the
    SORTED token array (state = (prev, run, best); equal-adjacent runs
    in a sorted array ARE the value frequencies). Docs failing any
    rule are emitted with per-rule booleans — the reject stream a
    pipeline routes to quarantine. Batch oracle computes identical
    integers through grouped aggregation; hash-compared."""
    import os as _os

    from duckdb_distributed_execution_spark.streaming import (
        read_documents_stream,
        run_to_memory,
    )

    stream = read_documents_stream(
        spark, _os.path.join(sf_dir, "documents.parquet")
    )
    toks = tokens(F.col("text"))
    srt = F.sort_array(toks)
    top_cnt = F.aggregate(
        srt,
        F.struct(
            F.lit(None).cast("string").alias("prev"),
            F.lit(0).cast("long").alias("run"),
            F.lit(0).cast("long").alias("best"),
        ),
        lambda acc, x: F.struct(
            x.alias("prev"),
            F.when(x == acc["prev"], acc["run"] + 1)
            .otherwise(F.lit(1).cast("long"))
            .alias("run"),
            F.greatest(
                acc["best"],
                F.when(x == acc["prev"], acc["run"] + 1).otherwise(
                    F.lit(1).cast("long")
                ),
            ).alias("best"),
        ),
        lambda acc: acc["best"],
    )
    sig = stream.select(
        "doc_id",
        F.size(toks).cast("long").alias("n_words"),
        top_cnt.alias("top_cnt"),
        F.size(F.filter(toks, lambda t: t.isin(*STOPWORDS)))
        .cast("long")
        .alias("stop_cnt"),
        F.length(F.regexp_replace("text", " ", ""))
        .cast("long")
        .alias("n_chars"),
    )
    ok_wordlen = F.col("n_chars").between(
        3 * F.col("n_words"), 10 * F.col("n_words")
    )
    ok_stop = F.col("stop_cnt") * 50 >= F.col("n_words")
    ok_rep = F.col("top_cnt") * 5 <= F.col("n_words")
    flagged = sig.select(
        "doc_id", "n_words", "top_cnt", "stop_cnt", "n_chars",
        ok_wordlen.alias("ok_wordlen"),
        ok_stop.alias("ok_stopwords"),
        ok_rep.alias("ok_repetition"),
    ).filter(~(ok_wordlen & ok_stop & ok_rep))
    run_to_memory(flagged, "streaming_quality_filter_sink", mode="append")
    return spark.table("streaming_quality_filter_sink")


# ---------------------------------------------------------------------------
# Contamination SPAN detection (gaps-and-islands over positional 3-grams)
# ---------------------------------------------------------------------------


@register(
    "contamination_span_max",
    oracle="""
    WITH ws AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
    gp AS (
      SELECT doc_id,
             unnest(range(1, greatest(len(w) - 2, 0) + 1)) AS pos,
             unnest(list_transform(
               range(1, greatest(len(w) - 2, 0) + 1),
               i -> array_to_string(list_slice(w, i, i + 2), ' ')))
               AS g
      FROM ws),
    bench AS (SELECT DISTINCT g FROM gp WHERE doc_id % 50 = 0),
    marked AS (
      SELECT doc_id, pos FROM gp
      WHERE doc_id % 50 <> 0 AND g IN (SELECT g FROM bench)),
    runs AS (
      SELECT doc_id,
             pos - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos)
               AS grp
      FROM marked),
    spans AS (
      SELECT doc_id, COUNT(*) AS run_len FROM runs GROUP BY doc_id, grp)
    SELECT doc_id,
           CAST(MAX(run_len) + 2 AS BIGINT) AS max_span_tokens,
           CAST(COUNT(*) AS BIGINT) AS n_runs
    FROM spans GROUP BY doc_id HAVING MAX(run_len) >= 4
    """,
)
def contamination_span_max(spark, sf_dir):
    """Contamination SPAN detection — the signal gram-overlap rates
    miss: a doc that quotes a benchmark verbatim for 20 consecutive
    tokens is contaminated even when its overall gram-hit rate is low.
    Positional 3-grams of every corpus doc are marked against the
    benchmark gram set (docs with doc_id % 50 = 0, the repo's eval
    stand-in convention), and maximal runs of consecutive marked
    positions are found with the gaps-and-islands idiom (pos -
    ROW_NUMBER() per doc — the window partitions on doc_id, a
    high-cardinality key). Docs whose longest run covers >= 6 tokens
    (>= 4 consecutive trigram hits — improbable by chance even in
    this tiny-vocabulary corpus) are reported with their span length
    and run count. Bench grams broadcast (eval sets are small by
    nature); everything else is one doc-keyed window."""
    d = load(spark, sf_dir, "documents")["documents"]
    toks = tokens(F.col("text"))
    s1 = F.slice(toks, 2, F.greatest(F.size(toks) - 1, F.lit(0)))
    s2 = F.slice(toks, 3, F.greatest(F.size(toks) - 2, F.lit(0)))
    grams = F.filter(
        F.zip_with(
            F.zip_with(toks, s1, lambda a, b: F.concat(a, F.lit(" "), b)),
            s2,
            lambda ab, c: F.concat(ab, F.lit(" "), c),
        ),
        lambda x: x.isNotNull(),
    )
    gp = d.select(
        "doc_id", F.posexplode(grams).alias("pos0", "g")
    ).select("doc_id", (F.col("pos0") + 1).alias("pos"), "g")
    bench = (
        gp.filter(F.col("doc_id") % 50 == 0).select("g").distinct()
    )
    marked = gp.filter(F.col("doc_id") % 50 != 0).join(
        F.broadcast(bench), on="g", how="left_semi"
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    runs = marked.select(
        "doc_id", (F.col("pos") - F.row_number().over(w)).alias("grp")
    )
    spans = runs.groupBy("doc_id", "grp").agg(
        F.count(F.lit(1)).alias("run_len")
    )
    return (
        spans.groupBy("doc_id")
        .agg(
            (F.max("run_len") + 2).cast("long").alias("max_span_tokens"),
            F.count(F.lit(1)).cast("long").alias("n_runs"),
        )
        .filter(F.col("max_span_tokens") >= 6)
    )


# ---------------------------------------------------------------------------
# MinHash-LSH pruning power (oracle-checked twin of the pytest gate)
# ---------------------------------------------------------------------------


def _minhash_selectivity_oracle() -> str:
    from duckdb_distributed_execution_spark.operators import dedup as D

    return D.oracle_minhash_lsh_sql(
        D.oracle_word_shingles("text", 2),
        num_hashes=8,
        band_size=2,
        final_select="""
        SELECT (SELECT COUNT(*) FROM cand) AS n_candidates,
               (SELECT CAST(COUNT(*) * (COUNT(*) - 1) // 2 AS BIGINT)
                FROM documents) AS n_possible,
               ROUND(CAST((SELECT COUNT(*) FROM cand) AS DOUBLE)
                     / (SELECT COUNT(*) * (COUNT(*) - 1) // 2
                        FROM documents), 6) AS candidate_fraction""",
    )


@register("minhash_lsh_selectivity", oracle=_minhash_selectivity_oracle())
def minhash_lsh_selectivity(spark, sf_dir):
    """Pruning-power measurement for the MinHash-LSH headline (the
    oracle-checked twin of tests' selectivity gate): banded candidate
    pairs / all document pairs, with the full banding pipeline —
    signatures, band hash, bucket cap, distinct — mirrored in DuckDB
    so the measured selectivity itself is hash-compared. Measured
    0.55% at sf0.01; a vacuous banding config (fraction near 1) would
    break both this hash and the pytest gate."""
    from duckdb_distributed_execution_spark.operators import dedup as D

    d = load(spark, sf_dir, "documents")["documents"]
    cand = D.minhash_lsh_pairs(
        d, "doc_id", "text", shingle_n=2, num_hashes=8, band_size=2,
        candidates_only=True,
        fuse=small_table(sf_dir, "documents"),
    )
    # Tagged UNION + pivot agg instead of a 1-row scalar cross join
    # (same pattern as embedding_banded_selectivity).
    c_rows = cand.select(F.lit(1).alias("__c"), F.lit(0).alias("__n"))
    n_rows = d.select(F.lit(0).alias("__c"), F.lit(1).alias("__n"))
    agg = c_rows.unionByName(n_rows).agg(
        F.sum("__c").cast("long").alias("n_candidates"),
        F.sum("__n").cast("long").alias("n_docs"),
    )
    return agg.select(
        "n_candidates",
        ((F.col("n_docs") * (F.col("n_docs") - 1)) / 2)
        .cast("long")
        .alias("n_possible"),
        F.round(
            F.col("n_candidates").cast("double")
            / ((F.col("n_docs") * (F.col("n_docs") - 1)) / 2),
            6,
        ).alias("candidate_fraction"),
    )


# ---------------------------------------------------------------------------
# N-gram repetition screening
# ---------------------------------------------------------------------------


@register(
    "repetition_ngram_dup",
    oracle="""
    WITH g AS (
      SELECT doc_id, source, unnest(ngrams) AS g
      FROM (
        -- bind the split ONCE via the 1-element list_transform trick
        -- (oracle_word_shingles convention) so the oracle stays
        -- O(tokens), then emit ALL 3-grams (no distinct: repetition
        -- mass needs duplicates)
        SELECT doc_id, source,
               flatten(list_transform([string_split(text, ' ')],
                 w -> list_transform(
                        range(1, greatest(len(w) - 2, 0) + 1),
                        i -> array_to_string(list_slice(w, i, i + 2), ' '))
               )) AS ngrams
        FROM documents)),
    pd AS (
      SELECT doc_id, source,
             CAST(COUNT(*) AS BIGINT) AS total_g,
             CAST(COUNT(DISTINCT g) AS BIGINT) AS distinct_g
      FROM g GROUP BY 1, 2)
    SELECT source,
           COUNT(*) AS n_docs,
           CAST(SUM(total_g) AS BIGINT) AS total_ngrams,
           CAST(SUM(total_g - distinct_g) AS BIGINT) AS dup_ngrams,
           ROUND(CAST(SUM(total_g - distinct_g) AS DOUBLE)
                 / SUM(total_g), 6) AS dup_fraction
    FROM pd GROUP BY source
    """,
)
def repetition_ngram_dup(spark, sf_dir):
    """Word-3-gram repetition screen per source (the Gopher/C4
    duplicate-n-gram signal at corpus granularity): duplicated 3-gram
    mass = total - distinct 3-grams per doc, aggregated per source. A
    boilerplate-heavy source shows a high dup_fraction long before
    exact dedup fires. Linear in tokens on both engines (the oracle's
    range()-indexed shingle build is the same O(tokens) form the
    round-3 minhash oracle fix introduced — no quadratic regex); the
    Spark side builds ALL 3-grams (duplicates kept, unlike
    word_shingles' distinct sets) with two zip_with shifts."""
    d = load(spark, sf_dir, "documents")["documents"]
    toks = tokens(F.col("text"))
    s1 = F.slice(toks, 2, F.greatest(F.size(toks) - 1, F.lit(0)))
    s2 = F.slice(toks, 3, F.greatest(F.size(toks) - 2, F.lit(0)))
    grams = F.filter(
        F.zip_with(
            F.zip_with(
                toks, s1, lambda a, b: F.concat(a, F.lit(" "), b)
            ),
            s2,
            lambda ab, c: F.concat(ab, F.lit(" "), c),
        ),
        lambda x: x.isNotNull(),
    )
    g = d.select("doc_id", "source", F.explode(grams).alias("g"))
    pd_ = g.groupBy("doc_id", "source").agg(
        F.count(F.lit(1)).cast("long").alias("total_g"),
        F.countDistinct("g").cast("long").alias("distinct_g"),
    )
    return pd_.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("total_g").cast("long").alias("total_ngrams"),
        F.sum(F.col("total_g") - F.col("distinct_g"))
        .cast("long")
        .alias("dup_ngrams"),
        F.round(
            F.sum(F.col("total_g") - F.col("distinct_g")).cast("double")
            / F.sum("total_g"),
            6,
        ).alias("dup_fraction"),
    )


# ---------------------------------------------------------------------------
# Training-order operators: epoch shuffle + token-balanced sharding
# (both are real consumers of the scalable keyed_row_number — global
# sequence numbering is THE low-cardinality-window case)
# ---------------------------------------------------------------------------


@register(
    "epoch_shuffle_ids",
    oracle="""
    WITH e AS (SELECT unnest([0, 1]) AS epoch),
    h AS (
      SELECT epoch, doc_id,
             md5(CAST(epoch AS VARCHAR) || ':' || CAST(doc_id AS VARCHAR))
               AS hh
      FROM documents, e)
    SELECT epoch, doc_id,
           CAST(ROW_NUMBER() OVER (PARTITION BY epoch
                                   ORDER BY hh, doc_id) AS BIGINT) AS seq
    FROM h
    """,
)
def epoch_shuffle_ids(spark, sf_dir):
    """Deterministic per-epoch training order: every document gets a
    fresh pseudo-random position each epoch (seq = rank of
    md5(epoch:doc_id)) — the global-shuffle step in front of sequence
    packing, reproducible on any cluster. A naive ROW_NUMBER() here
    partitions on `epoch` (2 values) and funnels half the corpus
    through one task — exactly the hazard keyed_row_number
    (operators/rowid.py) solves with sampled range buckets + broadcast
    prefix offsets; this query IS that operator in its natural
    habitat. Oracle is the plain window (same numbers, oracle-scale
    data)."""
    from duckdb_distributed_execution_spark.operators.rowid import (
        keyed_row_number,
    )

    d = load(spark, sf_dir, "documents")["documents"]
    # Epoch fan-out as a literal-array explode — a pure projection
    # (a 2-row broadcast cross join would plan as a nested-loop join
    # for no benefit).
    h = d.select(
        F.explode(F.array(F.lit(0), F.lit(1))).alias("epoch"),
        "doc_id",
    ).select(
        "epoch",
        "doc_id",
        F.md5(
            F.concat(
                F.col("epoch").cast("string"),
                F.lit(":"),
                F.col("doc_id").cast("string"),
            )
        ).alias("hh"),
    )
    out = keyed_row_number(
        h, ["epoch"], ["hh", "doc_id"], id_col="seq"
    )
    return out.select("epoch", "doc_id", F.col("seq").cast("long"))


_N_SHARDS = 8


@register(
    "shard_snake_balance",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS tk
      FROM documents),
    r AS (
      SELECT doc_id, tk,
             ROW_NUMBER() OVER (ORDER BY tk DESC, doc_id) - 1 AS rnk
      FROM t),
    s AS (
      SELECT tk,
             CASE WHEN rnk % {2 * _N_SHARDS} < {_N_SHARDS}
                  THEN rnk % {2 * _N_SHARDS}
                  ELSE {2 * _N_SHARDS - 1} - rnk % {2 * _N_SHARDS}
             END AS shard
      FROM r)
    SELECT shard,
           COUNT(*) AS n_docs,
           CAST(SUM(tk) AS BIGINT) AS total_tokens
    FROM s GROUP BY shard
    """,
)
def shard_snake_balance(spark, sf_dir):
    """Token-balanced shard assignment by snake ordering: docs sorted
    by token count descending take shards 0..S-1 then S-1..0
    alternately (the boustrophedon heuristic — each shard gets one doc
    per 2S-run from both the heavy and light end, so shard token
    totals stay within a fraction of a percent of each other where
    naive modulo sharding inherits the full length skew). The global
    descending rank is computed with keyed_row_number under a single
    constant key — the most extreme low-cardinality window there is,
    and the reason that operator exists. Output: per-shard doc and
    token totals."""
    from duckdb_distributed_execution_spark.operators.rowid import (
        keyed_row_number,
    )

    d = load(spark, sf_dir, "documents")["documents"]
    t = d.select(
        "doc_id",
        token_count("text").alias("tk"),
        F.lit(0).alias("__k"),
        (-token_count("text")).alias("__neg_tk"),
    )
    ranked = keyed_row_number(
        t, ["__k"], ["__neg_tk", "doc_id"], id_col="__rn"
    )
    pos = (F.col("__rn") - 1) % (2 * _N_SHARDS)
    shard = F.when(pos < _N_SHARDS, pos).otherwise(
        2 * _N_SHARDS - 1 - pos
    )
    return (
        ranked.select(shard.cast("long").alias("shard"), "tk")
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("tk").cast("long").alias("total_tokens"),
        )
    )
