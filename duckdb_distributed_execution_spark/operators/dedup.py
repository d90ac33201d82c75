"""Deduplication suite for training-data pipelines (north-star
greenfield — BASELINE.json).

Five detectors, each a pure DataFrame plan designed around its
100 TB shuffle profile:

- **exact** — hash groupBy on a canonical key. One shuffle on the
  key; map-side partial aggregation keeps it near-linear.
- **fingerprint** — md5 over normalized text, then exact dedup.
- **n-gram Jaccard** — shingle sets + blocked self-join + set
  intersection. The block column bounds candidate pairs (never an
  unblocked n² self-join).
- **MinHash + LSH** — one md5 base hash per shingle, k Carter-Wegman
  affine min-hashes → banded signatures → bucket pair unroll. The
  classic sub-quadratic near-dup path: at 100 TB only
  same-band-bucket pairs are ever materialized.
- **SimHash** — 32-bit sign-of-weighted-bits signature; pairs within
  a Hamming radius, blocked by signature prefix so the join is an
  equi-join on the prefix.

Hashes are md5-derived 60-bit integers (same formula in the DuckDB
oracles: ``CAST('0x' || substr(md5(x), 1, 15) AS BIGINT)``), so every
detector is deterministic and cross-engine checkable.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from duckdb_distributed_execution_spark.functions import persist_tracked
from duckdb_distributed_execution_spark.operators.text import (
    arrow_normalize,
    arrow_tokens,
    normalize_text,
    tokens,
)


def hash60(col: Column) -> Column:
    """Deterministic 60-bit integer hash (md5-derived) — same value as
    the oracle expression CAST('0x' || substr(md5(x),1,15) AS BIGINT)."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def oracle_hash60(expr: str) -> str:
    return f"CAST('0x' || substr(md5({expr}), 1, 15) AS BIGINT)"


# ---------------------------------------------------------------------------
# Exact / fingerprint dedup
# ---------------------------------------------------------------------------

def exact_dedup_groups(df: DataFrame, key: Column, id_col: str) -> DataFrame:
    """Group rows by an exact key; keep the minimum id as the canonical
    representative. Returns (keep_id, n_dups, key)."""
    return df.groupBy(key.alias("dedup_key")).agg(
        F.min(id_col).alias("keep_id"),
        F.count(F.lit(1)).alias("n_dups"),
    )


def drop_exact_dups(df: DataFrame, key: Column, id_col: str) -> DataFrame:
    """Keep one row (min id) per key — the actual dedup operator. A
    single shuffle on the key; no window needed (min-id join back)."""
    keep = df.groupBy(key.alias("__k")).agg(F.min(id_col).alias(id_col))
    return df.join(keep.drop("__k"), on=id_col, how="left_semi")


# ---------------------------------------------------------------------------
# Shingles + Jaccard
# ---------------------------------------------------------------------------

def word_shingles(col: Column, n: int) -> Column:
    """Distinct word n-gram shingles of the *normalized* text.
    n=1 → distinct tokens.

    Built by zipping the token array against its k-shifted copies —
    n−1 array operations per document instead of one slice+join per
    shingle (the per-shingle form is interpreted and ~20× slower on a
    corpus). Trailing positions null out through concat-null
    propagation and are filtered."""
    toks = tokens(normalize_text(col))
    if n == 1:
        return F.array_distinct(toks)
    acc = toks
    for k in range(1, n):
        shifted = F.slice(
            toks, k + 1, F.greatest(F.size(toks) - F.lit(k), F.lit(0))
        )
        acc = F.zip_with(acc, shifted, lambda a, b: F.concat(a, F.lit(" "), b))
    return F.array_distinct(F.filter(acc, lambda x: x.isNotNull()))


def oracle_word_shingles(expr: str, n: int) -> str:
    from duckdb_distributed_execution_spark.operators.text import oracle_normalize

    toks = f"regexp_split_to_array({oracle_normalize(expr)}, '\\s+')"
    if n == 1:
        return f"list_distinct({toks})"
    # Bind the token array ONCE via a 1-element outer list_transform:
    # inlining {toks} into both len() and the slice lambda would
    # re-run the regexp split per shingle index — O(tokens^2) regex
    # work per doc, which made the 10x-scale oracle 20x slower.
    # Same value, one split per row.
    return (
        f"list_distinct(flatten(list_transform([{toks}], "
        f"w -> list_transform(range(1, greatest(len(w) - {n - 1}, 0) + 1), "
        f"i -> array_to_string(list_slice(w, i, i + {n - 1}), ' ')))))"
    )


def array_shingles(arr: Column, n: int, sep: str = " ") -> Column:
    """Distinct n-gram shingles of an ARBITRARY token array (the
    array-input generalization of word_shingles — same zip-shift
    construction, same trailing-null filtering). Used where the token
    stream is NOT whitespace words — e.g. BPE token sequences in the
    tokenizer-aware contamination screen (pipeline57)."""
    if n == 1:
        return F.array_distinct(arr)
    acc = arr
    for k in range(1, n):
        shifted = F.slice(
            arr, k + 1, F.greatest(F.size(arr) - F.lit(k), F.lit(0))
        )
        acc = F.zip_with(acc, shifted, lambda a, b: F.concat(a, F.lit(sep), b))
    return F.array_distinct(F.filter(acc, lambda x: x.isNotNull()))


def oracle_array_shingles(list_expr: str, n: int, sep: str = " ") -> str:
    """DuckDB mirror of :func:`array_shingles` over a list expression
    (bound once via the 1-element list_transform trick — see
    oracle_word_shingles)."""
    if n == 1:
        return f"list_distinct({list_expr})"
    return (
        f"list_distinct(flatten(list_transform([{list_expr}], "
        f"w -> list_transform(range(1, greatest(len(w) - {n - 1}, 0) + 1), "
        f"i -> array_to_string(list_slice(w, i, i + {n - 1}), '{sep}')))))"
    )


def jaccard(a: Column, b: Column) -> Column:
    """Jaccard of two DISTINCT-element arrays. |a∪b| is computed as
    |a|+|b|−|a∩b| — one set operation per pair instead of two (the
    array_union allocation dominates blocked self-joins)."""
    inter = F.size(F.array_intersect(a, b)).cast("double")
    union = (F.size(a) + F.size(b)).cast("double") - inter
    return inter / union


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 2,
    threshold: float = 0.5,
    block_col: str | None = None,
    allow_unblocked: bool = False,
) -> DataFrame:
    """Near-dup pairs by n-gram Jaccard ≥ threshold. ``block_col``
    bounds the self-join (same-block pairs only) — at scale, blocking
    is mandatory; pass e.g. a language or LSH-band column. Without a
    block column the plan is an all-pairs cartesian, so it RAISES
    unless the caller opts in with ``allow_unblocked=True`` (for
    small exact/oracle runs); use minhash_lsh_pairs or
    setsim_prefix_join for the sub-quadratic corpus-scale path."""
    if block_col is None and not allow_unblocked:
        raise ValueError(
            "ngram_jaccard_pairs without block_col is an all-pairs "
            "cartesian; pass block_col=... or allow_unblocked=True "
            "(small/exact runs only)"
        )
    sh = df.select(
        F.col(id_col).alias("id_a"),
        *([F.col(block_col)] if block_col else []),
        word_shingles(F.col(text_col), n).alias("sh_a"),
    )
    sh_b = sh.select(
        F.col("id_a").alias("id_b"),
        *([F.col(block_col)] if block_col else []),
        F.col("sh_a").alias("sh_b"),
    )
    on = [block_col] if block_col else []
    pairs = (
        sh.join(sh_b, on=on) if on else sh.crossJoin(sh_b)
    ).filter(F.col("id_a") < F.col("id_b"))
    out = pairs.select(
        "id_a",
        "id_b",
        jaccard(F.col("sh_a"), F.col("sh_b")).alias("jaccard"),
    )
    return out.filter(F.col("jaccard") >= threshold)


# ---------------------------------------------------------------------------
# MinHash + LSH banding
# ---------------------------------------------------------------------------

# Carter-Wegman affine family over p = 2^31 - 1: each of the k
# min-hashes is h_i(s) = (a_i * base(s) + b_i) mod p where base(s) is
# a 28-bit md5-derived hash. One md5 per shingle total — the k-way
# fan-out is pure long arithmetic inside whole-stage codegen, so
# signature cost no longer scales with k (a production k=128 run pays
# 128× fewer md5s than hashing per seed). Overflow-safe in both
# engines: a < 2^31, base < 2^28 → a·base + b < 2^59 + 2^31 < 2^63,
# and a·base wraps p ~2^28 times so the derived hashes genuinely
# reorder the shingles (an un-wrapped affine map would be monotonic
# and every h_i would pick the same shingle).
MINHASH_P = 2147483647  # 2^31 - 1 (prime)

_COEFFS_CACHE: dict[int, list[tuple[int, int]]] = {}


def minhash_coeffs(k: int) -> list[tuple[int, int]]:
    """Deterministic (a_i, b_i) pairs — fixed seed, so oracle SQL
    rebuilt in another process (or engine) matches bit-for-bit."""
    if k not in _COEFFS_CACHE:
        import random

        rng = random.Random(0xCAFE)
        _COEFFS_CACHE[k] = [
            (rng.randrange(1, MINHASH_P), rng.randrange(MINHASH_P))
            for _ in range(k)
        ]
    return _COEFFS_CACHE[k]


def minhash_base(col: Column) -> Column:
    """28-bit md5-derived base hash — oracle equivalent:
    CAST('0x' || substr(md5(s), 1, 7) AS BIGINT)."""
    return F.conv(F.substring(F.md5(col), 1, 7), 16, 10).cast("long")


def _affine(h: Column, a: int, b: int) -> Column:
    return (F.lit(a) * h + F.lit(b)) % F.lit(MINHASH_P)


def _affine_min(base_arr: Column, a: int, b: int) -> Column:
    # Factory keeps the HOF lambda single-argument (PySpark dispatches
    # arity on the Python signature — a default-arg closure would
    # silently become the (element, index) variant).
    return F.array_min(F.transform(base_arr, lambda h: _affine(h, a, b)))


def minhash_signature(shingles: Column, num_hashes: int) -> list[Column]:
    """k min-hashes over a shingle array. Column form (higher-order
    functions, interpreted) — prefer minhash_signatures_df for bulk
    work."""
    base = F.transform(shingles, minhash_base)
    return [
        _affine_min(base, a, b).alias(f"mh_{i}")
        for i, (a, b) in enumerate(minhash_coeffs(num_hashes))
    ]


def minhash_signatures_df(
    df: DataFrame, id_col: str, text_col: str, shingle_n: int, num_hashes: int
) -> DataFrame:
    """Bulk MinHash signatures via explode → groupBy-min: every hash
    is a codegen'd md5 expression over one long (doc, shingle) table
    and the min-combine is a plain partial/final aggregate — the
    whole-stage-codegen path (Column-lambda folds are interpreted and
    ~10× slower at corpus scale). min() is commutative, so the result
    is identical at any partition count.

    The input is repartitioned before the hash fan-out: a cheap
    shuffle of the raw documents buys full-cluster parallelism for
    the k·|shingles| md5 computations (a single-row-group parquet
    file would otherwise hash on one core)."""
    para = df.sparkSession.sparkContext.defaultParallelism
    exploded = (
        df.repartition(para, id_col)
        .select(
            F.col(id_col).alias("doc"),
            F.explode(word_shingles(F.col(text_col), shingle_n)).alias("s"),
        )
        .select("doc", minhash_base(F.col("s")).alias("h"))
    )
    return exploded.groupBy("doc").agg(
        *[
            F.min(_affine(F.col("h"), a, b)).alias(f"mh_{i}")
            for i, (a, b) in enumerate(minhash_coeffs(num_hashes))
        ]
    )


def _minhash_doc_hashes(pdf, id_col, text_col, shingle_n, shingle_fn):
    """One batch → deduped ``(doc, h)`` pandas frame (md5-based 28-bit
    base hashes over distinct shingles) — the exact per-batch math of
    the signature kernel, shared by :func:`minhash_sig_rows_arrow`
    and the fused single-task twin :func:`minhash_lsh_pairs_fused` so
    the two plans can never drift. Returns ``None`` when no doc in
    the batch reaches ``shingle_n`` tokens (the explode plan emits no
    rows for those either)."""
    import hashlib

    import numpy as np
    import pandas as pd
    import pyarrow.compute as pc

    md5 = hashlib.md5
    pdf = pdf[pdf[text_col].notna()]
    if not len(pdf):
        return None
    if shingle_fn is not None:
        sh_lists = [shingle_fn(t) for t in pdf[text_col].values]
        n_sh = np.fromiter(
            (len(x) for x in sh_lists),
            dtype=np.int64,
            count=len(sh_lists),
        )
        doc_ids = np.repeat(pdf[id_col].values, n_sh)
        if not len(doc_ids):
            return None
        sh_strs = np.array(
            [s for lst in sh_lists for s in lst], dtype=object
        )
    else:
        toks, lens = arrow_tokens(arrow_normalize(pdf[text_col]))
        flat = pc.list_flatten(toks).to_pandas().values
        n_sh = np.maximum(lens - (shingle_n - 1), 0)
        doc_ids = np.repeat(pdf[id_col].values, n_sh)
        if not len(doc_ids):
            # every doc in the batch is below shingle_n tokens —
            # the explode plan emits no rows for them either.
            return None
        starts = np.concatenate(([0], np.cumsum(lens)[:-1]))
        idx = np.concatenate(
            [np.arange(s, s + m) for s, m in zip(starts, n_sh)]
        )
        if shingle_n == 1:
            sh_strs = flat[idx]
        elif shingle_n == 2:
            sh_strs = np.array(
                [flat[i] + " " + flat[i + 1] for i in idx],
                dtype=object,
            )
        else:
            sh_strs = np.array(
                [" ".join(flat[i : i + shingle_n]) for i in idx],
                dtype=object,
            )
    sdf = pd.DataFrame({"doc": doc_ids, "s": sh_strs})
    sdf = sdf.drop_duplicates()
    h = np.fromiter(
        (
            int(md5(s.encode()).hexdigest()[:7], 16)
            for s in sdf["s"].values
        ),
        dtype=np.int64,
        count=len(sdf),
    )
    # distinct shingles can md5-collide into equal base hashes;
    # collect_set dedupes the VALUES, so mirror that here.
    return pd.DataFrame({"doc": sdf["doc"].values, "h": h}).drop_duplicates()


def minhash_sig_rows_arrow(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_n: int,
    num_hashes: int,
    shingle_fn=None,
) -> DataFrame:
    """Per-doc MinHash signature rows ``(doc, mh_0..k-1, sh)`` in ONE
    Arrow pass — semantically identical to the explode → groupBy(min,
    collect_set) plan over ``word_shingles`` but with ZERO exchange:
    normalize (RE2, same chain + parity argument as
    tokens_exploded_arrow), n-gram shingling, md5 base hashes, the k
    affine mins and the distinct-hash set are all computed inside the
    batch, so nothing shuffles to build signatures at any scale. The
    JVM plan pays two java.util.regex passes, an interpreted
    zip_with/filter shingle build, a |shingles|-row explode AND the
    groupBy exchange of the hashed-shingle stream — measured (warm,
    same session, 32 threads): sf0.1 0.77 → 0.52 s, organic sf1
    4.48 → 0.79 s (5.6×), signature rows bit-identical including the
    distinct-set contents.

    Docs whose shingle set is empty (fewer than ``shingle_n`` tokens)
    drop their row, exactly like the explode plan. ``sh`` element
    ORDER differs from collect_set's (both unspecified); every
    consumer reads sizes/intersections only.

    ``shingle_fn`` (r9) replaces the built-in word-shingle chain with
    a per-doc Python callable text → list of shingle strings — the
    token-space LSH (wave 60) passes the exact Python mirror of its
    JVM BPE-encode + array_shingles expression, so the whole
    signature relation keeps the zero-exchange kernel plan instead of
    falling back to the explode → groupBy form."""
    import numpy as np
    import pandas as pd

    from duckdb_distributed_execution_spark.functions import (
        ensure_min_parallelism,
    )

    coeffs = minhash_coeffs(num_hashes)
    A = np.array([a for a, _ in coeffs], dtype=np.int64).reshape(-1, 1)
    B = np.array([b for _, b in coeffs], dtype=np.int64).reshape(-1, 1)
    dt = dict(df.dtypes)

    def run(batches):
        for pdf in batches:
            dh = _minhash_doc_hashes(
                pdf, id_col, text_col, shingle_n, shingle_fn
            )
            if dh is None:
                continue
            hv = dh["h"].values
            order = np.argsort(dh["doc"].values, kind="stable")
            docs_sorted = dh["doc"].values[order]
            hv = hv[order]
            uniq, start_idx = np.unique(docs_sorted, return_index=True)
            AM = (A * hv.reshape(1, -1) + B) % MINHASH_P
            mins = np.minimum.reduceat(AM, start_idx, axis=1)
            sh_lists = np.split(hv, start_idx[1:])
            out = {"doc": uniq}
            for i in range(num_hashes):
                out[f"mh_{i}"] = mins[i]
            out["sh"] = [list(v) for v in sh_lists]
            yield pd.DataFrame(out)

    mh_cols = ", ".join(f"mh_{i} long" for i in range(num_hashes))
    return ensure_min_parallelism(df.select(id_col, text_col)).mapInPandas(
        run, schema=f"doc {dt[id_col]}, {mh_cols}, sh array<long>"
    )


def oracle_minhash_sig(shingles_expr: str, i: int) -> str:
    a, b = minhash_coeffs(i + 1)[i]
    return (
        f"list_min(list_transform({shingles_expr}, "
        f"s -> ({a} * CAST('0x' || substr(md5(s), 1, 7) AS BIGINT) + {b})"
        f" % {MINHASH_P}))"
    )


def oracle_minhash_lsh_sql(
    shingles_expr: str,
    num_hashes: int = 8,
    band_size: int = 2,
    verify_threshold: float = 0.4,
    max_bucket: int = 256,
    final_select: str | None = None,
    base_where: str | None = None,
) -> str:
    """Full DuckDB mirror of ``minhash_lsh_pairs`` — same base hash,
    affine family, banding, bucket-size cap, and hashed-shingle
    Jaccard verification, so the banded candidate generation itself is
    oracle-checked (not just the signature math). ``final_select``
    overrides the trailing SELECT (the CTEs base/sig/bands/ok_buckets/
    cand/sh/j stay available) — used by the selectivity gate query.
    ``base_where`` filters the base relation — used by the token-gram
    variant to drop shingle-less docs exactly like the engine's
    explode does (an all-NULL signature would otherwise band into one
    spurious shared bucket)."""
    coeffs = minhash_coeffs(num_hashes)
    n_bands = num_hashes // band_size
    mh_cols = ", ".join(
        f"list_min(list_transform(bh, h -> ({a} * h + {b}) % {MINHASH_P}))"
        f" AS mh_{i}"
        for i, (a, b) in enumerate(coeffs)
    )
    band_selects = " UNION ALL ".join(
        "SELECT doc_id, '{b}:' || md5(concat_ws('_', '{b}', {cols})) AS bucket "
        "FROM sig".format(
            b=b,
            cols=", ".join(
                f"mh_{b * band_size + r}" for r in range(band_size)
            ),
        )
        for b in range(n_bands)
    )
    where_sql = f" WHERE {base_where}" if base_where else ""
    return f"""
    WITH base AS (
      SELECT doc_id,
             list_transform({shingles_expr},
                            s -> CAST('0x' || substr(md5(s), 1, 7) AS BIGINT)) AS bh
      FROM documents{where_sql}),
    sig AS (SELECT doc_id, {mh_cols} FROM base),
    bands AS ({band_selects}),
    ok_buckets AS (
      SELECT bucket FROM bands GROUP BY bucket
      HAVING COUNT(*) > 1 AND COUNT(*) <= {max_bucket}),
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM bands a
      JOIN bands b ON a.bucket = b.bucket AND a.doc_id < b.doc_id
      JOIN ok_buckets s ON s.bucket = a.bucket),
    sh AS (SELECT doc_id, list_distinct(bh) AS sh FROM base),
    j AS (
      SELECT id_a, id_b,
             CAST(len(list_intersect(x.sh, y.sh)) AS DOUBLE)
             / (CAST(len(x.sh) + len(y.sh) AS DOUBLE)
                - CAST(len(list_intersect(x.sh, y.sh)) AS DOUBLE)) AS jaccard
      FROM cand
      JOIN sh x ON x.doc_id = cand.id_a
      JOIN sh y ON y.doc_id = cand.id_b)
    {final_select or f'''SELECT id_a, id_b, ROUND(jaccard, 4) AS jaccard
    FROM j WHERE jaccard >= {verify_threshold}'''}
    """


def minhash_lsh_pairs_fused(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_n: int = 2,
    num_hashes: int = 8,
    band_size: int = 2,
    verify_threshold: float = 0.4,
    max_bucket: int = 256,
    candidates_only: bool = False,
    shingle_fn=None,
) -> DataFrame:
    """Fused twin of :func:`minhash_lsh_pairs` for corpora below the
    scale gate (guide §1.2/§2.4). The signature relation keeps the
    PARALLEL zero-exchange Arrow kernel (per-doc md5/BPE work is the
    real compute here — a fully single-task form measured SLOWER at
    sf0.1: word 0.74 → 1.2 s — so only the post-signature pipeline
    fuses); everything after it — banding, hot-bucket cap, pair
    distinct, exact-Jaccard verify — collapses into ONE numpy task
    behind a single ~5 MB repartition(1) exchange of the narrow sig
    rows. The distributed form pays a persisted sig, the band-bucket
    window exchange, the pair-distinct exchange and TWO verify joins
    shipping ~130-element hash arrays per candidate (~10 stages of
    fixed cost at toy scale, and the verify joins dominate when
    banding is non-discriminative — the token-space query emits 412k
    candidates at sf0.1).

    Result-identical to the distributed form by construction:

    - signature rows come from the SAME kernel
      (:func:`minhash_sig_rows_arrow`), so mins and hash sets are
      bit-identical;
    - banding groups docs by the raw per-band min-tuple — the
      distributed form buckets on ``md5('b_mh0_mh1')``, a rename of
      the same key (md5 collisions between distinct tuples are the
      only divergence, probability ~2⁻¹²⁸; equality is pinned
      empirically at sf0.01 and sf0.1);
    - the hot-bucket cap (1 < n ≤ max_bucket), unordered-pair
      distinct, and exact Jaccard use the same integer set sizes and
      the same double arithmetic (inter/(|a|+|b|−inter), int → f64
      casts in the same order) so the emitted doubles are
      bit-identical.

    A provably-lossless length prefilter cheapens the verify: for
    distinct-element sets J(A,B) ≤ min(|A|,|B|)/max(|A|,|B|), so a
    pair with min < (θ−1e-9)·max can never pass the θ filter (the
    1e-9 margin dwarfs the 1-ulp rounding of the double compare;
    pairs kept by the margin are verified exactly anyway)."""
    import numpy as np
    import pandas as pd

    from duckdb_distributed_execution_spark import functions as _fx
    from duckdb_distributed_execution_spark.functions import (
        check_fused_input_rows,
    )

    fused_cap = _fx.FUSED_KERNEL_MAX_ROWS  # captured driver-side
    assert num_hashes % band_size == 0
    n_bands = num_hashes // band_size
    id_t = dict(df.dtypes)[id_col]
    thr = float(verify_threshold)
    sig = minhash_sig_rows_arrow(
        df, id_col, text_col, shingle_n, num_hashes, shingle_fn=shingle_fn
    )
    mh_names = [f"mh_{i}" for i in range(num_hashes)]

    def run(batches):
        parts = [p for p in batches if len(p)]
        if not parts:
            return
        pdf = (
            pd.concat(parts, ignore_index=True)
            if len(parts) > 1
            else parts[0]
        )
        check_fused_input_rows(len(pdf), "minhash_lsh_pairs_fused", fused_cap)
        uniq = pdf["doc"].values
        mins = np.vstack([pdf[m].values for m in mh_names])  # k x n
        doc_h = [
            np.sort(np.asarray(x, dtype=np.int64)) for x in pdf["sh"].values
        ]
        sizes = np.fromiter(
            (len(x) for x in doc_h), dtype=np.int64, count=len(doc_h)
        )
        n = len(uniq)
        ia_parts: list = []
        ib_parts: list = []
        for b in range(n_bands):
            band = mins[b * band_size : (b + 1) * band_size]  # bs x n
            order_b = np.lexsort(tuple(band[::-1]))
            sorted_band = band[:, order_b]
            diff = np.zeros(n - 1, dtype=bool) if n > 1 else np.zeros(0, dtype=bool)
            for r in range(band_size):
                diff |= sorted_band[r, 1:] != sorted_band[r, :-1]
            bounds = np.flatnonzero(np.r_[True, diff, True])
            starts, ends = bounds[:-1], bounds[1:]
            ok = np.flatnonzero(
                ((ends - starts) >= 2) & ((ends - starts) <= max_bucket)
            )
            for gi in ok:
                idx = order_b[starts[gi] : ends[gi]]
                r, c = np.triu_indices(len(idx), k=1)
                ia_parts.append(idx[r])
                ib_parts.append(idx[c])
        if not ia_parts:
            return
        ia = np.concatenate(ia_parts)
        ib = np.concatenate(ib_parts)
        # unordered pair, emitted (smaller id, larger id) like the
        # p.id_a < p.id_b filter of the distributed unroll.
        ida, idb = uniq[ia], uniq[ib]
        swap = ida > idb
        ia[swap], ib[swap] = ib[swap], ia[swap]
        keys = np.unique(ia.astype(np.int64) * n + ib)
        ia, ib = keys // n, keys % n
        if candidates_only:
            yield pd.DataFrame({"id_a": uniq[ia], "id_b": uniq[ib]})
            return
        sa, sb = sizes[ia], sizes[ib]
        lo = np.minimum(sa, sb).astype(np.float64)
        hi = np.maximum(sa, sb).astype(np.float64)
        keep = lo >= (thr - 1e-9) * hi
        ia, ib, sa, sb = ia[keep], ib[keep], sa[keep], sb[keep]
        if not len(ia):
            return
        # exact |A∩B| per surviving pair: pairs are sorted by ia, so
        # group by ia and binary-search each partner's hashes against
        # A's sorted array in one vectorized searchsorted per group.
        inter = np.empty(len(ia), dtype=np.int64)
        g_uniq, g_start = np.unique(ia, return_index=True)
        g_end = np.append(g_start[1:], len(ia))
        for gi in range(len(g_uniq)):
            s, e = g_start[gi], g_end[gi]
            a_sorted = doc_h[g_uniq[gi]]
            flat_b = np.concatenate([doc_h[j] for j in ib[s:e]])
            pos = np.searchsorted(a_sorted, flat_b)
            pos[pos == len(a_sorted)] = 0
            hit = (a_sorted[pos] == flat_b).astype(np.int64)
            seg = np.concatenate(
                ([0], np.cumsum(sb[s:e].astype(np.int64))[:-1])
            )
            inter[s:e] = np.add.reduceat(hit, seg)
        inter_d = inter.astype(np.float64)
        union = (sa + sb).astype(np.float64) - inter_d
        jac = inter_d / union
        mask = jac >= thr
        if not mask.any():
            return
        yield pd.DataFrame(
            {
                "id_a": uniq[ia[mask]],
                "id_b": uniq[ib[mask]],
                "jaccard": jac[mask],
            }
        )

    out_schema = (
        f"id_a {id_t}, id_b {id_t}"
        if candidates_only
        else f"id_a {id_t}, id_b {id_t}, jaccard double"
    )
    # repartition(1), not coalesce(1): coalesce would collapse the
    # upstream sig kernel to one task too; the exchange it costs is
    # one narrow ~|docs|·(8 longs + hash set) spill, and it is the
    # ONLY exchange in the whole plan.
    return sig.repartition(1).mapInPandas(run, schema=out_schema)


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_n: int = 2,
    num_hashes: int = 8,
    band_size: int = 2,
    verify_threshold: float = 0.4,
    max_bucket: int = 256,
    candidates_only: bool = False,
    shingles: Column | None = None,
    shingle_fn=None,
    fuse: bool = False,
) -> DataFrame:
    """MinHash-LSH near-dup detection:
    shingle → k min-hashes → bands of ``band_size`` → same-band-bucket
    candidate pairs → exact Jaccard verification ≥ threshold.

    ``shingles`` overrides the default word-shingle column with any
    array<string> expression over the input row — the wave-60
    token-space variant passes BPE-token n-grams, reusing this whole
    pipeline (signatures, banding, cap, verify) unchanged.

    Candidate pairs come from one groupBy on the band bucket
    (collect_list of doc ids, pairs unrolled bucket-locally) rather
    than a bucket self-join — the signature pipeline is planned ONCE,
    and the only shuffles are the band-bucket exchange and the final
    distinct. No all-pairs stage anywhere, so this is the 100 TB
    near-dup path. Buckets larger than ``max_bucket`` are dropped:
    a degenerate bucket (empty texts, boilerplate) is
    non-discriminative and would otherwise emit O(B²) pairs and
    overload one reducer — standard LSH hot-bucket hygiene. The cap
    bounds per-bucket work at cap²/2 pairs, so total candidate volume
    is LINEAR in the number of buckets (measured: a 10× corpus with
    heavy signature collisions went from quadratic blow-up at
    cap=4096 to linear at 256); a pair lost to one dropped hot band
    still has the other n_bands-1 chances to surface."""
    assert num_hashes % band_size == 0
    # ``fuse`` (r9): callers below the corpus-size gate route the
    # ENTIRE pipeline through the single-task kernel (guide §1.2 —
    # at toy scale the distributed plan is ~10 stages of fixed cost;
    # the queries gate on small_table like every fused kernel here).
    # Only the fixed shingle chains have a Python twin, so a custom
    # ``shingles`` Column keeps the distributed form.
    if fuse and shingles is None:
        return minhash_lsh_pairs_fused(
            df, id_col, text_col, shingle_n, num_hashes, band_size,
            verify_threshold, max_bucket, candidates_only, shingle_fn,
        )
    # Signature rows (doc, mh_0..k-1, sh): the default text/word-
    # shingle path runs the fused Arrow kernel (minhash_sig_rows_arrow
    # — zero-exchange, one RE2+md5 pass per batch; sf0.1 0.77→0.52 s,
    # sf1 4.48→0.79 s, bit-identical rows); a custom ``shingles``
    # expression (the wave-60 token-gram variant) keeps the JVM
    # explode → groupBy(min, collect_set) plan, where ONE md5 pass
    # produces both the signature and the distinct-hash verify set.
    # Either way the rows persist (lazy, MEMORY_AND_DISK) so the three
    # consumers below (banding + two verify joins) materialize them
    # once.  Lazy persist beats an eager localCheckpoint twice over:
    # no extra up-front job (the cache fills inside the first
    # consumer's stage — measured 2.15 s → 1.73 s at sf0.1), and
    # lineage survives, so losing a cached executor block at cluster
    # scale means recompute, not job death.
    # ``shingle_fn`` (r9): a per-doc Python mirror of the shingle
    # expression routes custom-shingle callers (the wave-60 token
    # variant) through the SAME zero-exchange kernel; only a Column
    # override without a Python twin falls back to the explode plan.
    if shingles is None:
        sig = persist_tracked(
            minhash_sig_rows_arrow(
                df, id_col, text_col, shingle_n, num_hashes,
                shingle_fn=shingle_fn,
            ),
            StorageLevel.MEMORY_AND_DISK,
        )
    else:
        para = df.sparkSession.sparkContext.defaultParallelism
        exploded = (
            df.repartition(para, id_col)
            .select(
                F.col(id_col).alias("doc"),
                F.explode(shingles).alias("s"),
            )
            .select("doc", minhash_base(F.col("s")).alias("h"))
        )
        # Aggregate/banding expressions ship as SQL strings (r9): the
        # Column-by-Column construction of 8 affine mins + 4 band
        # hashes + the pair-unroll HOFs cost ~1,800 py4j round trips
        # per build (~0.5 s of the sf0.1 bench wall before any task
        # ran); one JVM parse per expression builds identical trees.
        sig = persist_tracked(
            exploded.groupBy("doc").agg(
                *[
                    F.expr(f"min(({a} * h + {b}) % {MINHASH_P})").alias(
                        f"mh_{i}"
                    )
                    for i, (a, b) in enumerate(minhash_coeffs(num_hashes))
                ],
                F.collect_set("h").alias("sh"),
            ),
            StorageLevel.MEMORY_AND_DISK,
        )
    n_bands = num_hashes // band_size
    # candidates: same value in ANY band → stack bands, bucket the
    # (doc, bucket) pairs ONLY — shingle arrays never ride through
    # this shuffle.
    band_terms = ", ".join(
        "concat('{b}:', md5(concat_ws('_', '{b}', {cols})))".format(
            b=b,
            cols=", ".join(
                f"mh_{b * band_size + r}" for r in range(band_size)
            ),
        )
        for b in range(n_bands)
    )
    # r10 probe, REVERTED: carrying size(sh) through the band exchange
    # to length-prefilter candidates before the verify joins (the
    # fused kernel's J ≤ min/max rule) measured a 6-15% REGRESSION at
    # sf1 (interleaved A/B: word 5.05→5.81 s, token 10.2→10.8 s) — the
    # banding pass must decode the cached ~130-element `sh` arrays
    # just to size them, the band/pair exchanges widen, and the filter
    # only prunes 17% of token candidates (0.1% word at θ=0.12), not
    # the hypothesized majority. The prefilter stays in the fused
    # kernel, where sizes are a free numpy byproduct.
    stacked = sig.select(
        "doc", F.explode(F.expr(f"array({band_terms})")).alias("bucket")
    )
    # Enforce the hot-bucket cap BEFORE collecting anything: a window
    # COUNT over the bucket key tags every band row with its bucket
    # size in the SAME exchange the collect_list needs anyway, the
    # filter then drops over-cap and singleton buckets, and the
    # groupBy reuses the window's hash partitioning — Catalyst plans
    # exactly ONE exchange of the band rows for count + filter +
    # collect. The round-3 form filtered AFTER collect_list, which
    # funneled a corpus-wide hot bucket through a single straggler
    # task just to build a mega-array it then threw away — observed
    # live at the 100x probe (one 850 s task while 31 cores idled; the
    # salted replica corpus makes replica-wide buckets). Under the
    # window form a mega bucket still lands on one task, but that task
    # only counts narrow (doc, bucket) rows and discards them — no
    # array, no pair unroll — so the cap's cost is one bounded sort,
    # not O(B²) work. (An agg + semi-join pre-pass is the alternative
    # shape; it keeps the mega bucket's count fully partial-aggregated
    # but pays a second exchange of the band rows — measured 0.5 s
    # slower at sf0.1 and identical at the 100× probe.)
    w_bucket = Window.partitionBy("bucket")
    buckets = (
        stacked.withColumn("__n", F.count(F.lit(1)).over(w_bucket))
        .filter((F.col("__n") > 1) & (F.col("__n") <= max_bucket))
        .groupBy("bucket")
        .agg(F.collect_list("doc").alias("docs"))
    )
    pair_structs = F.expr(
        "filter(flatten(transform(docs, a -> transform(docs, "
        "b -> named_struct('id_a', a, 'id_b', b)))), "
        "p -> p.id_a < p.id_b)"
    )
    cand = (
        buckets.select(F.explode(pair_structs).alias("p"))
        .select("p.id_a", "p.id_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    if candidates_only:
        # Pruning-power measurement hook: the raw candidate set before
        # Jaccard verification (tests gate candidates / possible pairs
        # so a vacuous banding config can never pass CI).
        return cand
    # Jaccard verification joins the 28-bit hashed shingle sets back,
    # only for surviving candidates — reusing the checkpointed
    # signature table (collect_set = distinct base hashes; jaccard()
    # only reads set sizes, so element order is irrelevant).  The
    # estimate is exact up to base-hash collisions
    # (≤ |set|²/2²⁸ ≈ 1e-5 per pair).
    sh = sig.select("doc", "sh")
    verified = (
        cand.join(sh.select(F.col("doc").alias("id_a"), F.col("sh").alias("sh_a")),
                  on="id_a")
        .join(sh.select(F.col("doc").alias("id_b"), F.col("sh").alias("sh_b")),
              on="id_b")
        .select("id_a", "id_b", jaccard(F.col("sh_a"), F.col("sh_b")).alias("jaccard"))
    )
    return verified.filter(F.col("jaccard") >= verify_threshold)


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

SIMHASH_BITS = 32


def simhash(col: Column, bits: int = SIMHASH_BITS) -> Column:
    """Sign-of-weighted-bits signature over distinct normalized tokens.
    Token hashes are computed once (array of 60-bit ints); bit b of the
    signature is 1 iff sum over tokens of (2·bit_b(h) − 1) > 0."""
    toks = F.array_distinct(tokens(normalize_text(col)))
    hashes = F.transform(
        toks,
        lambda t: F.conv(F.substring(F.md5(t), 1, 15), 16, 10).cast("long"),
    )
    def _vote_fn(bit: int):
        mask = F.lit(1 << bit).cast("long")
        return lambda acc, h: acc + F.when(
            h.bitwiseAND(mask) != 0, F.lit(1)
        ).otherwise(F.lit(-1))

    out = F.lit(0).cast("long")
    for b in range(bits):
        vote = F.aggregate(hashes, F.lit(0).cast("long"), _vote_fn(b))
        out = out + F.when(vote > 0, F.lit(1 << b).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
    return out


def oracle_simhash(expr: str, bits: int = SIMHASH_BITS) -> str:
    from duckdb_distributed_execution_spark.operators.text import oracle_normalize

    toks = f"list_distinct(regexp_split_to_array({oracle_normalize(expr)}, '\\s+'))"
    hashes = (
        f"list_transform({toks}, t -> CAST('0x' || substr(md5(t), 1, 15) AS BIGINT))"
    )
    terms = []
    for b in range(bits):
        vote = (
            f"list_reduce(list_transform({hashes}, h -> ((h >> {b}) & 1) * 2 - 1), "
            f"(a, b) -> a + b)"
        )
        terms.append(f"(CASE WHEN {vote} > 0 THEN {1 << b} ELSE 0 END)")
    return "(" + " + ".join(terms) + ")"


def simhash_df(
    df: DataFrame, id_col: str, text_col: str, bits: int = SIMHASH_BITS,
    keep_cols: list[str] | None = None,
) -> DataFrame:
    """Bulk SimHash via explode → groupBy: one codegen'd md5 per
    distinct token, ±1 bit votes summed as plain integer aggregates
    (commutative → identical at any partition count), sign bits folded
    into the signature. ~10× faster than the Column-lambda form on a
    corpus."""
    para = df.sparkSession.sparkContext.defaultParallelism
    keep = list(keep_cols or [])
    tok = df.repartition(para, id_col).select(
        F.col(id_col).alias("doc"),
        *[F.col(c) for c in keep],
        F.explode(F.array_distinct(tokens(normalize_text(F.col(text_col))))).alias("t"),
    )
    # Vote/fold expressions ship as SQL strings (r9 expression-twin
    # discipline): the Column-by-Column build of ``bits`` vote columns
    # + ``bits`` sums + the ``bits``-term signature fold cost ~600
    # py4j round trips at bits=60 (~3 s of pure plan construction at
    # any scale); one JVM parse per select builds identical trees.
    # The L suffixes keep every literal BIGINT like the
    # F.lit(...).cast("long") originals. keep names are backtick-quoted
    # so a reserved-word or non-identifier column parses like the old
    # F.col() path did (r10 advice).
    keep_q = [f"`{c}`" for c in keep]
    votes = tok.selectExpr(
        "doc",
        *keep_q,
        "CAST(conv(substring(md5(t), 1, 15), 16, 10) AS BIGINT) AS __h",
    ).selectExpr(
        "doc",
        *keep_q,
        *[
            f"((SHIFTRIGHT(__h, {b}) & 1) * 2 - 1) AS v_{b}"
            for b in range(bits)
        ],
    )
    agg = votes.groupBy("doc", *[F.col(c) for c in keep]).agg(
        *[F.expr(f"sum(v_{b})").alias(f"v_{b}") for b in range(bits)]
    )
    fold = " + ".join(
        f"(CASE WHEN v_{b} > 0 THEN {1 << b}L ELSE 0L END)"
        for b in range(bits)
    )
    return agg.selectExpr("doc", *keep_q, f"(0L + {fold}) AS simhash")


def simhash_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_hamming: int = 3,
    block_col: str | None = None,
    bits: int = SIMHASH_BITS,
) -> DataFrame:
    """Pairs whose simhash Hamming distance ≤ max_hamming, generated
    by pigeonhole bit-chunk banding (VERDICT r1 scale fix).

    The signature is split into ``max_hamming + 1`` disjoint bit
    chunks; any pair within Hamming radius r differs in ≤ r bits, so
    it must agree *exactly* on at least one chunk — an equi-join per
    chunk finds every qualifying pair with zero recall loss (same
    candidate-generation shape as MinHash-LSH banding above, but
    lossless). Candidates are verified by bit_count(xor) and
    deduplicated (a pair can collide in several chunks).

    At 100 TB this is the plan that survives: the join key is
    (chunk_idx, chunk_value) with ~2^(bits/(r+1)) distinct values per
    chunk — a plain shuffled hash join — instead of the O(n²)-per-block
    self-join a coarse blocking column degenerates to. ``block_col``
    (optional) further restricts pairs to equal block values, applied
    as a post-join filter so it cannot reintroduce the quadratic
    blow-up.

    SCALE THE SIGNATURE WIDTH WITH THE CORPUS: expected bucket
    occupancy is n / 2^(bits/(r+1)), and per-bucket candidate work is
    quadratic in occupancy (banding is lossless, so unlike MinHash-LSH
    there is no bucket cap to hide behind). 32 bits / r=3 → 8-bit
    chunks → fine to ~10⁵ docs; pass ``bits=60`` (15-bit chunks,
    32k values each) for corpus scale — the md5-derived token hash
    already carries 60 bits, so wider signatures cost nothing extra
    per token."""
    sig = simhash_df(df, id_col, text_col, bits=bits,
                     keep_cols=[block_col] if block_col else None)
    n_chunks = max_hamming + 1
    base, extra = divmod(bits, n_chunks)
    # chunk i covers [lo_i, lo_i + w_i) with widths as even as possible
    lows, widths = [], []
    lo = 0
    for i in range(n_chunks):
        w = base + (1 if i < extra else 0)
        lows.append(lo)
        widths.append(w)
        lo += w
    chunk_vals = F.array(*[
        F.shiftright(F.col("simhash"), lows[i])
        .bitwiseAND(F.lit((1 << widths[i]) - 1))
        for i in range(n_chunks)
    ])
    exploded = sig.select(
        F.col("doc"),
        F.col("simhash"),
        *([F.col(block_col)] if block_col else []),
        F.posexplode(chunk_vals).alias("ci", "cv"),
    )
    a = exploded.select(
        F.col("doc").alias("id_a"), F.col("simhash").alias("sh_a"),
        *([F.col(block_col).alias("__blk_a")] if block_col else []),
        "ci", "cv",
    )
    b = exploded.select(
        F.col("doc").alias("id_b"), F.col("simhash").alias("sh_b"),
        *([F.col(block_col).alias("__blk_b")] if block_col else []),
        "ci", "cv",
    )
    pairs = a.join(b, on=["ci", "cv"]).filter(F.col("id_a") < F.col("id_b"))
    if block_col:
        pairs = pairs.filter(F.col("__blk_a") == F.col("__blk_b"))
    ham = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    return (
        pairs.select("id_a", "id_b", ham.cast("long").alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


# ---------------------------------------------------------------------------
# Exact set-similarity join (AllPairs/PPJoin prefix filtering)
# ---------------------------------------------------------------------------


def setsim_prefix_join(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_n: int = 2,
    threshold: float = 0.12,
) -> DataFrame:
    """EXACT all-pairs Jaccard >= threshold via prefix filtering
    (Bayardo et al. "Scaling Up All Pairs Similarity Search";
    Chaudhuri et al. SSJoin) — the deterministic complement to
    MinHash-LSH: no false negatives by construction, no bands to
    tune.

    Every document's shingles are ordered by GLOBAL rarity (corpus
    frequency ascending, token tiebreak); a doc of size s only emits
    its first s - ceil(t*s) + 1 tokens (its "prefix"). Lemma: two
    sets with Jaccard >= t must overlap in >= ceil(t*max(|a|,|b|))
    elements, and two sorted sets overlapping that much must collide
    within these prefixes — so the equi-join on prefix tokens loses
    nothing. Because the global order puts RARE tokens first, prefix
    buckets are the rarest tokens of each doc and stay small — the
    candidate join is bounded by rare-token co-occurrence, not by
    vocabulary heavy hitters (a stop-word shingle never lands in a
    prefix unless a doc is almost all stop-words). Candidates then
    pay one exact verify.

    Shuffles: token-frequency aggregate, the per-doc ranking window
    (keyed by doc), the prefix equi-join (keyed by token), and the
    verify joins (keyed by id) — all bounded-key exchanges; nothing
    all-pairs. At extreme scale the standard extensions (positional
    filtering, suffix filtering) drop candidates further without
    changing the exactness contract.
    """
    t = threshold
    # sh feeds the tokenization AND both verify joins; pre is both
    # sides of the candidate self-join — lazy persist so the shingle
    # regexes and the freq+window subtree are computed once (same
    # rationale as minhash_lsh_pairs' persist).
    sh = persist_tracked(
        df.select(
            F.col(id_col).alias("doc"),
            word_shingles(F.col(text_col), shingle_n).alias("sh"),
        ).filter(F.size("sh") > 0),
        StorageLevel.MEMORY_AND_DISK,
    )
    sized = sh.withColumn("sz", F.size("sh"))
    tok = sized.select("doc", "sz", F.explode("sh").alias("tk"))
    freq = tok.groupBy("tk").agg(F.count(F.lit(1)).alias("f"))
    rw = Window.partitionBy("doc").orderBy("f", "tk")
    pre = persist_tracked(
        tok.join(freq, "tk")
        .withColumn("rn", F.row_number().over(rw))
        .filter(
            F.col("rn")
            <= F.col("sz") - F.ceil(F.lit(t) * F.col("sz")) + 1
        )
        .select("tk", "doc", "sz"),
        StorageLevel.MEMORY_AND_DISK,
    )
    pre_b = pre.select(
        F.col("tk"),
        F.col("doc").alias("doc_b"),
        F.col("sz").alias("sz_b"),
    )
    cand = (
        pre.join(pre_b, "tk")
        .filter(
            (F.col("doc") < F.col("doc_b"))
            # length filter: J >= t forces size ratio >= t
            & (F.col("sz_b").cast("double") >= F.lit(t) * F.col("sz"))
            & (F.col("sz").cast("double") >= F.lit(t) * F.col("sz_b"))
        )
        .select(F.col("doc").alias("id_a"), F.col("doc_b").alias("id_b"))
        .distinct()
    )
    a = sh.select(F.col("doc").alias("id_a"), F.col("sh").alias("sh_a"))
    b = sh.select(F.col("doc").alias("id_b"), F.col("sh").alias("sh_b"))
    return (
        cand.join(a, "id_a")
        .join(b, "id_b")
        .select(
            "id_a", "id_b",
            jaccard(F.col("sh_a"), F.col("sh_b")).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= t)
    )


# ---------------------------------------------------------------------------
# Exact-substring span dedup — the actual text surgery (round-4 verdict
# task 6). Lee et al., "Deduplicating Training Data Makes Language
# Models Better" (ACL 2022) do this with suffix arrays on one machine;
# the join-based distributed equivalent below chains positional k-gram
# matches along pair diagonals, which finds EXACTLY the maximal shared
# substrings of >= (min_run + k - 1) tokens (if doc B positions
# p..p+r match doc A positions q..q+r gram-for-gram on one diagonal,
# the underlying token spans are equal verbatim — trigram overlap
# forces every token to agree).
# ---------------------------------------------------------------------------


def positional_word_kgrams(col: Column, k: int) -> Column:
    """Array of word ``k``-grams in position order (index i covers
    tokens i..i+k-1); docs under k tokens yield an empty array."""
    toks = tokens(col)
    n = F.size(toks)
    # sequence(1, m) DESCENDS when m < 1 — guard short docs to empty.
    idx = F.when(
        n >= k, F.sequence(F.lit(1), n - (k - 1))
    ).otherwise(F.expr("array()").cast("array<int>"))
    return F.transform(
        idx, lambda i: F.array_join(F.slice(toks, i, k), " ")
    )


def substring_cut_spans(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_run: int = 4,
    max_postings: int | None = None,
) -> DataFrame:
    """Per-doc REMOVED-SPAN offsets for corpus-internal exact-substring
    dedup: every merged token span of a doc that duplicates, verbatim,
    a >= (min_run + 2)-token span of some EARLIER doc (lower id — the
    keep-first convention every dedup family here uses). Returns
    (doc_id, span_start, span_end, n_tokens, src_doc): 1-based
    inclusive token offsets plus the earliest source doc contributing
    a run to the merged span. This emits the surgery itself —
    ``substring_cut_text`` applies it.

    Plan: positional ``k``-grams with k = min_run + 2 (the MINIMUM
    SPAN LENGTH itself) self-join on the gram, matches chain along
    (b_doc, a_doc, b_pos - a_pos) DIAGONALS with the gaps-and-islands
    idiom (same machinery as contamination_span_max, applied
    doc-vs-doc); every maximal diagonal run is an exact shared
    substring of run_len + k - 1 tokens; per-doc overlapping/adjacent
    intervals then merge with one running-max window keyed by the
    high-cardinality doc id. All shuffles key on grams or doc ids.

    Seeding with k-grams instead of trigrams-with-run>=min_run is
    PROVABLY equivalent (a span of >= k shared tokens contains a
    k-gram match at every position, and any k-gram match IS k shared
    tokens) but changes the join complexity class on realistic data:
    the round-5 sf1 probe measured the trigram form at Theta(sum of
    posting^2) = 393 s on a 50k-doc organic corpus whose 31-word
    vocabulary makes every TRIGRAM common (~90 postings each), while
    6-gram postings are near-unique outside true duplication — the
    same organic corpus runs in ~8 s, output-bound. This is the
    join-based analog of why suffix-array dedup matches long
    substrings directly rather than assembling them from short ones.

    Scale: at 100 TB, residual ultra-common k-grams (boilerplate
    sentences) still fatten postings; cap them via ``max_postings``
    (grams in more docs than the cap are dropped as span SEEDS —
    spans consisting ONLY of such boilerplate are missed, the
    documented recall trade; mirror the cap in any oracle).

    The gram explode is the CPU-heavy map stage and inherits the
    scan's partitioning — text parquet compresses so well that a
    whole corpus can arrive in a handful of splits (the sf1 probe
    read 50k docs as 2 partitions and serialized the explode: 62 s;
    rebalanced, 7.2 s — flat vs sf0.1). Inputs narrower than the
    cluster are repartitioned up front; many-split 100 TB inputs skip
    this (the check is on partition count, not size)."""
    k = min_run + 2
    parallelism = docs.sparkSession.sparkContext.defaultParallelism
    if docs.rdd.getNumPartitions() < parallelism:
        docs = docs.repartition(parallelism)
    gp = docs.select(
        F.col(id_col).alias("doc"),
        F.posexplode(
            positional_word_kgrams(F.col(text_col), k)
        ).alias("pos0", "g"),
    ).select("doc", (F.col("pos0") + 1).alias("pos"), "g")
    if max_postings is not None:
        ok = (
            gp.groupBy("g")
            .agg(F.count(F.lit(1)).alias("__n"))
            .filter(F.col("__n") <= max_postings)
            .select("g")
        )
        gp = gp.join(ok, on="g", how="left_semi")
    a = gp.select(
        F.col("doc").alias("a_doc"), F.col("pos").alias("a_pos"), "g"
    )
    b = gp.select(
        F.col("doc").alias("b_doc"), F.col("pos").alias("b_pos"), "g"
    )
    m = (
        b.join(a, on="g")
        .filter(F.col("a_doc") < F.col("b_doc"))
        .select(
            "b_doc", "b_pos", "a_doc",
            (F.col("b_pos") - F.col("a_pos")).alias("diag"),
        )
    )
    return _chain_and_merge_spans(m, k, id_col)


def _chain_and_merge_spans(m: DataFrame, k: int, id_col: str) -> DataFrame:
    """Shared tail of the substring-cut family: diagonal
    gaps-and-islands over the (b_doc, b_pos, a_doc, diag) match
    relation, then per-doc interval merge."""
    wd = Window.partitionBy("b_doc", "a_doc", "diag").orderBy("b_pos")
    runs = m.withColumn(
        "grp", F.col("b_pos") - F.row_number().over(wd)
    )
    seg = (
        runs.groupBy("b_doc", "a_doc", "diag", "grp")
        .agg(
            F.min("b_pos").alias("st"),
            (F.max("b_pos") + (k - 1)).alias("en"),
        )
        .select("b_doc", "a_doc", "st", "en")
    )
    # Interval merge per doc: running max end over (st, en, a_doc)
    # order; a new island starts when this interval neither overlaps
    # nor touches everything before it. Duplicate (st, en, a_doc)
    # rows from different diagonals are harmless: the island sum uses
    # the default RANGE frame, so tied rows share one island id.
    wo = Window.partitionBy("b_doc").orderBy("st", "en", "a_doc")
    prevmax = F.max("en").over(wo.rowsBetween(Window.unboundedPreceding, -1))
    flagged = seg.withColumn(
        "__new",
        F.when(
            prevmax.isNull() | (F.col("st") > prevmax + 1), 1
        ).otherwise(0),
    )
    isl = flagged.withColumn("__island", F.sum("__new").over(wo))
    return (
        isl.groupBy("b_doc", "__island")
        .agg(
            F.min("st").alias("span_start"),
            F.max("en").alias("span_end"),
            F.min("a_doc").alias("src_doc"),
        )
        .select(
            F.col("b_doc").alias(id_col),
            F.col("span_start").cast("long").alias("span_start"),
            F.col("span_end").cast("long").alias("span_end"),
            (F.col("span_end") - F.col("span_start") + 1)
            .cast("long")
            .alias("n_tokens"),
            F.col("src_doc").cast("long").alias("src_doc"),
        )
    )


def substring_cut_spans_incremental(
    corpus: DataFrame,
    new_docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_run: int = 4,
    max_postings: int | None = None,
) -> DataFrame:
    """Delta-mode substring surgery — the production shape (a daily
    crawl increment deduped against the accumulated corpus): removed
    spans for NEW docs only, where a span duplicates either ANY
    corpus doc (always "earlier", regardless of id) or an
    earlier-by-id new doc. The corpus itself is never re-deduped and
    never appears on the b-side, so per-increment work is
    Θ(new grams + matched corpus postings) — delta-sized, like the
    other incremental operators (Engine.create_incremental_rollup,
    the dedup registry). Ids must be disjoint across the two frames;
    when corpus ids are all below new ids this equals the full
    ``substring_cut_spans`` of the union restricted to new docs
    (property-pinned in tests). Same k-gram seeding, chaining, and
    interval merge as the batch form."""
    k = min_run + 2
    parallelism = corpus.sparkSession.sparkContext.defaultParallelism

    def grams(df: DataFrame) -> DataFrame:
        if df.rdd.getNumPartitions() < parallelism:
            df = df.repartition(parallelism)
        return df.select(
            F.col(id_col).alias("doc"),
            F.posexplode(
                positional_word_kgrams(F.col(text_col), k)
            ).alias("pos0", "g"),
        ).select("doc", (F.col("pos0") + 1).alias("pos"), "g")

    gp_new = grams(new_docs)
    gp_a = grams(corpus).withColumn("__old", F.lit(1)).unionByName(
        gp_new.withColumn("__old", F.lit(0))
    )
    if max_postings is not None:
        ok = (
            gp_a.groupBy("g")
            .agg(F.count(F.lit(1)).alias("__n"))
            .filter(F.col("__n") <= max_postings)
            .select("g")
        )
        gp_a = gp_a.join(ok, on="g", how="left_semi")
        gp_new = gp_new.join(ok, on="g", how="left_semi")
    a = gp_a.select(
        F.col("doc").alias("a_doc"), F.col("pos").alias("a_pos"),
        "g", "__old",
    )
    b = gp_new.select(
        F.col("doc").alias("b_doc"), F.col("pos").alias("b_pos"), "g"
    )
    m = (
        b.join(a, on="g")
        .filter((F.col("__old") == 1) | (F.col("a_doc") < F.col("b_doc")))
        .select(
            "b_doc", "b_pos", "a_doc",
            (F.col("b_pos") - F.col("a_pos")).alias("diag"),
        )
    )
    return _chain_and_merge_spans(m, k, id_col)


def substring_cut_text(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_run: int = 4,
    max_postings: int | None = None,
) -> DataFrame:
    """Apply the surgery: the corpus with every removed span cut out.
    Returns (doc_id, n_tokens_orig, n_tokens_kept, text_dedup) — docs
    without spans pass through whole; a fully-duplicated doc comes back
    with an empty string. Tokens survive iff no merged span covers
    their position; the doc-keyed anti-join is an equi-join on the doc
    id with a range post-filter (spans per doc are few)."""
    spans = substring_cut_spans(docs, id_col, text_col, min_run, max_postings)
    return _apply_cut(docs, spans, id_col, text_col)


def substring_cut_text_incremental(
    corpus: DataFrame,
    new_docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_run: int = 4,
    max_postings: int | None = None,
) -> DataFrame:
    """Delta-mode surgery applied: the NEW increment with its removed
    spans cut out (the corpus passes through untouched and is not
    returned — append the result to it). Same composability invariant
    as substring_cut_spans_incremental."""
    spans = substring_cut_spans_incremental(
        corpus, new_docs, id_col, text_col, min_run, max_postings
    )
    return _apply_cut(new_docs, spans, id_col, text_col)


def _apply_cut(
    docs: DataFrame, spans: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    """Shared surgery application: drop tokens covered by any span,
    re-join the remainder in order."""
    # Same compressed-scan rebalance as substring_cut_spans — the
    # token explode is this function's own heavy map stage.
    parallelism = docs.sparkSession.sparkContext.defaultParallelism
    if docs.rdd.getNumPartitions() < parallelism:
        docs = docs.repartition(parallelism)
    tp = docs.select(
        F.col(id_col).alias("doc"),
        F.posexplode(tokens(F.col(text_col))).alias("pos0", "tok"),
    ).select("doc", (F.col("pos0") + 1).alias("tpos"), "tok")
    s = spans.select(
        F.col(id_col).alias("s_doc"), "span_start", "span_end"
    )
    kept = tp.join(
        s,
        (F.col("doc") == F.col("s_doc"))
        & (F.col("tpos") >= F.col("span_start"))
        & (F.col("tpos") <= F.col("span_end")),
        "left_anti",
    )
    rebuilt = kept.groupBy("doc").agg(
        F.count(F.lit(1)).cast("long").alias("n_tokens_kept"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("tpos", "tok"))),
                lambda x: x["tok"],
            ),
            " ",
        ).alias("text_dedup"),
    )
    base = docs.select(
        F.col(id_col).alias("doc"),
        F.size(tokens(F.col(text_col))).cast("long").alias("n_tokens_orig"),
    )
    return (
        base.join(rebuilt, on="doc", how="left")
        .select(
            F.col("doc").alias(id_col),
            "n_tokens_orig",
            F.coalesce("n_tokens_kept", F.lit(0).cast("long")).alias(
                "n_tokens_kept"
            ),
            F.coalesce("text_dedup", F.lit("")).alias("text_dedup"),
        )
    )
