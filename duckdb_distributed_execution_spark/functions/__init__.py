"""Column-level helper functions — all JVM-side built-ins.

Two concerns live here:

1. **Deterministic aggregation** — floating-point SUM/AVG depend on
   accumulation order, which differs between engines and between runs
   at different partition counts. ``exact_sum``/``exact_avg`` route
   double columns through exact decimal arithmetic so results are
   bit-identical across Spark and the DuckDB oracle (and across
   cluster sizes — a correctness property the reference never had:
   its AVG merge is self-admittedly wrong,
   result_merger.cpp:42-45).

2. **Vector math for the similarity/dedup operators** — cosine/dot
   products over ``array<float>`` columns using ``F.zip_with`` +
   ``F.aggregate``. These higher-order functions run INTERPRETED on
   the JVM (they break whole-stage codegen), but they still beat
   row-at-a-time Python UDFs by avoiding serialization; for hot
   verify paths use the Arrow-batched numpy matmul variants in
   operators/similarity.py (``cosine_verify_numpy``) instead.

It also holds the operator plumbing: tracked persists, the one scale
gate (``small_input``: does a frame read more than
``SMALL_INPUT_BYTES``?), the runner of the size-gated fused
single-task kernels (``fused_single_task``) and small driver-side
relations (``local_rows_df``).
"""

from __future__ import annotations

import re
import weakref

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

# Operator-internal lazy persists (the minhash/ngram/setsim signature
# relations, the k-core edge list, the BPE merge-loop state) are never
# unpersisted by their lazy consumers, so a long-lived multi-query
# session accumulates cached relations (guide §5: unpersist when
# done; bench.py and the plan-pin tests clearCache around them, but a
# real Engine session has no such sweep). Every such persist registers
# here and Engine.release_operator_caches() unpersists them without
# touching user-managed caches (cache_table / persist calls outside
# the operators). Weak-keyed by the session object so a dropped
# session frees its entries; the values are the JVM Dataset handles
# (``df._jdf``), not the Python DataFrames, because a DataFrame holds
# its session and would keep the weak key alive forever.
_TRACKED_PERSISTS: "weakref.WeakKeyDictionary" = weakref.WeakKeyDictionary()


def persist_tracked(df, level=None):
    """``df.persist(level)`` + registration for facade-level release.
    ``level=None`` keeps pyspark's own default storage level."""
    df = df.persist() if level is None else df.persist(level)
    _TRACKED_PERSISTS.setdefault(df.sparkSession, []).append(df._jdf)
    return df


def release_operator_persists(spark) -> int:
    """Unpersist every operator-internal tracked persist on this
    session (blocking=False — async block drop, as
    ``DataFrame.unpersist()`` does by default). Returns the number of
    relations released."""
    jdfs = _TRACKED_PERSISTS.pop(spark, [])
    for jdf in jdfs:
        jdf.unpersist(False)
    return len(jdfs)


# The one small-input threshold: every plan with a small-scale form
# (a fused single-task kernel, the JVM form of a text plan, no
# join-strategy hint) takes it exactly when small_input() holds for
# the frame it reads: each twin operator asks about its own input, only
# tokens_per_lang_topk and tpch_q9_partsupp in the query. Patch it to
# force a branch (-1: every gate large, 1 << 40: every gate small;
# join_multi_star reads SHUFFLE_HASH_GATE_BYTES). Measured input_bytes:
#
#   input        sf0.001   sf0.01    sf0.1      sf1
#   documents    65,515    65,049    594,568    5,971,357
#   embeddings   193,646   193,638   798,695    5,877,098
#   orders       36,647    281,398   2,723,766  25,716,528
#
# (a frame scanning its table twice, like the simhash pair edges,
# counts it twice). 4 MiB puts sf<=0.1 on the small side and sf1 on
# the large side for all three tables, which is all the per-query
# measurements behind the gates support: each was tuned at sf0.1 and
# sf1 only, and some sat at 2 MiB (dedup_exact, text_quality) or 8 MiB
# (tpch_q9_partsupp), so between those scales the choice is unmeasured.
SMALL_INPUT_BYTES = 4 * 1024 * 1024

# join_multi_star's gate: orders above this (sf10; sf1 is 25.7 MB) is
# far beyond any broadcast budget, so the query takes its rewrite with
# the fact join pinned to the sort-free SHUFFLE_HASH form; below it the
# simple broadcast plan wins (the rewrite lost at sf0.1 and local sf1,
# with or without the hint).
SHUFFLE_HASH_GATE_BYTES = 64 * 1024 * 1024


def input_bytes(df) -> int:
    """Bytes ``df`` reads: Catalyst's size estimate summed over the
    leaves of its ANALYZED plan (for a parquet scan, its files; 1-3 ms,
    where optimizing the plan would cost 5-160 ms). A leaf without file
    statistics reads as large: a driver-side relation reports
    Long.MaxValue, a checkpoint the optimizer's estimate of the plan
    it replaced (hundreds of MB for the sf0.01 simhash pair edges)."""
    leaves = df._jdf.queryExecution().analyzed().collectLeaves()
    return sum(
        int(leaves.apply(i).stats().sizeInBytes())
        for i in range(leaves.size())
    )


def small_input(df) -> bool:
    """The scale gate. Reads SMALL_INPUT_BYTES at call time, so a test
    can force either branch by patching it."""
    return input_bytes(df) <= SMALL_INPUT_BYTES


# Defensive ceiling for the size-gated fused single-task kernels
# (guide §1.2). Every operator routes to a fused kernel only below
# the small_input gate (4 MiB, ≲50k rows in this repo's corpora), but
# the kernels themselves must defend: a future caller passing a large
# relation would otherwise get a silent one-task death march.
# Counted at RUNTIME inside the kernel (driver-side Catalyst estimates
# are unknown for mid-pipeline relations), ~40× above any gated input
# so it can only fire on misuse.
FUSED_KERNEL_MAX_ROWS = 2_000_000


def check_fused_input_rows(n_rows: int, what: str, limit: int) -> None:
    """Raise if a single-task fused kernel received more rows than any
    gated caller can send — fail loudly instead of serializing a
    large corpus through one task (r9 verdict, What's wrong #5).
    ``fused_single_task`` reads ``limit`` from FUSED_KERNEL_MAX_ROWS
    driver-side, where the operator is built, so tests can lower it;
    executor workers re-import this module and would not see a
    monkeypatched value."""
    if n_rows > limit:
        raise RuntimeError(
            f"{what}: fused single-task kernel received {n_rows} rows "
            f"(max {limit}); this path exists for inputs under the "
            "~4 MB scale gate — route large inputs through the "
            "distributed form"
        )


def fused_single_task(df, kernel, schema: str, what: str):
    """Run a size-gated fused kernel: ``df`` coalesced to ONE task,
    its non-empty Arrow batches concatenated into one pandas frame,
    the row guard applied, then ``kernel(pdf)``, which returns the
    output frame or None for no rows. A caller that must keep its
    upstream stage parallel passes ``df.repartition(1)``; the
    optimizer folds this coalesce into it."""
    limit = FUSED_KERNEL_MAX_ROWS  # captured driver-side

    def run(batches):
        import pandas as pd

        parts = [p for p in batches if len(p)]
        if not parts:
            return
        pdf = pd.concat(parts, ignore_index=True) if len(parts) > 1 else parts[0]
        check_fused_input_rows(len(pdf), what, limit)
        out = kernel(pdf)
        if out is not None:
            yield out

    return df.coalesce(1).mapInPandas(run, schema=schema)


def local_rows_df(spark, rows, schema):
    """Small driver-side relation as a DataFrame in as few slices as
    its rows need (one per ~10k rows). ``createDataFrame(list,
    schema)`` parallelizes the pickled rows into defaultParallelism
    slices, and every plan execution reads each slice through its own
    Python-worker round trip. The cost of that round trip was not the
    JVM↔Python boundary: each one began with pyspark re-reading every
    zip directory the worker had imported (``pyworker``), ~0.2 s of
    CPU. Measured on a 4-core host, ``count()`` of a 10-row relation
    at local[4]: 4 slices 0.91 s CPU / 0.38 s wall, after a
    ``coalesce(1)`` 0.74 s wall (the slices read one after another),
    1 slice 0.29 s CPU / 0.27 s wall. With the re-reads gone
    (``Engine.start_local``): 4 slices 0.19 s CPU / 0.19 s wall,
    coalesced 0.24 s wall, 1 slice 0.10 s CPU / 0.13 s wall — what is
    left is ~0.03 s of task set-up per slice. Use for every
    broadcast-lookup/offset/centroid-style relation built from
    driver-side rows."""
    rows = list(rows)
    n = max(
        1,
        min(
            len(rows) // 10_000 + 1,
            spark.sparkContext.defaultParallelism,
        ),
    )
    if isinstance(schema, str):
        schema = T.StructType.fromDDL(schema)
    return spark.createDataFrame(
        spark.sparkContext.parallelize(rows, n), schema
    )

# Scale 6 losslessly represents any value that originated as a
# ≤2-decimal literal or a product of up to three of them (2+2+2
# decimals), so the double→decimal cast never sits on a rounding tie
# and both engines land on the same decimal. 28 digits total keeps
# sums of ~1e16 such values in range.
EXACT_DECIMAL = "decimal(28,6)"


# Fixed-point scale for the fast exact path: 10^6 covers any value
# that originated as a ≤2-decimal literal or a product of up to three
# of them.
_SCALE = 1_000_000.0


def exact_sum(col: Column | str, wide: bool = False) -> Column:
    """Order-independent SUM for double columns, surfaced as DOUBLE.

    Fast path (default): scale to 6 fixed decimals, snap to LONG via
    ``floor(x·10⁶ + 0.5)``, sum longs (whole-stage-codegen primitive),
    divide back. Exact because the scaled values are integers and long
    addition is associative; Spark runs ANSI mode, so a sum beyond
    ±2^63 (≈9.2e12 in value units) raises ARITHMETIC_OVERFLOW rather
    than wrapping — pass ``wide=True`` to use DECIMAL(28,6)
    accumulation (range 1e22) for columns whose global sum can exceed
    that, e.g. petabyte-scale money totals.

    Why floor-plus-half instead of ``round()``: Spark's round(double)
    drops out of codegen into a per-row BigDecimal conversion — the
    floor form is ~2× faster on an aggregation-bound scan (measured
    at sf0.1) and stays in Math.floor. Tie semantics become
    round-half-toward-+∞ for negatives, but values that originated as
    ≤2-decimal literals (or products of up to three) never sit on the
    micro-scale tie boundary, and the oracle computes the *identical*
    IEEE expression, so cross-engine parity is bit-exact either way.

    Oracle form: ``(SUM(CAST(floor(x * 1000000.0 + 0.5) AS BIGINT)) /
    1000000.0)`` — DuckDB sums into int128, and both engines convert
    the identical integer to double before the final division."""
    c = F.col(col) if isinstance(col, str) else col
    if wide:
        return F.sum(c.cast(EXACT_DECIMAL)).cast("double")
    return F.sum(F.floor(c * F.lit(_SCALE) + F.lit(0.5))) / F.lit(_SCALE)


def exact_sum_partial(col: Column | str) -> Column:
    """Scaled-long PARTIAL of exact_sum for aggregation-below-join
    rewrites: ``sum(floor(x·10⁶ + 0.5))`` kept as a LONG so a later
    ``exact_sum_final`` can re-aggregate the partials exactly (long
    addition is associative — regrouping partial sums is lossless,
    which a double partial would not be). Use when a fact table is
    collapsed per join key before the shuffle and the true group key
    only becomes available after the join."""
    c = F.col(col) if isinstance(col, str) else col
    return F.sum(F.floor(c * F.lit(_SCALE) + F.lit(0.5)))


def exact_sum_final(col: Column | str) -> Column:
    """FINAL of exact_sum over exact_sum_partial columns — surfaced
    as DOUBLE, bit-identical to a one-shot exact_sum over the
    original rows (and to oracle_exact_sum)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.sum(c) / F.lit(_SCALE)


def exact_avg(col: Column | str, wide: bool = False) -> Column:
    """Order-independent AVG: exact sum divided by count, both doubles
    — a single IEEE division, identical on any engine."""
    c = F.col(col) if isinstance(col, str) else col
    return exact_sum(c, wide=wide) / F.count(c)


def spark_exact_sum(expr: str) -> Column:
    """Single-parse Spark-SQL twin of ``exact_sum`` over an expression
    STRING — one py4j round trip instead of ~8 Column calls. Round-9
    profiling showed Python-side plan construction was ~25% of the
    sf0.1 bench wall, nearly all py4j socket latency; the hot builders
    now ship one SQL string per aggregate and let the JVM parser build
    the tree. The ``D`` suffixes are load-bearing: a bare
    ``1000000.0`` parses as DECIMAL(8,1) in SQL text and silently
    retypes the whole aggregate to decimal — with ``D`` every
    intermediate is a DOUBLE, and the result is bit-identical to the
    Column form (pinned in tests/test_properties.py)."""
    return F.expr(
        f"(sum(CAST(floor(({expr}) * 1000000.0D + 0.5D) AS BIGINT))"
        " / 1000000.0D)"
    )


def spark_exact_avg(expr: str) -> Column:
    """Single-parse twin of ``exact_avg`` (see spark_exact_sum)."""
    return F.expr(
        f"((sum(CAST(floor(({expr}) * 1000000.0D + 0.5D) AS BIGINT))"
        f" / 1000000.0D) / count({expr}))"
    )


def oracle_exact_sum(expr: str, wide: bool = False) -> str:
    """DuckDB SQL text mirroring exact_sum()."""
    if wide:
        return f"CAST(SUM(CAST({expr} AS DECIMAL(28,6))) AS DOUBLE)"
    return (
        f"(SUM(CAST(floor(({expr}) * 1000000.0 + 0.5) AS BIGINT))"
        " / 1000000.0)"
    )


def oracle_exact_avg(expr: str, wide: bool = False) -> str:
    return f"({oracle_exact_sum(expr, wide)} / COUNT({expr}))"


def exact_avg_rounded(col: Column | str) -> Column:
    """AVG rounded to 6 decimals with the round-half-away decision
    made in INTEGER space — engine-exact even when the true quotient
    sits exactly on a rounding boundary.

    ``ROUND(avg_double, 6)`` is NOT portable there: Spark rounds the
    shortest decimal repr of the double (BigDecimal HALF_UP), DuckDB
    rounds in binary — with micro-scaled integer sums the quotient
    lands exactly on *.5 micros often enough to matter (seen at
    sf0.1: 192-vector centroid off by 1e-6). Here:
    q = (2·|S| + n) int-div (2·n), micro = sign(S)·q — pure long
    arithmetic both engines compute identically: the int-div is
    Spark's integral ``div`` ≡ DuckDB ``//``, so the quotient stays
    in integer space end-to-end (no 2^53 double-mantissa ceiling; the
    one remaining bound is 2·|S|+n overflowing int64, which ANSI mode
    raises on rather than wrapping — same contract as exact_sum)."""
    c = F.col(col) if isinstance(col, str) else col
    s = F.sum(F.floor(c * F.lit(_SCALE) + F.lit(0.5)))
    n = F.count(c)
    x = F.lit(2) * F.abs(s) + n
    d = F.lit(2) * n
    q = F.call_function("div", x, d)
    micro = F.when(s >= 0, q).otherwise(-q)
    return micro.cast("double") / F.lit(_SCALE)


def oracle_exact_avg_rounded(expr: str) -> str:
    """DuckDB SQL mirroring exact_avg_rounded()."""
    s = f"CAST(SUM(CAST(floor(({expr}) * 1000000.0 + 0.5) AS BIGINT)) AS BIGINT)"
    n = f"COUNT({expr})"
    x = f"(2 * abs({s}) + {n})"
    d = f"(2 * {n})"
    q = f"CAST(({x} // {d}) AS BIGINT)"
    return (
        f"(CAST(CASE WHEN {s} >= 0 THEN {q} ELSE -{q} END AS DOUBLE)"
        " / 1000000.0)"
    )


# ---------------------------------------------------------------------------
# Vector ops (array<float|double> columns)
# ---------------------------------------------------------------------------

_REPARTITION_TRUE_RE = re.compile(r"Repartition \d+, true")


def ensure_min_parallelism(df):
    """Repartition ``df`` up to the cluster's default parallelism when
    its plan would otherwise run on fewer tasks (a single-row-group
    parquet file yields 1-2 input splits regardless of
    maxPartitionBytes, serializing any CPU-heavy stage pinned to the
    scan — interpreted higher-order folds, explode+partial-agg
    tokenization, Arrow/python stages). No-op when the input is
    already well-partitioned, so at production scale (many files/row
    groups) this never adds a shuffle; at toy/badly-compacted scale it
    trades one narrow-row shuffle for N-way compute. Call it on the
    NARROW projected relation feeding the heavy stage, not the raw
    table, so the shuffle moves minimal bytes."""
    sc = df.sparkSession.sparkContext
    # Under AQE, ``df.rdd`` FORCES execution of every upstream query
    # stage just to read a partition count — on a python-kernel chain
    # (assign→encode) that silently runs the whole chain once and
    # throws the result away (measured ~3× the real cost of the
    # wave-62 serve at sf1, round 9). When the plan already contains
    # an explicit-parallelism producer — a user repartition (shuffling
    # ``Repartition N, true`` / ``RepartitionByExpression``; AQE never
    # coalesces those) or a MapInPandas (partition-preserving, and
    # every kernel in this repo min-parallelizes its own input) — the
    # probe can't change anything: skip it. ``coalesce(n)`` renders as
    # ``Repartition n, false`` and REDUCES parallelism, so it must NOT
    # match (it is exactly the narrow-input case the helper fixes).
    plan = df._jdf.queryExecution().analyzed().toString()
    if (
        _REPARTITION_TRUE_RE.search(plan)
        or "RepartitionByExpression" in plan
        or "MapInPandas" in plan
    ):
        return df
    if df.rdd.getNumPartitions() >= sc.defaultParallelism:
        return df
    # Size the fan-out from the INPUT, not the cluster (guide §2:
    # scale-adaptive partitioning). A warm Python stage costs ~15 ms
    # of worker handshake per CONCURRENT task on top of the compute —
    # measured at local[32] on a 10-row identity mapInPandas: 32
    # tasks 0.48-0.57 s steady-state vs 8 tasks 0.24-0.32 vs 1 task
    # 0.17 — so blasting a toy input across every core is pure
    # overhead, while a starved big input serializes real compute.
    # One task per ~64 KB of estimated input (≈250 KB raw text ≈ a
    # few hundred docs ≈ 15-30 ms of kernel compute) reaches the full
    # defaultParallelism by a few MB, i.e. everywhere the fan-out
    # matters; unknown stats (MaxValue sentinel) hit the cap.
    est = int(df._jdf.queryExecution().optimizedPlan().stats()
              .sizeInBytes())
    target = min(sc.defaultParallelism, max(4, est // (64 * 1024)))
    if df.rdd.getNumPartitions() >= target:
        return df
    return df.repartition(target)


def dot_product(a: Column, b: Column) -> Column:
    """Sequential left-to-right double fold of elementwise products.

    JVM-side (no Python round-trip) but NOT whole-stage-codegen'd:
    Spark evaluates higher-order functions (aggregate/zip_with)
    interpreted (see operators/rowid.py keyed_row_number notes).
    Fine for bucket/signature passes over the corpus; for a hot
    verify stage over >~100k candidate PAIRS prefer the Arrow-batched
    numpy path (operators/similarity.py::cosine_verify_numpy) — at
    187k 64-dim pairs numpy SIMD beats the interpreted fold (measured
    round 4, see commit message)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )
