"""Connected components over a pair/edge DataFrame — the capstone of
the dedup story: near-dup detectors (MinHash-LSH, SimHash, n-gram
Jaccard) emit PAIRS, but "keep one document per duplicate cluster"
needs the transitive closure of those pairs.  The reference has no
graph operators at all (its dedup surface is zero — this is
north-star greenfield per BASELINE.json); the parity bar is the
DuckDB recursive-CTE oracle in queries/llm.py.

Algorithm: iterative hash-min label propagation ("every vertex adopts
the smallest component id any neighbor has seen"), the standard
MapReduce/Spark formulation (Kiveris et al., "Connected Components in
MapReduce and Beyond", SoCC'14 — the simple hash-min variant).  Each
iteration is one shuffle (groupBy vertex); the loop converges in
O(diameter) rounds, and near-dup clusters in a corpus are
shallow (boilerplate families — diameter a handful), so 3-6 rounds is
typical.  At 100 TB the same loop holds: labels are (long, long)
pairs — orders of magnitude smaller than the documents they
describe — and ``localCheckpoint`` every round keeps lineage flat so
round N does not replan rounds 1..N-1.
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


# Diagnostic hook: number of alternating rounds the most recent
# connected_components() call needed before its convergence check
# passed. Read by tests that pin the round count.
last_round_count = 0


def connected_components_fused(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
) -> DataFrame:
    """Single-task union-find twin of connected_components for edge
    sets below the caller's scale gate (r9, guide §1.2): the
    alternating-star loop is the designed 100 TB shape, but at toy
    scale every round costs 2 keyed shuffles + a checkpoint + a
    convergence count — ~15 jobs for a 3-round graph. This form runs
    min-id union-find over the coalesced edge list in ONE mapInPandas
    task (pure integer ops — exactly the min-reachable-id the
    recursive-CTE oracle defines; no floating point anywhere, so
    equality with the iterative path is graph-theoretic, not
    numerical). Same contract: only nodes appearing in ≥1 edge row
    are returned; self-loop-only nodes are their own component."""
    import pandas as pd

    from duckdb_distributed_execution_spark import functions as _fx
    from duckdb_distributed_execution_spark.functions import (
        check_fused_input_rows,
    )

    fused_cap = _fx.FUSED_KERNEL_MAX_ROWS  # captured driver-side
    dt = dict(edges.dtypes)
    node_t = dt[src]
    sel = edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))

    def run(batches):
        parent: dict = {}
        n_seen = 0

        def find(x):
            root = x
            while parent.get(root, root) != root:
                root = parent[root]
            while parent.get(x, x) != x:
                parent[x], x = root, parent[x]
            return root

        nodes = set()
        for pdf in batches:
            n_seen += len(pdf)
            check_fused_input_rows(
                n_seen, "connected_components_fused", fused_cap
            )
            for u, v in zip(pdf["u"], pdf["v"]):
                un, vn = u is None or pd.isna(u), v is None or pd.isna(v)
                if not un:
                    nodes.add(u)
                if not vn:
                    nodes.add(v)
                if un or vn or u == v:
                    continue
                ra, rb = find(u), find(v)
                if ra == rb:
                    continue
                if rb < ra:
                    ra, rb = rb, ra
                parent[rb] = ra  # smaller id stays root ⇒ comp = min
        if not nodes:
            return
        out = sorted(nodes)
        yield pd.DataFrame(
            {"node": out, "comp": [find(n) for n in out]}
        )

    return sel.coalesce(1).mapInPandas(
        run, schema=f"node {node_t}, comp {node_t}"
    )


def connected_components(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iterations: int = 50,
    fused: bool = False,
) -> DataFrame:
    """Return (node, component) with component = min node id reachable
    via the undirected edge set.  Only vertices that appear in at
    least one edge are returned (isolated docs are their own singleton
    cluster by definition — callers left-join and coalesce to doc_id).

    Algorithm (round 7): large-star/small-star alternation (Kiveris
    et al., "Connected Components in MapReduce and Beyond", SoCC'14,
    Alternating Algorithm) over a canonicalized (hi → lo) edge set.
    Each round is two star contractions of TWO keyed shuffles each
    (one groupBy-min, one partition-aligned join back), and the edge
    set itself converges to the star forest rooted at component
    minima — no separate label table, no per-round pointer-jump join.
    Convergence is O(log² n) rounds with the constant that matters in
    practice: shallow near-dup clusters finish in 2-3 rounds, and a
    1000-link chain in ~10, where the previous hash-min+jump loop
    (round ≤6) paid ~4 stages/round for ~2× the rounds — measured
    ~2× wall on the sf0.1 pair graphs (test_operators pins the round
    count).  Edge growth is bounded: large-star output is ≤ 2(n−1)
    edges after dedup (paper Lemma 1), so peak state never exceeds
    the bidirectional input.

    ``fused=True`` (r9) routes through connected_components_fused —
    the single-task union-find twin callers gate in below a corpus
    scale threshold (queries pass queries.small_table; the
    iterative loop stays the default and the only path above the
    gate). The fused path does not touch last_round_count."""
    global last_round_count
    if fused:
        return connected_components_fused(edges, src, dst)
    e = (
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .filter(F.col(src).isNotNull() & F.col(dst).isNotNull())
        .filter(F.col(src) != F.col(dst))
        .select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    # every endpoint (incl. self-loop-only nodes the star loop drops)
    nodes = (
        edges.select(F.col(src).alias("node"))
        .union(edges.select(F.col(dst).alias("node")))
        .filter(F.col("node").isNotNull())
        .distinct()
        .localCheckpoint(eager=True)
    )
    n_prev = e.count()
    if n_prev == 0:
        last_round_count = 0
        return nodes.withColumn("comp", F.col("node"))
    for it in range(1, max_iterations + 1):
        # -- large-star: every node u connects its LARGER neighbors to
        # m(u) = min(N(u) ∪ {u}); smaller neighborhoods are handled
        # from the other endpoint via the bidirectional expansion.
        b = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        lmin = b.groupBy("u").agg(F.min("v").alias("mv")).select(
            "u", F.least("u", "mv").alias("m")
        )
        big = (
            b.join(lmin, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .distinct()
        )
        # -- small-star: neighbors are now all ≤ u; connect them (and
        # u itself) to the minimum. Output stays canonical (u > v).
        smin = big.groupBy("u").agg(F.min("v").alias("m"))
        e_next = (
            big.join(smin, "u")
            .filter(F.col("v") != F.col("m"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .union(smin.select("u", F.col("m").alias("v")))
            .distinct()
            .localCheckpoint(eager=True)
        )
        n_next = e_next.count()
        # fixpoint ⇔ identical edge set (counts first — both sides are
        # checkpointed, so the anti-join only runs on a count match)
        if n_next == n_prev and (
            e_next.join(e, ["u", "v"], "left_anti").limit(1).count() == 0
        ):
            last_round_count = it
            stars = e_next
            roots = stars.select(F.col("v").alias("node")).distinct()
            labels = stars.select(
                F.col("u").alias("node"), F.col("v").alias("comp")
            ).union(roots.withColumn("comp", F.col("node")))
            # self-loop-only / degenerate nodes: their own component
            return (
                nodes.join(labels, "node", "left")
                .select(
                    "node",
                    F.coalesce(F.col("comp"), F.col("node")).alias("comp"),
                )
            )
        e, n_prev = e_next, n_next
    raise RuntimeError(
        f"connected_components did not converge in {max_iterations} iterations"
    )


def dedup_clusters(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    fused: bool = False,
) -> DataFrame:
    """Cluster summary from a near-dup pair set: one row per duplicate
    cluster with the canonical keep id (min member) and member count.
    """
    cc = connected_components(edges, src, dst, fused=fused)
    return cc.groupBy(F.col("comp").alias("keep_id")).agg(
        F.count(F.lit(1)).alias("n_members")
    )


# ---------------------------------------------------------------------------
# PageRank (fixed iteration count, fixed-point quantized)
# ---------------------------------------------------------------------------

PR_SCALE = 10**12  # quantization denominator between iterations


def pagerank(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    iterations: int = 5,
    damping: float = 0.85,
) -> DataFrame:
    """PageRank on the undirected pair graph, exactly reproducible on
    any engine/partitioning: per-node contribution sums use scaled
    BIGINT fixed point (integer addition is associative) and ranks are
    re-quantized to 1e-12 after every iteration, so the distributed
    loop is bit-identical to a single-node unrolled evaluation.
    Returns (node, pr) after ``iterations`` rounds."""
    und = (
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .union(edges.select(F.col(dst).alias("u"), F.col(src).alias("v")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    deg = und.groupBy("u").agg(F.count(F.lit(1)).alias("deg"))
    n_nodes = deg.count()
    base = (1.0 - damping) / n_nodes
    pr = deg.select(
        "u", "deg", (F.lit(1.0) / F.lit(float(n_nodes))).alias("pr")
    )
    for _ in range(iterations):
        contrib = und.join(pr, "u").select(
            F.col("v").alias("node"),
            F.round(F.col("pr") / F.col("deg") * F.lit(PR_SCALE))
            .cast("long")
            .alias("c"),
        )
        summed = contrib.groupBy("node").agg(F.sum("c").alias("s"))
        # r9 (guide §2.4): the update joins the CHECKPOINTED pr (which
        # carries deg) instead of deg — the old deg join recomputed
        # und.groupBy(u) every iteration, one extra shuffle per round
        # for the identical (u, deg) rows.
        pr = (
            pr.join(summed, pr["u"] == summed["node"], "left")
            .select(
                "u",
                "deg",
                F.round(
                    F.lit(base)
                    + F.lit(damping)
                    * (F.coalesce(F.col("s"), F.lit(0)).cast("double")
                       / F.lit(PR_SCALE)),
                    12,
                ).alias("pr"),
            )
            .localCheckpoint(eager=True)
        )
    return pr.select(F.col("u").alias("node"), "pr")


def oracle_pagerank_sql(
    edges_cte: str,
    iterations: int = 5,
    damping: float = 0.85,
) -> str:
    """DuckDB mirror of pagerank(): the iteration loop unrolled into
    chained CTEs (DuckDB forbids aggregates in recursive terms, and an
    unrolled chain doubles as documentation of the exact arithmetic).
    ``edges_cte`` must define und(u, v)."""
    parts = [
        edges_cte,
        "deg AS (SELECT u, COUNT(*) AS deg FROM und GROUP BY u)",
        "n AS (SELECT COUNT(*) AS n_nodes FROM deg)",
        "pr0 AS (SELECT u, deg, 1.0 / n_nodes AS pr FROM deg, n)",
    ]
    for i in range(iterations):
        parts.append(
            f"""s{i} AS (
              SELECT und.v AS node,
                     SUM(CAST(round(pr{i}.pr / pr{i}.deg * {PR_SCALE})
                              AS BIGINT)) AS s
              FROM und JOIN pr{i} ON und.u = pr{i}.u
              GROUP BY und.v)"""
        )
        parts.append(
            f"""pr{i + 1} AS (
              SELECT deg.u, deg.deg,
                     round((1.0 - {damping}) / n.n_nodes
                           + {damping} * (CAST(COALESCE(s{i}.s, 0) AS DOUBLE)
                                          / {PR_SCALE}), 12) AS pr
              FROM deg CROSS JOIN n LEFT JOIN s{i} ON deg.u = s{i}.node)"""
        )
    body = ",\n".join(parts)
    return (
        f"WITH {body}\n"
        f"SELECT u AS node, pr FROM pr{iterations}"
    )


def bfs_distances(
    edges: DataFrame,
    seeds: DataFrame,
    src: str = "src",
    dst: str = "dst",
    node: str = "n",
    max_hops: int = 15,
) -> DataFrame:
    """Single-source (or multi-source) BFS hop distances: returns
    (n, dist) for every node reachable from ``seeds`` within
    ``max_hops`` following directed edges (pass both directions for an
    undirected graph). The Pregel-style frontier loop: each hop is ONE
    distributed join (frontier ⋈ edges) plus an anti-join against the
    settled set — no paths are enumerated, so cyclic graphs cost
    O(V + E) per hop, not O(walks). O(diameter) rounds is inherent to
    BFS; localCheckpoint keeps lineage flat so round N does not replan
    rounds 1..N-1. At 100 TB the state is (long, int) pairs — tiny
    next to the corpus the graph describes. Oracle parity: DuckDB
    WITH RECURSIVE ... UNION (distinct) walk enumeration + MIN(d)
    (see queries/pipeline13.graph_bfs_distances)."""
    dist = (
        seeds.select(F.col(node).alias("n"))
        .distinct()
        .withColumn("dist", F.lit(0))
        .localCheckpoint()
    )
    frontier = dist
    for hop in range(1, max_hops + 1):
        nxt = (
            frontier.join(edges, frontier["n"] == edges[src])
            .select(F.col(dst).alias("n"))
            .distinct()
            .join(dist, on="n", how="left_anti")
            .withColumn("dist", F.lit(hop))
            .localCheckpoint()
        )
        if nxt.limit(1).count() == 0:
            break
        dist = dist.union(nxt).localCheckpoint()
        frontier = nxt
    return dist


# ---------------------------------------------------------------------------
# k-core decomposition (fixed-round peeling)
# ---------------------------------------------------------------------------


def kcore(
    edges: DataFrame,
    k: int,
    rounds: int = 8,
    src: str = "u",
    dst: str = "v",
) -> DataFrame:
    """Nodes surviving ``rounds`` rounds of k-core peeling (repeatedly
    delete nodes of degree < k), with their within-core degree.

    ``edges`` must be the UNDIRECTED expansion (both (u,v) and (v,u)
    per edge, no self-loops, distinct). Each peel round is one
    semi-join of the edge list against the surviving node set per
    endpoint plus one degree count — O(E) work per round, no path
    enumeration, so the loop is O(rounds · E) like the other iterative
    graph operators here (connected_components, pagerank,
    bfs_distances). localCheckpoint after each round keeps lineage
    flat. Rounds are FIXED (early exit only on stability, which is
    equivalent): the DuckDB oracle unrolls exactly ``rounds``
    iterations, so both engines compute the identical relation even on
    a graph that hasn't converged yet — peeling converges in
    ≤ diameter-ish rounds on real graphs, and the registered query's
    corpus converges well inside the default 8.

    Reference parity note: the reference engine has no graph surface
    (SURVEY §2); this extends the greenfield family.
    """
    # The edge list is consumed 2·rounds+2 times (two semi-joins per
    # peel round plus the final degree pass); persist materializes the
    # (possibly expensive) upstream pipeline — e.g. a co-occurrence
    # self-join — exactly once. Lazy MEMORY_AND_DISK, same rationale
    # as minhash_lsh_pairs: no extra up-front job, lineage survives
    # block loss at cluster scale.
    from duckdb_distributed_execution_spark.functions import persist_tracked

    und = persist_tracked(
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v")),
        StorageLevel.MEMORY_AND_DISK,
    )
    alive = und.select("u").distinct().localCheckpoint()
    for _ in range(rounds):
        kept = (
            und.join(alive, on="u", how="left_semi")
            .join(alive.select(F.col("u").alias("v")), on="v", how="left_semi")
        )
        deg = kept.groupBy("u").agg(F.count(F.lit(1)).alias("deg"))
        nxt = deg.filter(F.col("deg") >= k).select("u").localCheckpoint()
        if nxt.count() == alive.count():
            alive = nxt
            break
        alive = nxt
    final = (
        und.join(alive, on="u", how="left_semi")
        .join(alive.select(F.col("u").alias("v")), on="v", how="left_semi")
        .groupBy("u")
        .agg(F.count(F.lit(1)).alias("core_degree"))
    )
    # Materialize the result (localCheckpoint is eager by default)
    # BEFORE releasing the persisted edge list — otherwise a
    # long-running session leaks one cached edge list per kcore()
    # call for its whole lifetime.
    final = final.localCheckpoint()
    und.unpersist()
    return final


def oracle_kcore_sql(und_cte: str, k: int, rounds: int) -> str:
    """DuckDB mirror of :func:`kcore`: ``rounds`` unrolled peel CTEs
    over an undirected-edge CTE named ``und`` (columns u, v) provided
    by ``und_cte`` (a complete WITH-clause prefix ending in the und
    definition, without the trailing SELECT)."""
    # Every CTE is AS MATERIALIZED: a{r} is referenced twice by
    # a{r+1}, so DuckDB's default inlining would re-evaluate the
    # whole chain 2^rounds times.
    parts = [und_cte, ", a0 AS MATERIALIZED (SELECT DISTINCT u FROM und)"]
    prev = "a0"
    for r in range(1, rounds + 1):
        cur = f"a{r}"
        parts.append(
            f""",
    {cur} AS MATERIALIZED (
      SELECT u FROM (
        SELECT und.u, COUNT(*) AS deg
        FROM und
        JOIN {prev} x ON x.u = und.u
        JOIN {prev} y ON y.u = und.v
        GROUP BY und.u)
      WHERE deg >= {k})"""
        )
        prev = cur
    parts.append(
        f"""
    SELECT und.u AS user_id, COUNT(*) AS core_degree
    FROM und
    JOIN {prev} x ON x.u = und.u
    JOIN {prev} y ON y.u = und.v
    GROUP BY und.u"""
    )
    return "".join(parts)
