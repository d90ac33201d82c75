"""Fiftieth wave — coreset selection: k-center greedy (farthest-point)
sampling over the embedding corpus.

The standard diversity-curation pick (Sener & Savarese 2018): the
selected set's max point-to-center distance 2-approximates the
optimal k-center cover, which is why active-learning and data-pruning
pipelines use it to choose which examples to keep. Sequential by
nature (k bounded, like the BPE trainer loop) but each round is one
corpus scan; see operators/linalg.py::kcenter_greedy for the plan and
the quantized-argmax determinism contract. The oracle is the same
greedy unrolled as a k-step CTE chain — selection-by-selection, not
just the final set, so a single flipped argmax anywhere fails the
hash. Reference has no curation surface (north-star greenfield,
BASELINE.json).
"""

from __future__ import annotations

from duckdb_distributed_execution_spark.operators.linalg import (
    kcenter_greedy,
)
from duckdb_distributed_execution_spark.queries import load, register, small_table

_K = 6


def _oracle_kcenter(k: int) -> str:
    d2 = (
        "(list_dot_product(e.v, e.v)"
        " - 2 * list_dot_product(e.v, c{t}.v)"
        " + list_dot_product(c{t}.v, c{t}.v))"
    )
    parts = [
        "e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v"
        " FROM embeddings)",
        "c0 AS (SELECT vec_id, v FROM e ORDER BY vec_id LIMIT 1)",
    ]
    for t in range(1, k):
        dq = f"CAST(round({d2.format(t=t - 1)} * 1000000.0) AS BIGINT)"
        if t == 1:
            parts.append(
                f"m1 AS (SELECT e.vec_id, {dq} AS dq FROM e CROSS JOIN c0)"
            )
        else:
            parts.append(
                f"m{t} AS (SELECT m{t - 1}.vec_id,"
                f" LEAST(m{t - 1}.dq, {dq}) AS dq"
                f" FROM e JOIN m{t - 1} ON e.vec_id = m{t - 1}.vec_id"
                f" CROSS JOIN c{t - 1})"
            )
        parts.append(
            f"s{t} AS (SELECT vec_id, dq FROM m{t}"
            f" ORDER BY dq DESC, vec_id LIMIT 1)"
        )
        parts.append(
            f"c{t} AS (SELECT e.vec_id, e.v FROM e"
            f" JOIN s{t} ON e.vec_id = s{t}.vec_id)"
        )
    sel = [
        "SELECT CAST(0 AS BIGINT) AS sel_round, c0.vec_id,"
        " ROUND(0.0, 4) AS dist FROM c0"
    ]
    for t in range(1, k):
        sel.append(
            f"SELECT CAST({t} AS BIGINT), s{t}.vec_id,"
            f" ROUND(s{t}.dq / 1000000.0, 4) FROM s{t}"
        )
    return "WITH " + ",\n".join(parts) + "\n" + "\nUNION ALL\n".join(sel)


@register("coreset_kcenter_greedy", oracle=_oracle_kcenter(_K))
def coreset_kcenter_greedy(spark, sf_dir):
    """The first 6 k-center greedy picks over the embeddings (squared
    L2), each with the quantized distance at which it was selected —
    a monotonically non-increasing sequence (the classic coreset
    radius curve; pinned in pytest). Both engines compute d² via the
    SAME dot-product expansion (dot(e,e) − 2·dot(e,c) + dot(c,c)) and
    compare ⌊d²·1e6+.5⌋ longs with an id tiebreak, so the sequential
    decisions agree; the residual (boundary-ulp) risk is documented in
    operators/linalg.py::kcenter_greedy — it is vanishingly unlikely,
    not impossible."""
    e = load(spark, sf_dir, "embeddings")["embeddings"]
    # r9 scale gate: on a small table the whole greedy loop runs in one
    # task (15 fixed-cost jobs → 1); above, the distributed per-round scan.
    if small_table(sf_dir, "embeddings"):
        from duckdb_distributed_execution_spark.operators.linalg import (
            kcenter_greedy_fused,
        )

        return kcenter_greedy_fused(e, "vec_id", "embedding", k=_K)
    return kcenter_greedy(e, "vec_id", "embedding", k=_K)
