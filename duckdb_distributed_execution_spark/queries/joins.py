"""Join surface — SURVEY §2.B rows HASH_JOIN, NESTED_LOOP_JOIN,
PIECEWISE_MERGE_JOIN, CROSS_PRODUCT, IE_JOIN, ASOF_JOIN plus
semi/anti (never exercised by the reference but free in Spark).

The reference classifies any plan containing a join as "complex" and
runs it on a single node's DuckDB (query_utils.cpp:20-35,
query_plan_analyzer.cpp:118-163). Here every join is genuinely
distributed: dimension tables broadcast, fact-fact joins shuffle on
keys, as-of joins run as one windowed shuffle (operators/asof.py).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from duckdb_distributed_execution_spark import functions as FX
from duckdb_distributed_execution_spark.functions import (
    exact_sum,
    exact_sum_final,
    exact_sum_partial,
    oracle_exact_sum,
)
from duckdb_distributed_execution_spark.operators.asof import asof_join
from duckdb_distributed_execution_spark.queries import load, register


@register(
    "join_inner",
    oracle=f"""
    SELECT c.c_mktsegment AS mktsegment,
           COUNT(*) AS n_orders,
           {oracle_exact_sum('o.o_totalprice')} AS revenue
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY 1
    """,
)
def join_inner(spark, sf_dir):
    t = load(spark, sf_dir, "orders", "customer")
    return (
        t["orders"]
        .join(F.broadcast(t["customer"]), F.col("o_custkey") == F.col("c_custkey"))
        .groupBy(F.col("c_mktsegment").alias("mktsegment"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            exact_sum("o_totalprice").alias("revenue"),
        )
    )


@register(
    "join_broadcast_dim",
    headline=True,
    oracle=f"""
    SELECT p.p_brand AS brand,
           COUNT(*) AS cnt,
           {oracle_exact_sum('l.l_extendedprice * (1 - l.l_discount)')} AS revenue
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    WHERE p.p_size <= 25
    GROUP BY 1
    """,
)
def join_broadcast_dim(spark, sf_dir):
    """Fact × small dim — explicitly broadcast: zero shuffle of the
    fact table; at 100 TB this is the difference between a map-side
    join and a full lineitem shuffle."""
    t = load(spark, sf_dir, "lineitem", "part")
    p = t["part"].filter(F.col("p_size") <= 25)
    rev = F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount"))
    return (
        t["lineitem"]
        .join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy(F.col("p_brand").alias("brand"))
        .agg(F.count(F.lit(1)).alias("cnt"), exact_sum(rev).alias("revenue"))
    )


@register(
    "join_left_outer",
    oracle="""
    SELECT c.c_custkey, c.c_name, COUNT(o.o_orderkey) AS n_orders
    FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
    GROUP BY 1, 2
    """,
)
def join_left_outer(spark, sf_dir):
    t = load(spark, sf_dir, "orders", "customer")
    return (
        t["customer"]
        .join(t["orders"], F.col("c_custkey") == F.col("o_custkey"), "left")
        .groupBy("c_custkey", "c_name")
        .agg(F.count("o_orderkey").alias("n_orders"))
    )


@register(
    "join_full_outer",
    oracle="""
    SELECT COALESCE(f.custkey, n.custkey) AS custkey,
           COALESCE(f.n_f, 0) AS n_f,
           COALESCE(n.n_neg, 0) AS n_neg
    FROM (SELECT o_custkey AS custkey, COUNT(*) AS n_f
          FROM orders WHERE o_orderstatus = 'F' GROUP BY 1) f
    FULL OUTER JOIN
         (SELECT c_custkey AS custkey, COUNT(*) AS n_neg
          FROM customer WHERE c_acctbal < 0 GROUP BY 1) n
    ON f.custkey = n.custkey
    """,
)
def join_full_outer(spark, sf_dir):
    t = load(spark, sf_dir, "orders", "customer")
    f_side = (
        t["orders"]
        .filter(F.col("o_orderstatus") == "F")
        .groupBy(F.col("o_custkey").alias("custkey"))
        .agg(F.count(F.lit(1)).alias("n_f"))
    )
    n_side = (
        t["customer"]
        .filter(F.col("c_acctbal") < 0)
        .groupBy(F.col("c_custkey").alias("custkey"))
        .agg(F.count(F.lit(1)).alias("n_neg"))
    )
    joined = f_side.alias("f").join(
        n_side.alias("n"), F.col("f.custkey") == F.col("n.custkey"), "full"
    )
    return joined.select(
        F.coalesce(F.col("f.custkey"), F.col("n.custkey")).alias("custkey"),
        F.coalesce(F.col("n_f"), F.lit(0)).alias("n_f"),
        F.coalesce(F.col("n_neg"), F.lit(0)).alias("n_neg"),
    )


@register(
    "join_semi",
    oracle="""
    SELECT c_custkey, c_mktsegment FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000)
    """,
)
def join_semi(spark, sf_dir):
    t = load(spark, sf_dir, "orders", "customer")
    big = t["orders"].filter(F.col("o_totalprice") > 300000)
    return (
        t["customer"]
        .join(big, F.col("c_custkey") == F.col("o_custkey"), "left_semi")
        .select("c_custkey", "c_mktsegment")
    )


@register(
    "join_anti",
    oracle="""
    SELECT c_custkey, c_name FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 400000)
    """,
)
def join_anti(spark, sf_dir):
    """Anti join: customers with no large order."""
    t = load(spark, sf_dir, "orders", "customer")
    big = t["orders"].filter(F.col("o_totalprice") > 400000)
    return (
        t["customer"]
        .join(big, F.col("c_custkey") == F.col("o_custkey"), "left_anti")
        .select("c_custkey", "c_name")
    )


@register(
    "join_cross",
    oracle="""
    SELECT r.r_name, n.n_name
    FROM region r CROSS JOIN nation n
    WHERE r.r_regionkey <> n.n_regionkey
    """,
)
def join_cross(spark, sf_dir):
    t = load(spark, sf_dir, "region", "nation")
    return (
        t["region"]
        .crossJoin(t["nation"])
        .filter(F.col("r_regionkey") != F.col("n_regionkey"))
        .select("r_name", "n_name")
    )


@register(
    "join_multi_star",
    headline=True,
    oracle=f"""
    SELECT n.n_name AS nation,
           COUNT(*) AS n_items,
           {oracle_exact_sum('l.l_extendedprice * (1 - l.l_discount)')} AS revenue
    FROM customer c
    JOIN orders o   ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN nation n   ON c.c_nationkey = n.n_nationkey
    JOIN region r   ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name IN ('AMERICA', 'ASIA')
      AND o.o_orderdate >= TIMESTAMP '1996-01-01'
    GROUP BY 1
    """,
)
def join_multi_star(spark, sf_dir):
    """TPC-H Q5 shape: fact-fact join (orders⋈lineitem) with all
    dimensions broadcast — the canonical star-schema plan at scale.

    Two rewrites open-source Catalyst does not perform (no CBO stats):

    1. Aggregation pushed BELOW the join: lineitem collapses to one
       row per orderkey — exact_sum's scaled-long partials are
       associative, so per-order partial sums re-aggregate exactly —
       cutting the shuffled fact volume ~4× (≈4.07 lineitems/order).
    2. The region cut pushed INTO the build side: customer joins its
       broadcast snowflake (nation⋈region, filtered) FIRST, so the
       orders build carries n_name and only region-surviving orders
       (~40%) enter the fact join, and the customer broadcast shrinks
       to the filtered (c_custkey, n_name) projection.

    The grouped lineitem side arrives at the join already hash-
    partitioned on the key; SHUFFLE_HASH (size-gated — withheld at
    small SF where AQE's broadcast beats any shuffle join) skips the
    sort-merge sorts DuckDB never pays. Measured same-session at sf10:
    3.71 → 1.94 s (README floor decomposition has the per-stage
    attribution; the bucketed-layout variant in
    tools/probe_relational_floors.py shows the residual is agg/join
    CPU, not shuffle — pre-bucketed facts do not improve it).

    One gate (SHUFFLE_HASH_GATE_BYTES of orders): the simple broadcast
    plan below, the rewrite with the SHUFFLE_HASH pin above. On 4 vCPU,
    CPU / wall in s, equal rows: simple 0.90 / 0.75 vs rewrite + hint
    1.08 / 0.72 at sf0.1, 2.43 / 1.46 vs 3.61 / 1.44 at local sf1 (the
    unhinted rewrite lost too: 1.13 / 0.85, 3.86 / 1.53), 68.4 / 19.7
    vs 35.8 / 10.7 at local sf10."""
    t = load(spark, sf_dir, "customer", "orders", "lineitem", "nation", "region")
    rev = F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount"))
    region = t["region"].filter(F.col("r_name").isin("AMERICA", "ASIA"))
    orders_dated = t["orders"].filter(
        F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp")
    )
    if FX.input_bytes(t["orders"]) <= FX.SHUFFLE_HASH_GATE_BYTES:
        return (
            orders_dated
            .join(t["lineitem"], F.col("l_orderkey") == F.col("o_orderkey"))
            .join(F.broadcast(t["customer"]),
                  F.col("o_custkey") == F.col("c_custkey"))
            .join(F.broadcast(t["nation"]),
                  F.col("c_nationkey") == F.col("n_nationkey"))
            .join(F.broadcast(region),
                  F.col("n_regionkey") == F.col("r_regionkey"))
            .groupBy(F.col("n_name").alias("nation"))
            .agg(F.count(F.lit(1)).alias("n_items"),
                 exact_sum(rev).alias("revenue"))
        )
    cust = (
        t["customer"]
        .join(F.broadcast(t["nation"]),
              F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region),
              F.col("n_regionkey") == F.col("r_regionkey"))
        .select("c_custkey", "n_name")
    )
    orders = (
        orders_dated
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .select("o_orderkey", "n_name")
        .hint("shuffle_hash")
    )
    li = (
        t["lineitem"]
        .groupBy("l_orderkey")
        .agg(
            F.count(F.lit(1)).alias("__cnt"),
            exact_sum_partial(rev).alias("__rev"),
        )
    )
    return (
        orders
        .join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.sum("__cnt").alias("n_items"),
            exact_sum_final("__rev").alias("revenue"),
        )
    )


@register(
    "join_inequality",
    oracle="""
    SELECT s.s_suppkey, COUNT(*) AS n_cheaper_parts
    FROM supplier s JOIN part p ON p.p_retailprice < s.s_acctbal
    GROUP BY 1
    """,
)
def join_inequality(spark, sf_dir):
    """Pure theta join (IE_JOIN in the reference's taxonomy) —
    broadcast nested-loop on the small side."""
    t = load(spark, sf_dir, "supplier", "part")
    return (
        t["part"]
        .join(F.broadcast(t["supplier"]), F.col("p_retailprice") < F.col("s_acctbal"))
        .groupBy("s_suppkey")
        .agg(F.count(F.lit(1)).alias("n_cheaper_parts"))
    )


@register(
    "join_asof",
    headline=True,
    oracle="""
    SELECT p.event_id, p.user_id, p.value AS purchase_value,
           c.value AS last_click_value,
           c.ts AS asof_ts
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
      ON p.user_id = c.user_id AND p.ts >= c.ts
    """,
)
def join_asof(spark, sf_dir):
    """As-of join: each purchase matched to the user's most recent
    click at-or-before it. Distributed via the union+window plan in
    operators/asof.py (single shuffle on user_id); oracle is DuckDB's
    native ASOF JOIN."""
    ev = load(spark, sf_dir, "events")["events"]
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", "value"
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "ts", F.col("value").alias("last_click_value")
    )
    joined = asof_join(
        purchases,
        clicks,
        on="user_id",
        left_ts="ts",
        right_ts="ts",
        right_cols=["last_click_value"],
    )
    return joined.select(
        "event_id",
        "user_id",
        F.col("value").alias("purchase_value"),
        "last_click_value",
        F.col("asof_ts"),
    )
