"""Same-session A/B of the sf10 relational-family surgeries (round-8
verdict task 1): OLD plan form vs NEW plan form vs DuckDB-32t, one
process, interleaved best-of-N — immune to the cross-boot drift that
makes absolute table numbers incomparable between sessions.

    python tools/probe_relational.py --sf-dir /tmp/dde_sf10 [--n 3]
"""

from __future__ import annotations

import argparse
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F


def old_join_multi_star(spark, sf_dir):
    from duckdb_distributed_execution_spark.functions import exact_sum
    from duckdb_distributed_execution_spark.queries import load

    t = load(spark, sf_dir, "customer", "orders", "lineitem", "nation", "region")
    rev = F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount"))
    region = t["region"].filter(F.col("r_name").isin("AMERICA", "ASIA"))
    orders = t["orders"].filter(
        F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp")
    )
    return (
        orders.join(t["lineitem"], F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(t["customer"]), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(t["nation"]), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy(F.col("n_name").alias("nation"))
        .agg(F.count(F.lit(1)).alias("n_items"), exact_sum(rev).alias("revenue"))
    )


def shj_join_multi_star(spark, sf_dir):
    """OLD row-level join plan, but SHUFFLE_HASH instead of the
    planner's sort-merge — skips sorting 60M+12M rows."""
    from duckdb_distributed_execution_spark.functions import exact_sum
    from duckdb_distributed_execution_spark.queries import load

    t = load(spark, sf_dir, "customer", "orders", "lineitem", "nation", "region")
    rev = F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount"))
    region = t["region"].filter(F.col("r_name").isin("AMERICA", "ASIA"))
    orders = t["orders"].filter(
        F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp")
    )
    return (
        orders.hint("shuffle_hash")
        .join(t["lineitem"], F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(t["customer"]), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(t["nation"]), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy(F.col("n_name").alias("nation"))
        .agg(F.count(F.lit(1)).alias("n_items"), exact_sum(rev).alias("revenue"))
    )


def _prefiltered_orders(spark, sf_dir):
    """orders already carrying nation, with the region cut applied
    BEFORE the fact join (manual join reorder Catalyst won't do
    without CBO stats): build side shrinks ~60%, broadcast shrinks
    1.5M -> 600k rows."""
    from duckdb_distributed_execution_spark.queries import load

    t = load(spark, sf_dir, "customer", "orders", "nation", "region")
    region = t["region"].filter(F.col("r_name").isin("AMERICA", "ASIA"))
    cust = (
        t["customer"]
        .join(F.broadcast(t["nation"]),
              F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region),
              F.col("n_regionkey") == F.col("r_regionkey"))
        .select("c_custkey", "n_name")
    )
    return (
        t["orders"]
        .filter(F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .select("o_orderkey", "n_name")
    )


def pre_join_multi_star(spark, sf_dir):
    """agg-below-join + the region cut pushed into the build side."""
    from duckdb_distributed_execution_spark.functions import (
        exact_sum_final,
        exact_sum_partial,
    )
    from duckdb_distributed_execution_spark.queries import load

    rev = F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount"))
    li = (
        load(spark, sf_dir, "lineitem")["lineitem"]
        .groupBy("l_orderkey")
        .agg(
            F.count(F.lit(1)).alias("__cnt"),
            exact_sum_partial(rev).alias("__rev"),
        )
    )
    return (
        _prefiltered_orders(spark, sf_dir).hint("shuffle_hash")
        .join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.sum("__cnt").alias("n_items"),
            exact_sum_final("__rev").alias("revenue"),
        )
    )


def raw_join_multi_star(spark, sf_dir):
    """NO pre-agg: raw narrow lineitem probes the prefiltered orders
    build (4.8M rows) in one shuffle-hash join."""
    from duckdb_distributed_execution_spark.queries import load

    rev = F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount"))
    li = load(spark, sf_dir, "lineitem")["lineitem"].select(
        "l_orderkey",
        F.floor(rev * F.lit(1_000_000.0) + F.lit(0.5)).alias("__rs"),
    )
    return (
        _prefiltered_orders(spark, sf_dir).hint("shuffle_hash")
        .join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            (F.sum("__rs") / F.lit(1_000_000.0)).alias("revenue"),
        )
    )


def fast_events_tumbling(spark, sf_dir):
    """Arithmetic bucket + scaled-long sum instead of F.window +
    decimal(28,6) accumulation."""
    from duckdb_distributed_execution_spark.queries import load

    ev = load(spark, sf_dir, "events")["events"]
    us = F.unix_micros(F.col("ts"))
    w_start = F.timestamp_micros(
        (us - (us % F.lit(300_000_000))).cast("long")
    )
    return (
        ev.groupBy(w_start.alias("w_start"), F.col("event_type"))
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            (F.sum(F.floor(F.col("value") * F.lit(1_000_000.0) + F.lit(0.5)))
             / F.lit(1_000_000.0)).alias("sum_value"),
        )
    )


def old_tpch_q9(spark, sf_dir):
    from duckdb_distributed_execution_spark.functions import exact_sum
    from duckdb_distributed_execution_spark.queries import load
    from duckdb_distributed_execution_spark.queries.tpch import synthetic_partsupp

    t = load(spark, sf_dir, "part", "supplier", "lineitem", "orders", "nation")
    ps = synthetic_partsupp(t)
    red = t["part"].filter(F.col("p_name").like("red%")).select("p_partkey")
    profit = (
        F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount"))
        - F.col("ps_supplycost") * F.col("l_quantity")
    )
    return (
        t["lineitem"]
        .join(F.broadcast(red), F.col("l_partkey") == F.col("p_partkey"))
        .join(
            ps,
            (F.col("ps_partkey") == F.col("l_partkey"))
            & (F.col("ps_suppkey") == F.col("l_suppkey")),
        )
        .join(t["orders"], F.col("o_orderkey") == F.col("l_orderkey"))
        .join(F.broadcast(t["supplier"]), F.col("s_suppkey") == F.col("l_suppkey"))
        .join(F.broadcast(t["nation"]), F.col("n_nationkey") == F.col("s_nationkey"))
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").alias("o_year"),
        )
        .agg(exact_sum(profit).alias("sum_profit"))
    )


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/tmp/dde_sf10")
    ap.add_argument("--n", type=int, default=3)
    ap.add_argument("--queries", default="join_multi_star,tpch_q9_partsupp")
    ap.add_argument("--skip-duckdb", action="store_true")
    ap.add_argument("--max-partition-bytes", default=None,
                    help="spark.sql.files.maxPartitionBytes override")
    args = ap.parse_args()

    from duckdb_distributed_execution_spark.queries import all_queries
    from duckdb_distributed_execution_spark.session import (
        local_cores,
        local_session,
    )

    specs = all_queries()
    names = [q.strip() for q in args.queries.split(",") if q.strip()]
    olds = {"join_multi_star": old_join_multi_star, "tpch_q9_partsupp": old_tpch_q9}
    extras = {
        "join_multi_star": [
            ("shj", shj_join_multi_star),
            ("pre", pre_join_multi_star),
            ("raw", raw_join_multi_star),
        ],
        "events_tumbling_window": [("fast", fast_events_tumbling)],
    }

    spark = local_session(
        app_name="probe-relational",
        conf={"spark.sql.files.maxPartitionBytes": args.max_partition_bytes}
        if args.max_partition_bytes else None,
    )

    variants: list[tuple[str, object]] = []
    for n in names:
        if n in olds:
            variants.append((f"{n}[old]", olds[n]))
        for tag, fn in extras.get(n, []):
            variants.append((f"{n}[{tag}]", fn))
        variants.append((f"{n}[new]", specs[n].fn))

    # two warm passes, then N timed interleaved passes, min per variant
    for _ in range(2):
        for _, fn in variants:
            spark.catalog.clearCache()
            fn(spark, args.sf_dir).write.format("noop").mode("overwrite").save()
    best = {label: float("inf") for label, _ in variants}
    for _ in range(args.n):
        for label, fn in variants:
            spark.catalog.clearCache()
            t0 = time.perf_counter()
            fn(spark, args.sf_dir).write.format("noop").mode("overwrite").save()
            best[label] = min(best[label], time.perf_counter() - t0)
    for label, v in best.items():
        print(f"spark  {label:38s} {v:7.3f} s")

    if not args.skip_duckdb:
        import duckdb

        con = duckdb.connect()
        con.execute(f"SET threads={local_cores()}")
        tables = [
            "region", "nation", "customer", "supplier", "part",
            "orders", "lineitem", "events", "documents", "embeddings",
        ]
        for t in tables:
            p = os.path.join(args.sf_dir, f"{t}.parquet")
            if os.path.exists(p):
                con.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')"
                )
        for n in names:
            sql = specs[n].oracle
            if not sql:
                continue
            con.execute(sql).fetchall()  # warm
            bd = float("inf")
            for _ in range(args.n):
                t0 = time.perf_counter()
                con.execute(sql).fetchall()
                bd = min(bd, time.perf_counter() - t0)
            print(f"duckdb {n:38s} {bd:7.3f} s")


if __name__ == "__main__":
    main()
