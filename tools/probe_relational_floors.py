"""Per-stage floor decomposition of the sf10 relational family
(round-8 verdict task 1, the semantic_dedup-grade treatment): for
each still->2x row, time the PLAN PREFIXES that bound it from below —
the bare columnar scan+arithmetic over the same columns (both
engines), the intermediate join/agg stage, and (for the star join)
the pre-bucketed co-located layout the Engine supports via
create_bucketed_table — one session, interleaved best-of-N, so every
number shares one machine state.

    python tools/probe_relational_floors.py --sf-dir /tmp/dde_sf10
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

SCALE = 1_000_000.0


def _rev():
    return F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount"))


def spark_variants(spark, sf_dir, engine):
    from duckdb_distributed_execution_spark.queries import all_queries, load

    specs = all_queries()

    def scan_lineitem(spark, sf_dir):
        li = load(spark, sf_dir, "lineitem")["lineitem"]
        return li.agg(
            F.sum(F.floor(_rev() * SCALE + F.lit(0.5))).alias("s"),
            F.count(F.lit(1)).alias("n"),
            F.sum("l_partkey").alias("pk"),
        )

    def scan_orders(spark, sf_dir):
        o = load(spark, sf_dir, "orders")["orders"]
        return o.filter(
            F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp")
        ).agg(F.count(F.lit(1)).alias("n"), F.sum("o_custkey").alias("ck"))

    def scan_events(spark, sf_dir):
        ev = load(spark, sf_dir, "events")["events"]
        return ev.agg(
            F.sum(F.floor(F.col("value") * SCALE + F.lit(0.5))).alias("s"),
            F.count(F.lit(1)).alias("n"),
            F.max("ts").alias("mx"),
        )

    def plain_hot_key_agg(spark, sf_dir):
        ev = load(spark, sf_dir, "events")["events"]
        return ev.groupBy("event_type").agg(
            F.count(F.lit(1)).alias("cnt"),
            (F.sum(F.floor(F.col("value") * SCALE + F.lit(0.5))) / SCALE
             ).alias("total"),
            F.max("value").alias("mx"),
        )

    def bucketed_star(spark, sf_dir):
        from duckdb_distributed_execution_spark.functions import (
            exact_sum_final,
            exact_sum_partial,
        )

        t = load(spark, sf_dir, "customer", "nation", "region")
        region = t["region"].filter(F.col("r_name").isin("AMERICA", "ASIA"))
        orders = spark.table("bk_orders").filter(
            F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp")
        )
        li = (
            spark.table("bk_lineitem")
            .groupBy("l_orderkey")
            .agg(
                F.count(F.lit(1)).alias("__cnt"),
                exact_sum_partial(_rev()).alias("__rev"),
            )
        )
        return (
            orders.hint("shuffle_hash")
            .join(li, F.col("l_orderkey") == F.col("o_orderkey"))
            .join(F.broadcast(t["customer"]),
                  F.col("o_custkey") == F.col("c_custkey"))
            .join(F.broadcast(t["nation"]),
                  F.col("c_nationkey") == F.col("n_nationkey"))
            .join(F.broadcast(region),
                  F.col("n_regionkey") == F.col("r_regionkey"))
            .groupBy(F.col("n_name").alias("nation"))
            .agg(
                F.sum("__cnt").alias("n_items"),
                exact_sum_final("__rev").alias("revenue"),
            )
        )

    return [
        ("scan_lineitem", scan_lineitem),
        ("scan_orders_filtered", scan_orders),
        ("scan_events", scan_events),
        ("join_multi_star", specs["join_multi_star"].fn),
        ("join_multi_star_bucketed", bucketed_star),
        ("tpch_q9_partsupp", specs["tpch_q9_partsupp"].fn),
        ("join_broadcast_dim", specs["join_broadcast_dim"].fn),
        ("events_tumbling_window", specs["events_tumbling_window"].fn),
        ("salted_hot_key_agg", specs["salted_hot_key_agg"].fn),
        ("plain_hot_key_agg", plain_hot_key_agg),
        ("sessionize_window_sql", specs["sessionize_window_sql"].fn),
    ]


DUCK_VARIANTS = [
    ("scan_lineitem",
     "SELECT SUM(CAST(floor((l_extendedprice * (1 - l_discount)) * 1000000.0"
     " + 0.5) AS BIGINT)) AS s, COUNT(*) AS n, SUM(l_partkey) AS pk"
     " FROM lineitem"),
    ("scan_orders_filtered",
     "SELECT COUNT(*) AS n, SUM(o_custkey) AS ck FROM orders"
     " WHERE o_orderdate >= TIMESTAMP '1996-01-01'"),
    ("scan_events",
     "SELECT SUM(CAST(floor(value * 1000000.0 + 0.5) AS BIGINT)) AS s,"
     " COUNT(*) AS n, MAX(ts) AS mx FROM events"),
    ("join_multi_star", None),
    ("tpch_q9_partsupp", None),
    ("join_broadcast_dim", None),
    ("events_tumbling_window", None),
    ("salted_hot_key_agg", None),
    ("sessionize_window_sql", None),
]


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/tmp/dde_sf10")
    ap.add_argument("--n", type=int, default=3)
    args = ap.parse_args()

    from duckdb_distributed_execution_spark import Engine
    from duckdb_distributed_execution_spark.queries import all_queries, load
    from duckdb_distributed_execution_spark.session import (
        local_cores,
        local_session,
    )

    spark = local_session(
        app_name="probe-relational-floors",
        conf={"spark.sql.warehouse.dir": f"/tmp/dde_floors_wh_{os.getpid()}"},
    )
    engine = Engine(spark)

    # untimed: the co-located layout (the one-time prep a 100 TB
    # deployment amortizes across every star join on these facts)
    t0 = time.perf_counter()
    t = load(spark, args.sf_dir, "orders", "lineitem")
    engine.drop_bucketed_table("bk_orders")
    engine.drop_bucketed_table("bk_lineitem")
    engine.create_bucketed_table(
        "bk_orders", t["orders"], ["o_orderkey"], num_buckets=32
    )
    engine.create_bucketed_table(
        "bk_lineitem",
        t["lineitem"].select(
            "l_orderkey", "l_extendedprice", "l_discount"
        ),
        ["l_orderkey"],
        num_buckets=32,
    )
    prep = time.perf_counter() - t0

    variants = spark_variants(spark, args.sf_dir, engine)
    for _ in range(2):
        for _, fn in variants:
            spark.catalog.clearCache()
            fn(spark, args.sf_dir).write.format("noop").mode(
                "overwrite").save()
    best = {label: float("inf") for label, _ in variants}
    for _ in range(args.n):
        for label, fn in variants:
            spark.catalog.clearCache()
            s = time.perf_counter()
            fn(spark, args.sf_dir).write.format("noop").mode(
                "overwrite").save()
            best[label] = min(best[label], time.perf_counter() - s)

    import duckdb

    con = duckdb.connect()
    con.execute(f"SET threads={local_cores()}")
    for tname in ("region", "nation", "customer", "supplier", "part",
                  "orders", "lineitem", "events"):
        p = os.path.join(args.sf_dir, f"{tname}.parquet")
        if os.path.exists(p):
            con.execute(
                f"CREATE VIEW {tname} AS SELECT * FROM read_parquet('{p}')"
            )
    specs = all_queries()
    dbest = {}
    for label, sql in DUCK_VARIANTS:
        q = sql or specs[label].oracle
        con.execute(q).fetchall()
        b = float("inf")
        for _ in range(args.n):
            s = time.perf_counter()
            con.execute(q).fetchall()
            b = min(b, time.perf_counter() - s)
        dbest[label] = b

    print(f"# bucketed-layout prep (untimed in rows below): {prep:.1f} s")
    print(f"| component | Spark s | DuckDB s | ratio |")
    print("|---|---|---|---|")
    for label, _ in variants:
        sv = best[label]
        dv = dbest.get(label)
        if dv:
            print(f"| {label} | {sv:.3f} | {dv:.3f} | {sv / dv:.2f}x |")
        else:
            print(f"| {label} | {sv:.3f} | — | — |")
    print(json.dumps({
        "spark": {k: round(v, 3) for k, v in best.items()},
        "duckdb": {k: round(v, 3) for k, v in dbest.items()},
        "bucketed_prep_s": round(prep, 1),
        "sf_dir": args.sf_dir,
    }))
    engine.drop_bucketed_table("bk_orders")
    engine.drop_bucketed_table("bk_lineitem")


if __name__ == "__main__":
    main()
