"""Standalone query runner — the spark-submit analog of the
reference's `distributed_server` / `distributed_worker` executables
(SURVEY §2.A22: distributed_server_main.cpp, distributed_worker_main.cpp).
Spark's cluster manager replaces hand-rolled process orchestration, so
the equivalent surface is one submittable driver program:

    spark-submit tools/run_query.py <query_name> \
        [--sf /root/testdata/sf0.01] [--out /path/parquet] [--limit 20]

    # or locally without a cluster:
    python tools/run_query.py agg_pricing_summary

Runs any query from the inventory against the given testdata dir and
either writes the result as parquet (distributed write) or prints the
first rows.
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("name")
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument("--out", default=None,
                    help="write result parquet here instead of printing")
    ap.add_argument("--limit", type=int, default=20)
    ap.add_argument("--master", default=None,
                    help="override master (default: spark-submit's, "
                    "or local[$SPARK_GRAFT_CPUS] standalone)")
    args = ap.parse_args()

    from duckdb_distributed_execution_spark.queries import all_queries
    from duckdb_distributed_execution_spark.session import local_session

    spark = local_session(args.master, f"dde-spark:{args.name}")

    specs = all_queries()
    if args.name not in specs:
        known = ", ".join(sorted(specs))
        raise SystemExit(f"unknown query {args.name!r}; one of: {known}")
    df = specs[args.name].fn(spark, args.sf)
    if args.out:
        df.write.mode("overwrite").parquet(args.out)
        print(f"wrote {args.out}")
    else:
        df.show(args.limit, truncate=False)
    spark.stop()


if __name__ == "__main__":
    main()
