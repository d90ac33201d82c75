"""Self-check harness mimicking the driver's correctness gate.

Runs every ``queries()`` entry on Spark and, where an oracle exists,
the oracle SQL on DuckDB over the same parquet; compares row count,
column names, and order-insensitive canonicalized values. Run before
every commit:

    python tools/selfcheck.py [--sf /root/testdata/sf0.01] [names...]
"""

from __future__ import annotations

import argparse
import datetime
import decimal
import hashlib
import math
import os
import sys
import time
import traceback

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)


def canon(v):
    """Canonicalize a value for order-insensitive hashing — mirrors a
    conservative guess at the driver's normalization (str of value;
    floats via repr; Decimal normalized; arrays element-wise)."""
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return str(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return repr(v)
    if isinstance(v, decimal.Decimal):
        return repr(float(v))
    if isinstance(v, (datetime.datetime, datetime.date)):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    if isinstance(v, (bytes, bytearray)):
        return v.hex()
    return str(v)


def table_hash(rows, colnames):
    order = sorted(range(len(colnames)), key=lambda i: colnames[i])
    lines = sorted(
        "|".join(canon(r[i]) for i in order) for r in rows
    )
    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()[:16], lines


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument("--verbose", action="store_true")
    ap.add_argument(
        "--master", default=None,
        help="Spark master override — e.g. local[8] to vary the thread "
             "count (proves partition independence), or "
             "local-cluster[2,16,4096] to run the sweep under REAL "
             "process separation (2 executor JVMs, separate python "
             "workers): proves no single-JVM/single-process assumption "
             "hides in driver-side state, broadcasts, or per-task "
             "connections (round-4 verdict task 4). Default: "
             "local[$SPARK_GRAFT_CPUS].")
    ap.add_argument(
        "--conf", action="append", default=[],
        help="extra spark conf k=v (repeatable) — e.g. "
             "spark.executor.memory=4g for a spark:// standalone "
             "master whose default 1g executors would OOM, or "
             "spark.sql.shuffle.partitions=N")
    ap.add_argument("names", nargs="*")
    args = ap.parse_args()

    import duckdb

    import __spark_entry__ as entrymod
    from duckdb_distributed_execution_spark.session import local_session

    # Executors in local-cluster mode are separate JVMs spawning their
    # own python workers; the factory puts the package on their path.
    spark = local_session(
        args.master, "selfcheck",
        dict(kv.split("=", 1) for kv in args.conf),
    )

    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(args.sf, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    names = args.names or sorted(qs)

    n_pass = n_fail = n_rowsonly = 0
    failures = []
    for name in names:
        t0 = time.time()
        try:
            sdf = qs[name](spark, args.sf)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
        except Exception:
            print(f"FAIL  {name}: spark error")
            traceback.print_exc()
            n_fail += 1
            failures.append(name)
            continue
        if name not in oracles:
            print(f"rows  {name}: {len(srows)} rows (no oracle) [{time.time()-t0:.1f}s]")
            n_rowsonly += 1
            if len(srows) == 0:
                print(f"  WARNING: empty result for rows-only query {name}")
            continue
        try:
            cur = con.execute(oracles[name])
            dcols = [d[0] for d in cur.description]
            drows = cur.fetchall()
        except Exception as e:
            print(f"FAIL  {name}: duckdb error: {e}")
            n_fail += 1
            failures.append(name)
            continue
        ok = True
        msgs = []
        if len(srows) != len(drows):
            ok = False
            msgs.append(f"rowcount spark={len(srows)} duckdb={len(drows)}")
        if sorted(scols) != sorted(dcols):
            ok = False
            msgs.append(f"columns spark={sorted(scols)} duckdb={sorted(dcols)}")
        if ok:
            sh, slines = table_hash(srows, scols)
            dh, dlines = table_hash(drows, dcols)
            if sh != dh:
                ok = False
                diff_s = [x for x in slines if x not in set(dlines)][:3]
                diff_d = [x for x in dlines if x not in set(slines)][:3]
                msgs.append(f"hash mismatch\n  spark-only: {diff_s}\n  duck-only:  {diff_d}")
        if ok:
            print(f"PASS  {name}: {len(srows)} rows [{time.time()-t0:.1f}s]")
            n_pass += 1
            if len(srows) == 0:
                print(f"  WARNING: empty result for {name}")
        else:
            print(f"FAIL  {name}: " + "; ".join(msgs))
            n_fail += 1
            failures.append(name)

    print(f"\n{n_pass} pass, {n_rowsonly} rows-only, {n_fail} fail / {len(names)} total")
    if failures:
        print("failures:", " ".join(failures))
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()
