"""Benchmark driver — runs the headline queries at
$SPARK_GRAFT_SF_DIR (default: the sf0.1 testdata) on the package's
local session (local[$SPARK_GRAFT_CPUS], default: the CPUs this
process may use) and prints ONE JSON line.

Each query is materialized with the noop sink (full computation, no
driver collect). Times include Catalyst planning but not session
startup; a warmup query primes the JVM first.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = _parse_sf(sf_dir)

    from duckdb_distributed_execution_spark.queries import all_queries
    from duckdb_distributed_execution_spark.session import (
        local_cores,
        local_session,
    )

    spark = local_session(app_name="dde-spark-bench")

    specs = all_queries()
    # Default: the headline set. $SPARK_GRAFT_QUERIES (comma-separated
    # registry names) selects any other cohort — used by the per-family
    # sf1 A/B (round-5 verdict task 4).
    sel = os.environ.get("SPARK_GRAFT_QUERIES")
    if sel:
        headline = [n.strip() for n in sel.split(",") if n.strip()]
        unknown = [n for n in headline if n not in specs]
        if unknown:
            raise SystemExit(f"unknown queries in SPARK_GRAFT_QUERIES: {unknown}")
    else:
        headline = [name for name, s in sorted(specs.items()) if s.headline]

    # Steady-state measurement: one untimed warm pass over the whole
    # set (JIT + codegen class compilation amortize in any real
    # deployment), then three timed passes over the WHOLE list with
    # the per-query minimum across passes. Interleaving the passes —
    # rather than best-of-3 back-to-back per query — makes the floor
    # robust to multi-second host-side stalls (single-JVM microVM:
    # CPU steal and GC bursts last longer than three consecutive runs
    # of one small query, but never hit the same query in all three
    # passes minutes apart). Each timed run is the full plan
    # (scan → compute → noop sink), nothing cached.
    # Subset runs ($SPARK_GRAFT_QUERIES) warm twice: a short cohort
    # doesn't amortize JIT/codegen the way the full 17-query pass does
    # — the first heavy query of a 4-query spot-pair was measured 3×
    # its full-set row purely from warm-up (round-7 verdict, What's
    # wrong #3). Two warm passes put subset timings on the same
    # steady-state footing as full-set rows.
    warm_passes = 2 if sel else 1
    timings: dict[str, float] = {n: float("inf") for n in headline}
    for _ in range(warm_passes):
        for name in headline:
            spark.catalog.clearCache()
            specs[name].fn(spark, sf_dir).write.format("noop").mode(
                "overwrite"
            ).save()
    spark.catalog.clearCache()
    for _ in range(3):
        for name in headline:
            # Rebuild the DataFrame inside the timed region, and drop
            # any persisted intermediates first: operators that
            # materialize mid-pipeline (lazy persist in the LSH and
            # semantic-dedup pipelines) register their logical plan in
            # the CacheManager, and an identical rebuilt plan would
            # silently hit the previous pass's cache — the timed run
            # must pay for its own materialization.
            spark.catalog.clearCache()
            t0 = time.perf_counter()
            df = specs[name].fn(spark, sf_dir)
            df.write.format("noop").mode("overwrite").save()
            timings[name] = min(
                timings[name], time.perf_counter() - t0
            )
    timings = {n: round(v, 3) for n, v in timings.items()}

    total = round(sum(timings.values()), 3)
    print(
        json.dumps(
            {
                "metric": "headline_queries_total",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "sf": sf,
                "cpus": local_cores(),
                # Session stamp (round-4 verdict, "What's wrong" #1):
                # the A/B table builder refuses to pair this JSON with
                # a DuckDB run from a different boot or a run more
                # than 30 min away — best-ever numbers from unloaded
                # past sessions can't masquerade as reproducible.
                **_session_stamp(),
            }
        )
    )


def _parse_sf(sf_dir: str) -> float:
    """Scale factor from the data directory name. Accepts an explicit
    $SPARK_GRAFT_SF_LABEL override, else the first ``sf<number>``
    anywhere in the basename (``sf0.1``, ``dde_sf1``, ``bench-sf10``)
    — round-5 verdict: the old exact-prefix parse stamped ``-1.0``
    on /tmp/dde_sf1 runs."""
    import re

    label = os.environ.get("SPARK_GRAFT_SF_LABEL")
    if label:
        return float(label)
    m = re.search(r"sf(\d+(?:\.\d+)?)", os.path.basename(sf_dir.rstrip("/")))
    return float(m.group(1)) if m else -1.0


def _session_stamp() -> dict:
    try:
        with open("/proc/sys/kernel/random/boot_id") as f:
            boot = f.read().strip()
    except OSError:
        boot = "unknown"
    return {"ts": round(time.time(), 1), "boot_id": boot}


if __name__ == "__main__":
    main()
