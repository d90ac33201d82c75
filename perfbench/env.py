"""Process environment and the Spark session factory of the benchmark.

Everything a run writes (generated data, Spark scratch, temp files,
the managed-table warehouse, traces) lands under ``perfbench/.cache``
of the checkout. JVM-level settings go through PYSPARK_SUBMIT_ARGS so
they also apply to sessions the engine builds itself
(``Engine.start_local``)."""

from __future__ import annotations

import os
import shlex
import sys
import tempfile

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
REPO_ROOT = os.path.dirname(BENCH_DIR)
CACHE_DIR = os.path.join(BENCH_DIR, ".cache")
PACKAGE = "duckdb_distributed_execution_spark"


def check_checkout() -> str | None:
    """Why the program under test cannot run from here, or None."""
    for rel in (PACKAGE, "tools/gen_sf.py", "tools/selfcheck.py"):
        if not os.path.exists(os.path.join(REPO_ROOT, rel)):
            return f"{rel} not found under {REPO_ROOT}"
    return None


def cores() -> int:
    return len(os.sched_getaffinity(0))


def driver_memory() -> str:
    """Half of physical RAM, at most 8 GiB: well below what the host
    has, and above what the sf1 workloads use."""
    with open("/proc/meminfo") as f:
        total_kb = int(f.readline().split()[1])
    return f"{max(1, min(8, total_kb // (2 * 1024 * 1024)))}g"


def prepare_process() -> None:
    """Point every scratch location at the cache; call before the first
    Spark session exists."""
    tmp = os.path.join(CACHE_DIR, "tmp")
    local = os.path.join(CACHE_DIR, "spark-local")
    warehouse = os.path.join(CACHE_DIR, "spark-warehouse")
    for d in (tmp, local, warehouse):
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["PYSPARK_PYTHON"] = sys.executable
    # A fixed set of JIT compiler threads, so their CPU time can be
    # told apart from the work's (host.cpu_split).
    java_opts = (f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData "
                 "-XX:-UseDynamicNumberOfCompilerThreads")
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
        "--driver-memory", driver_memory(),
        "--conf", shlex.quote(f"spark.driver.extraJavaOptions={java_opts}"),
        "--conf", shlex.quote(f"spark.sql.warehouse.dir={warehouse}"),
        "--conf", "spark.ui.showConsoleProgress=false",
        "pyspark-shell",
    ])
    if REPO_ROOT not in sys.path:
        sys.path.insert(0, REPO_ROOT)


def spark_session(n: int):
    """local[n] with n shuffle partitions; the remaining settings match
    bench.py (AQE on, codegen cache 5000, locality wait 0, UI off) so
    headline figures stay comparable with its history."""
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master(f"local[{n}]")
        .appName("perfbench")
        .config("spark.sql.shuffle.partitions", str(n))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.locality.wait", "0s")
        .config("spark.sql.codegen.cache.maxEntries", "5000")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark
