"""The query inventory must be importable WITHOUT a SparkSession/JVM:
`tools/bench_duckdb.py` (the A/B baseline tool) and any embedder that
wants `oracle_sql()` for DuckDB-only use depend on it. Round 3
regressed this with a module-scope Window spec (pipeline15); this test
pins the fix by importing the full inventory in a clean subprocess
with spark-session creation booby-trapped.
"""

import subprocess
import sys

_PROBE = r"""
import sys

# Booby-trap JVM launch: constructing a SparkSession (or a py4j
# gateway) during import means the inventory is NOT sessionless.
import pyspark.java_gateway as jg


def _boom(*a, **k):
    raise AssertionError("inventory import tried to launch a JVM")


jg.launch_gateway = _boom

import __spark_entry__ as e

q = e.queries()
o = e.oracle_sql()
assert len(q) >= 290, len(q)
assert len(o) >= 290, len(o)
assert set(o) <= set(q)
print("OK", len(q), len(o))
"""


def test_inventory_imports_without_spark():
    res = subprocess.run(
        [sys.executable, "-c", _PROBE],
        capture_output=True,
        text=True,
        timeout=300,
        cwd="/root/repo",
    )
    assert res.returncode == 0, res.stderr[-2000:]
    assert res.stdout.startswith("OK")


_WORKER_PROBE = r"""
import sys

import duckdb_distributed_execution_spark.operators.dedup  # noqa: F401

heavy = [m for m in ("session", "manifest", "stats", "typemap")
         if "duckdb_distributed_execution_spark." + m in sys.modules]
assert not heavy, heavy
from duckdb_distributed_execution_spark import Engine  # noqa: E402

assert Engine.__module__ == "duckdb_distributed_execution_spark.session"
print("OK")
"""


def test_operator_import_skips_engine_modules():
    """A Python worker that unpickles an operator kernel imports the
    package; the package loads ``Engine`` (and with it session,
    manifest, stats and typemap) only when asked for it."""
    import os

    res = subprocess.run(
        [sys.executable, "-c", _WORKER_PROBE],
        capture_output=True,
        text=True,
        timeout=300,
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    )
    assert res.returncode == 0, res.stderr[-2000:]
    assert res.stdout.startswith("OK")
