"""duckdb_distributed_execution_spark — a PySpark-native analytics engine.

A from-scratch re-expression of the capabilities of the reference
``dentiny/duckdb-distributed-execution`` (a DuckDB extension adding
distributed execution over Arrow Flight) as an idiomatic PySpark engine.

The reference's client/driver/worker star topology, task partitioner,
SQL-rewriting scatter, and result mergers all collapse into Spark's own
Catalyst planner, shuffle service and partial/final aggregation
(see SURVEY.md §0). What this package provides on top of a bare
``SparkSession`` is:

- ``Engine`` — session facade mirroring the reference's surface:
  table registration (``PRAGMA duckherder_register_remote_table`` →
  ``register_table``), DDL/DML (CREATE/DROP/ALTER TABLE, CREATE INDEX,
  INSERT, DELETE-with-true-predicate), a ``sql()`` entry point and an
  execution-stats table matching
  ``duckherder_get_query_execution_stats()``
  (reference: src/query_execution_stats_query_function.cpp:28-58).
- ``typemap`` — DuckDB↔Spark type fidelity per SURVEY §1.2
  (reference: src/utils/arrow_utils.cpp:498-620).
- ``operators`` — operators Spark lacks natively (as-of join, range
  join) plus the large-scale training-data pipeline suite: dedup
  (exact / MinHash-LSH / SimHash / n-gram Jaccard / embedding cosine),
  similarity search (brute-force + LSH-bucketed ANN), text analysis
  (language-ID, quality, token counts, fingerprints), multimodal
  binary-column plumbing.
- ``functions`` — vectorized column helpers (cosine similarity via
  ``F.zip_with``/``F.aggregate``, exact-decimal aggregation helpers).
"""

from pyspark.files import SparkFiles as _SparkFiles

if _SparkFiles._is_running_on_worker:
    # Imported by a Spark Python worker: stop its per-task zip directory
    # re-reads (see pyworker). Never in the driver.
    from duckdb_distributed_execution_spark import pyworker as _pyworker

    _pyworker.install()

__all__ = ["Engine", "ensure_worker_pythonpath"]
__version__ = "0.1.0"


def __getattr__(name):
    # ``Engine`` is loaded on first use (PEP 562): a Python worker that
    # unpickles an operator kernel imports this package, and must not
    # pay for ``session`` and the modules it pulls in (manifest, stats,
    # typemap).
    if name == "Engine":
        from duckdb_distributed_execution_spark.session import Engine

        return Engine
    raise AttributeError(f"module {__name__!r} has no attribute {name!r}")


_PYFILES_ADDED: set[str] = set()


def ensure_worker_pythonpath(spark) -> None:
    """Make this package importable in Spark's Python workers.

    Operators that send Python closures to executors (the
    ``duckdb_remote`` Python DataSource, ``mapInPandas`` multimodal
    decode, ``applyInPandas`` sessionization) reference module-level
    helpers, which cloudpickle serializes BY REFERENCE — the worker
    process must be able to import the package. Sessions built by
    ``session.local_session`` already list the package's parent on
    ``spark.executorEnv.PYTHONPATH``. Any other session (the driver's
    CWD is on the workers' path only when it is the repo root) gets the
    package zipped and ``addPyFile``-d once per application; the zip is
    removed at interpreter exit."""
    import atexit
    import os
    import shutil
    import tempfile

    from duckdb_distributed_execution_spark.session import (
        _PACKAGE_PARENT,
        _unlink,
    )

    sc = spark.sparkContext
    key = sc.applicationId
    if key in _PYFILES_ADDED:
        return
    worker_path = sc.getConf().get("spark.executorEnv.PYTHONPATH") or ""
    if _PACKAGE_PARENT not in worker_path.split(os.pathsep):
        zip_path = shutil.make_archive(
            os.path.join(tempfile.gettempdir(), f"dde_spark_pkg_{os.getpid()}"),
            "zip",
            root_dir=_PACKAGE_PARENT,
            base_dir=__name__,
        )
        atexit.register(_unlink, [zip_path])
        sc.addPyFile(zip_path)
    _PYFILES_ADDED.add(key)
