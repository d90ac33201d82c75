"""The one Spark session factory (``session.local_session``).

In a fresh process started outside the repo, an ``Engine.start_local``
session: its conf, and that it ships no package zip yet runs a
``mapInPandas`` UDF calling a package helper. In the suite's own
session: the engine reports the session's parallelism. And a guard:
outside ``perfbench/`` only the factory and the foreign-session test
build a session.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

from duckdb_distributed_execution_spark.session import (
    _driver_memory,
    local_cores,
)

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_START_LOCAL = r"""
import json
import sys

sys.path.insert(0, @REPO@)
import pandas as pd

from duckdb_distributed_execution_spark import (
    Engine,
    ensure_worker_pythonpath,
)
from duckdb_distributed_execution_spark.operators.text import arrow_normalize


def normalize(batches):
    for pdf in batches:
        yield pd.DataFrame({"norm": arrow_normalize(pdf["text"]).to_pylist()})


e = Engine.start_local(workers=2)
ensure_worker_pythonpath(e.spark)
texts = e.spark.createDataFrame([("Hello,  World!",), ("A-b c",)], "text string")
rows = sorted(r["norm"] for r in texts.mapInPandas(normalize, "norm string").collect())
keys = [
    "spark.master", "spark.sql.shuffle.partitions", "spark.sql.adaptive.enabled",
    "spark.sql.session.timeZone", "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.execution.arrow.pyspark.enabled",
    "spark.sql.codegen.cache.maxEntries", "spark.ui.enabled",
    "spark.locality.wait", "spark.driver.memory",
    "spark.python.daemon.module", "spark.executorEnv.PYTHONPATH",
]
print(json.dumps({
    "conf": {k: e.spark.conf.get(k) for k in keys},
    "files": list(e.spark.sparkContext.listFiles),
    "rows": rows,
}))
e.close()
e.spark.stop()
"""


@pytest.fixture(scope="module")
def start_local_run(tmp_path_factory):
    """Runs _START_LOCAL with CWD outside the repo and no PYTHONPATH:
    the workers can import the package only through the session's own
    settings."""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    res = subprocess.run(
        [sys.executable, "-c", _START_LOCAL.replace("@REPO@", repr(REPO))],
        cwd=tmp_path_factory.mktemp("start_local_cwd"), env=env,
        capture_output=True, text=True, timeout=300,
    )
    assert res.returncode == 0, res.stderr[-3000:]
    return json.loads(res.stdout.strip().splitlines()[-1])


def test_start_local_conf(start_local_run):
    assert start_local_run["conf"] == {
        "spark.master": "local[2]",
        "spark.sql.shuffle.partitions": "8",
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.parquet.inferTimestampNTZ.enabled": "false",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.codegen.cache.maxEntries": "5000",
        "spark.ui.enabled": "false",
        "spark.locality.wait": "0s",
        "spark.driver.memory": _driver_memory(),
        "spark.python.daemon.module":
            "duckdb_distributed_execution_spark.pyworker",
        "spark.executorEnv.PYTHONPATH": REPO,
    }


def test_factory_session_ships_no_package_zip(start_local_run):
    assert not [f for f in start_local_run["files"] if "dde_spark_pkg_" in f]
    assert start_local_run["rows"] == ["a b c", "hello world"]


def test_worker_count_is_session_parallelism(engine, spark):
    """The suite's session runs at local[local_cores()], and the engine
    reports that parallelism, also as the recorder's worker cap."""
    assert spark.sparkContext.master == f"local[{local_cores()}]"
    assert engine.get_worker_count() == spark.sparkContext.defaultParallelism
    engine.clear_query_recorder_stats()
    engine.execute("SELECT id % 3 AS k, COUNT(*) FROM range(1000) GROUP BY k")
    (rec,) = engine.get_query_execution_stats().collect()
    assert 1 <= rec.num_workers_used <= engine.get_worker_count()
    engine.clear_query_recorder_stats()


def test_only_the_factory_builds_sessions():
    needle = "SparkSession" + ".builder"
    found = {}
    for root, dirs, files in os.walk(REPO):
        dirs[:] = [d for d in dirs if not d.startswith(".")
                   and not (root == REPO and d == "perfbench")]
        for name in files:
            if name.endswith(".py"):
                path = os.path.join(root, name)
                with open(path, encoding="utf-8") as f:
                    n = f.read().count(needle)
                if n:
                    found[os.path.relpath(path, REPO)] = n
    assert found == {
        "duckdb_distributed_execution_spark/session.py": 1,
        "tests/test_sources.py": 1,
    }
