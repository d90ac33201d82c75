"""Source/sink connector round trips (csv, json, parquet with
partition pruning)."""

from __future__ import annotations

import os
import tempfile

import pytest
from pyspark.sql import functions as F

from duckdb_distributed_execution_spark import sources
from duckdb_distributed_execution_spark.plans import formatted_plan
from tests.conftest import SF_SMOKE


def test_csv_round_trip(spark):
    df = spark.createDataFrame(
        [(1, "a", 1.5), (2, "b", 2.5), (3, None, None)], "id INT, s STRING, v DOUBLE"
    )
    with tempfile.TemporaryDirectory() as d:
        path = os.path.join(d, "t.csv")
        sources.write(df, path, fmt="csv", header="true")
        back = sources.read(spark, path, fmt="csv",
                            schema="id INT, s STRING, v DOUBLE", header="true")
        assert sorted((r.id, r.s, r.v) for r in back.collect()) == sorted(
            (r.id, r.s, r.v) for r in df.collect()
        )


def test_json_round_trip(spark):
    df = spark.createDataFrame(
        [(1, ["x", "y"], {"k": 2})],
        "id INT, tags ARRAY<STRING>, m MAP<STRING, INT>",
    )
    with tempfile.TemporaryDirectory() as d:
        path = os.path.join(d, "t.json")
        sources.write(df, path, fmt="json")
        back = sources.read(spark, path, fmt="json",
                            schema="id INT, tags ARRAY<STRING>, m MAP<STRING, INT>")
        r = back.collect()[0]
        assert (r.id, list(r.tags), dict(r.m)) == (1, ["x", "y"], {"k": 2})


def test_partitioned_write_prunes(spark):
    df = spark.createDataFrame(
        [(i, "p%d" % (i % 3), i * 1.0) for i in range(100)],
        "id INT, part STRING, v DOUBLE",
    )
    with tempfile.TemporaryDirectory() as d:
        path = os.path.join(d, "t")
        sources.write(df, path, fmt="parquet", partition_by=["part"])
        back = sources.read(spark, path).filter(F.col("part") == "p1")
        assert back.count() == 33
        plan = formatted_plan(back)
        # hive-style partition filter must prune at planning time
        assert "PartitionFilters" in plan and "p1" in plan


def test_unsupported_format_raises(spark):
    import pytest

    with pytest.raises(ValueError):
        sources.read(spark, "/tmp/x", fmt="avro")


def test_orc_round_trip(spark, tmp_path):
    from duckdb_distributed_execution_spark import sources

    df = spark.createDataFrame(
        [(1, "a", 1.5), (2, "b", 2.5)], "id LONG, tag STRING, v DOUBLE"
    )
    path = str(tmp_path / "orc_t")
    sources.write(df, path, fmt="orc")
    back = sources.read(spark, path, fmt="orc")
    assert sorted((r.id, r.tag, r.v) for r in back.collect()) == [
        (1, "a", 1.5), (2, "b", 2.5),
    ]


# ---------------------------------------------------------------------------
# duckdb_remote custom DataSource (reference A1/A2/A8/A9 analog)
# ---------------------------------------------------------------------------


def _remote_db(tmp_path, rows=300):
    import duckdb

    p = str(tmp_path / "srv.duckdb")
    con = duckdb.connect(p)
    con.execute(
        "CREATE TABLE t AS SELECT range AS k, 'v' || CAST(range % 7 AS VARCHAR) AS v,"
        " CASE WHEN range % 10 = 0 THEN NULL ELSE range * 1.5 END AS x"
        f" FROM range({rows})"
    )
    con.close()
    return p


def test_remote_source_task_ladder(tmp_path):
    """Strategy ladder parity (task_partitioner.cpp): small-table
    bypass → one task; large table → ceil(rows/unit) capped at 4×
    target parallelism."""
    from pyspark.sql.types import StructType

    from duckdb_distributed_execution_spark.sources.remote import (
        DuckDBRemoteReader,
    )

    p = _remote_db(tmp_path, rows=300)
    schema = StructType()  # columns unused by partitions()

    def reader(**opts):
        base = {"path": p, "table": "t", "partitions": "4"}
        base.update(opts)
        return DuckDBRemoteReader(base, schema)

    # bypass: 300 rows < default 122,880-row unit → single task
    assert len(reader().partitions()) == 1
    # unit 50 → ceil(300/50)=6 tasks (< cap 16)
    assert len(reader(page_rows="50").partitions()) == 6
    # unit 10 → 30 would exceed cap 4×4 → capped at 16
    assert len(reader(page_rows="10").partitions()) == 16
    # ranges tile [0, rows) exactly, no overlap
    parts = reader(page_rows="50").partitions()
    covered = sorted((t.lo, t.hi) for t in parts)
    assert covered[0][0] == 0 and covered[-1][1] == 299
    for (lo1, hi1), (lo2, _) in zip(covered, covered[1:]):
        assert lo2 == hi1 + 1


def test_remote_source_read_and_pushdown(spark, tmp_path):
    """Full read parity plus pushed string/IN/null predicates; rowid
    and offset strategies return identical row sets."""
    from duckdb_distributed_execution_spark.sources.remote import (
        register_remote_source,
    )

    p = _remote_db(tmp_path, rows=300)
    register_remote_source(spark)
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")

    def rd(strategy):
        return (
            spark.read.format("duckdb_remote")
            .option("path", p)
            .option("table", "t")
            .option("partitions", "4")
            .option("page_rows", "50")
            .option("strategy", strategy)
            .load()
        )

    rowid = rd("rowid")
    assert rowid.count() == 300
    assert rd("offset").count() == 300
    assert sorted(r.k for r in rowid.collect()) == sorted(
        r.k for r in rd("offset").collect()
    )
    # pushed predicates (translated to remote SQL) stay correct
    assert rowid.filter("v = 'v3'").count() == 300 // 7 + (1 if 3 < 300 % 7 else 0)
    assert rowid.filter("k >= 100 AND k < 110").count() == 10
    assert rowid.filter("x IS NULL").count() == 30
    assert rowid.filter("v IN ('v1', 'v2')").count() == sum(
        1 for i in range(300) if i % 7 in (1, 2)
    )


def test_remote_source_distributed_insert(spark, tmp_path):
    """Distributed INSERT round-trip through the duckdb_remote writer:
    tasks stage parquet in parallel, commit appends in one
    transaction (A3 analog, columnar — never row-by-row VALUES).
    Append and overwrite modes both verified by reading back through
    the same source."""
    import duckdb

    from duckdb_distributed_execution_spark.sources.remote import (
        register_remote_source,
    )

    p = _remote_db(tmp_path, rows=100)
    register_remote_source(spark)

    src = spark.range(1000, 1050).selectExpr(
        "id AS k", "'w' || CAST(id % 3 AS STRING) AS v", "CAST(id AS DOUBLE) AS x"
    ).repartition(4)
    (
        src.write.format("duckdb_remote")
        .option("path", p)
        .option("table", "t")
        .mode("append")
        .save()
    )
    con = duckdb.connect(p, read_only=True)
    assert con.sql("SELECT COUNT(*) FROM t").fetchone()[0] == 150
    assert con.sql("SELECT COUNT(*) FROM t WHERE k >= 1000").fetchone()[0] == 50
    con.close()

    # overwrite: table contains exactly the new rows afterwards
    (
        src.write.format("duckdb_remote")
        .option("path", p)
        .option("table", "t")
        .mode("overwrite")
        .save()
    )
    con = duckdb.connect(p, read_only=True)
    assert con.sql("SELECT COUNT(*) FROM t").fetchone()[0] == 50
    assert con.sql("SELECT MIN(k), MAX(k) FROM t").fetchone() == (1000, 1049)
    con.close()


# A session the engine did not build, driven from outside the repo:
# the package reaches its workers only through
# ensure_worker_pythonpath's zip.
_FOREIGN_SESSION = """
import glob
import sys
import tempfile
sys.path.insert(0, @REPO@)
from pyspark.sql import SparkSession
spark = (SparkSession.builder.master("local[4]")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC").getOrCreate())
spark.sparkContext.setLogLevel("ERROR")
from duckdb_distributed_execution_spark.queries import all_queries
qs = all_queries()
n1 = qs["multimodal_features"].fn(spark, @SF@).count()
n2 = qs["remote_stream_window_counts"].fn(spark, @SF@).count()
assert n1 > 0 and n2 > 0, (n1, n2)
print("CWD_INDEPENDENT_OK")
print("ZIPS", len(glob.glob(tempfile.gettempdir() + "/dde_spark_pkg_*")))
"""


@pytest.fixture(scope="module")
def foreign_session_run(tmp_path_factory):
    """Runs _FOREIGN_SESSION with CWD /tmp and its own TMPDIR; returns
    the finished process and that TMPDIR."""
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    tmp = tmp_path_factory.mktemp("foreign_tmpdir")
    code = _FOREIGN_SESSION.replace("@REPO@", repr(repo)).replace(
        "@SF@", repr(SF_SMOKE))
    out = subprocess.run(
        [sys.executable, "-c", code],
        cwd="/tmp",
        env={**os.environ, "TMPDIR": str(tmp)},
        capture_output=True,
        text=True,
        timeout=300,
    )
    return out, tmp


def test_worker_imports_cwd_independent(foreign_session_run):
    """Queries that ship Python closures to workers (mapInPandas
    multimodal decode, the duckdb_remote Python DataSource — batch and
    STREAMING) must work when the harness's CWD is not the repo root:
    ensure_worker_pythonpath ships the package via addPyFile and the
    DataSource module is registered pickle-by-value. Regression for
    the ModuleNotFoundError class of failure (worker processes don't
    inherit the driver's sys.path)."""
    out, _ = foreign_session_run
    assert "CWD_INDEPENDENT_OK" in out.stdout, out.stderr[-2000:]


def test_foreign_session_package_zip_removed_at_exit(foreign_session_run):
    """The zip ensure_worker_pythonpath ships to a foreign session
    exists while the process runs and is gone once it exits."""
    out, tmp = foreign_session_run
    assert "ZIPS 1" in out.stdout, out.stdout[-500:] + out.stderr[-2000:]
    assert list(tmp.glob("dde_spark_pkg_*")) == []
