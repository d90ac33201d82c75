"""Source/sink connector round trips (csv, json, parquet with
partition pruning)."""

from __future__ import annotations

import os
import tempfile

import pytest
from pyspark.sql import functions as F

from duckdb_distributed_execution_spark import sources
from duckdb_distributed_execution_spark.plans import formatted_plan
from tests.conftest import SF_SMOKE, spark_jobs


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


# ---------------------------------------------------------------------------
# Registration is metadata-only: the schema comes from one footer read on
# the driver, so opening a parquet relation runs no Spark job
# ---------------------------------------------------------------------------

NANOS_AS_LONG = "spark.sql.legacy.parquet.nanosAsLong"


@pytest.fixture()
def nanos_off(spark):
    """The session's nanosAsLong conf at its default for the test,
    restored after it."""
    before = spark.conf.get(NANOS_AS_LONG)
    spark.conf.set(NANOS_AS_LONG, "false")
    yield
    spark.conf.set(NANOS_AS_LONG, before)


def _read(spark, path):
    """(read_parquet_table(path), number of Spark jobs it started)."""
    return spark_jobs(spark, lambda: sources.read_parquet_table(spark, path))


def _rows(df):
    return sorted(repr(r) for r in df.collect())


def _assert_like_inferred(spark, df, *files):
    """``df`` has the schema and the rows of Spark's own inferred read
    of ``files``."""
    ref = spark.read.parquet(*files)
    assert df.schema == ref.schema
    assert _rows(df) == _rows(ref)


@pytest.mark.parametrize("name", sorted(
    f for f in os.listdir(SF_SMOKE) if f.endswith(".parquet")))
def test_read_parquet_table_runs_no_job(spark, name):
    path = os.path.join(SF_SMOKE, name)
    df, jobs = _read(spark, path)
    assert jobs == 0
    _assert_like_inferred(spark, df, path)


NTZ = "spark.sql.parquet.inferTimestampNTZ.enabled"


def test_read_parquet_table_leaves_ntz_conf(spark):
    """A session that infers naive timestamps as TIMESTAMP_NTZ keeps
    its conf; the package still reads them as TIMESTAMP, with the rows
    the conf's default gives."""
    from pyspark.sql.types import TimestampType

    path = os.path.join(SF_SMOKE, "events.parquet")
    before = spark.conf.get(NTZ)
    spark.conf.set(NTZ, "false")
    try:
        ref, _ = _read(spark, path)
        expected = _rows(ref)
        spark.conf.set(NTZ, "true")
        df, jobs = _read(spark, path)
        assert jobs == 0
        assert spark.conf.get(NTZ) == "true"
        assert isinstance(df.schema["ts"].dataType, TimestampType)
        assert _rows(df) == expected
    finally:
        spark.conf.set(NTZ, before)


def test_register_table_runs_no_job(spark, tmp_path):
    from duckdb_distributed_execution_spark import Engine

    path = os.path.join(SF_SMOKE, "orders.parquet")
    e = Engine(spark, warehouse=str(tmp_path / "wh"))
    try:
        _, jobs = spark_jobs(
            spark, lambda: e.register_table("rt_orders", path))
        assert jobs == 0
        _assert_like_inferred(spark, e.table("rt_orders"), path)
    finally:
        e.unregister_table("rt_orders")
        e.close()


def _type_zoo():
    """One column of each parquet type pyarrow writes that Spark reads,
    plus a non-nullable column."""
    import datetime
    import decimal

    import pyarrow as pa

    n = 5
    ts = [datetime.datetime(2024, 1, 2, 3, 4, 5, 6 + i) for i in range(n)]
    cols = {
        "i8": (pa.int8(), list(range(n))),
        "u8": (pa.uint8(), list(range(n))),
        "u16": (pa.uint16(), list(range(n))),
        "u32": (pa.uint32(), list(range(n))),
        "u64": (pa.uint64(), [2**63 + i for i in range(n)]),
        "f32": (pa.float32(), [i / 4 for i in range(n)]),
        "d12": (pa.decimal128(12, 2),
                [decimal.Decimal(i) / 4 for i in range(n)]),
        "d30": (pa.decimal128(30, 2),
                [decimal.Decimal(10**25 + i) / 4 for i in range(n)]),
        "day": (pa.date32(),
                [datetime.date(2024, 1, 1 + i) for i in range(n)]),
        "ts_us": (pa.timestamp("us"), ts),
        "ts_ms": (pa.timestamp("ms"), [t.replace(microsecond=0) for t in ts]),
        "ts_utc": (pa.timestamp("us", tz="UTC"), ts),
        "bin": (pa.binary(), [bytes([i]) for i in range(n)]),
        "big": (pa.large_string(), [str(i) for i in range(n)]),
        "dict": (pa.dictionary(pa.int32(), pa.string()),
                 ["a", "b", "a", None, "b"]),
        "lst": (pa.list_(pa.int32()), [[i, None] for i in range(n)]),
        "st": (pa.struct([("x", pa.int64()), ("y", pa.string())]),
               [{"x": i, "y": str(i)} for i in range(n)]),
        "mp": (pa.map_(pa.string(), pa.int64()),
               [[("k", i)] for i in range(n)]),
        "req": (pa.int64(), list(range(n))),
    }
    return pa.Table.from_arrays(
        [pa.array(v, t) for t, v in cols.values()],
        schema=pa.schema([pa.field(k, t, nullable=k != "req")
                          for k, (t, _) in cols.items()]),
    )


def test_read_parquet_table_type_zoo(spark, tmp_path):
    import pyarrow.parquet as pq

    path = str(tmp_path / "zoo.parquet")
    pq.write_table(_type_zoo(), path)
    df, jobs = _read(spark, path)
    assert jobs == 0
    _assert_like_inferred(spark, df, path)


def test_read_parquet_table_spark_written_file(spark, tmp_path):
    """A Spark-written footer carries Spark's own schema, non-nullable
    columns included; the relation is as nullable as an inferred one."""
    out = str(tmp_path / "sw")
    spark.range(20).selectExpr(
        "id", "CAST(id AS DECIMAL(12,2)) AS price",
        "named_struct('a', id, 'b', array(id)) AS s",
        "TIMESTAMP'2024-01-01 00:00:00' + make_interval(0, 0, 0, 0, 0, 0, id)"
        " AS ts",
    ).coalesce(1).write.parquet(out)
    (path,) = [os.path.join(out, f) for f in os.listdir(out)
               if f.endswith(".parquet")]
    df, jobs = _read(spark, path)
    assert jobs == 0
    assert not sources.footer_schema(spark, path)[0]["id"].nullable
    assert df.schema["id"].nullable
    _assert_like_inferred(spark, df, path)


def _nanos_table(n=4):
    import pyarrow as pa

    base = 1_700_000_000_123_456_789
    return pa.table({
        "k": pa.array(range(n), pa.int64()),
        "ts": pa.array([base + i * 1001 for i in range(n)],
                       pa.timestamp("ns")),
    }), [base + i * 1001 for i in range(n)]


def _write_nanos(table, path):
    import pyarrow.parquet as pq

    pq.write_table(table, path, version="2.6", coerce_timestamps=None)


def _micros(df):
    return sorted(
        (r.k, r.us) for r in df.selectExpr(
            "k", "unix_micros(ts) AS us").collect())


def test_read_parquet_table_nanos_file(spark, tmp_path, nanos_off):
    """TIMESTAMP(NANOS) reads as a microsecond timestamp (floored), with
    no job and without touching the session's nanosAsLong conf; the
    user's own read of that file still fails as Spark's does."""
    from pyspark.sql import types as T

    table, nanos = _nanos_table()
    path = str(tmp_path / "ns.parquet")
    _write_nanos(table, path)
    df, jobs = _read(spark, path)
    assert spark.conf.get(NANOS_AS_LONG) == "false"
    assert jobs == 0
    assert df.schema == T.StructType([
        T.StructField("k", T.LongType()),
        T.StructField("ts", T.TimestampType()),
    ])
    assert _micros(df) == [(i, v // 1000) for i, v in enumerate(nanos)]
    with pytest.raises(Exception, match="PARQUET_TYPE_ILLEGAL"):
        spark.read.parquet(path).collect()


def test_events_stream_leaves_nanos_conf(spark, tmp_path, nanos_off):
    """The events stream over a nanos file floors ``ts`` to micros
    without turning the session's nanosAsLong conf on."""
    import pyarrow as pa

    from duckdb_distributed_execution_spark.streaming import (
        read_events_stream,
    )

    table, nanos = _nanos_table()
    n = table.num_rows
    events = pa.table({
        "event_id": table["k"], "ts": table["ts"],
        "user_id": pa.array([1] * n, pa.int64()),
        "event_type": pa.array(["click"] * n),
        "value": pa.array([1.0] * n), "props": pa.array(["{}"] * n),
    })
    path = str(tmp_path / "events.parquet")
    _write_nanos(events, path)
    stream = read_events_stream(spark, path)
    assert spark.conf.get(NANOS_AS_LONG) == "false"
    q = (stream.selectExpr("event_id AS k", "ts").writeStream
         .format("memory").queryName("nanos_events")
         .trigger(availableNow=True).start())
    try:
        q.awaitTermination()
        got = _micros(spark.table("nanos_events"))
    finally:
        q.stop()
        spark.catalog.dropTempView("nanos_events")
    assert got == [(i, v // 1000) for i, v in enumerate(nanos)]


def test_rewritten_path_reads_its_new_footer(spark, tmp_path, nanos_off):
    """A path registered once without a nanos column and then rewritten
    with one reads the new file's types (no per-path probe cache)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    path = str(tmp_path / "t.parquet")
    pq.write_table(pa.table({"k": pa.array([0, 1], pa.int64()),
                             "ts": pa.array([5, 6], pa.int64())}), path)
    assert dict(sources.read_parquet_table(spark, path).dtypes)["ts"] == (
        "bigint")
    table, nanos = _nanos_table()
    _write_nanos(table, path)
    df = sources.read_parquet_table(spark, path)
    assert dict(df.dtypes)["ts"] == "timestamp"
    assert _micros(df) == [(i, v // 1000) for i, v in enumerate(nanos)]


def test_partitioned_directory_keeps_partition_columns(spark, tmp_path):
    out = str(tmp_path / "hive")
    spark.range(30).selectExpr("id", "CAST(id % 3 AS INT) AS part").write \
        .partitionBy("part").parquet(out)
    df, jobs = _read(spark, out)
    assert jobs == 0
    assert df.columns == ["id", "part"]
    _assert_like_inferred(spark, df, out)


def test_directory_reads_the_footer_inference_reads(spark, tmp_path):
    """A directory opens with the schema of the first listed data file
    in path order, as Spark's inference does: hidden files and
    directories are skipped, a later file's extra column is not in the
    schema. ``sources.read`` of parquet takes the same path."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    out = tmp_path / "plain"
    (out / "_staging").mkdir(parents=True)
    k = pa.array([1, 2], pa.int64())
    pq.write_table(pa.table({"k": k, "extra": ["x", "y"]}),
                   out / "b.parquet")
    pq.write_table(pa.table({"k": k}), out / "a.parquet")
    for hidden in (out / ".a.parquet", out / "_staging" / "0.parquet"):
        pq.write_table(pa.table({"other": k}), hidden)
    (out / "_SUCCESS").write_text("")
    for read in (sources.read_parquet_table, sources.read):
        df, jobs = spark_jobs(spark, lambda: read(spark, str(out)))
        assert jobs == 0 and df.columns == ["k"]
        _assert_like_inferred(spark, df, str(out))


def test_empty_directory_raises_sparks_error(spark, tmp_path):
    from pyspark.errors import AnalysisException

    with pytest.raises(AnalysisException, match="UNABLE_TO_INFER_SCHEMA"):
        sources.read_parquet_table(spark, str(tmp_path))
    with pytest.raises(AnalysisException, match="PATH_NOT_FOUND"):
        sources.read_parquet_table(spark, str(tmp_path / "missing"))


def test_partitioned_nanos_directory(spark, tmp_path, nanos_off):
    """A directory whose first listed file has nanos columns opens with
    that footer's schema; partition discovery still adds ``part``."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    table, nanos = _nanos_table(6)
    table = table.append_column(
        "part", pa.array([i % 2 for i in range(6)], pa.int32()))
    out = str(tmp_path / "hive_ns")
    pq.write_to_dataset(table, out, partition_cols=["part"],
                        version="2.6", coerce_timestamps=None)
    df, jobs = _read(spark, out)
    assert jobs == 0
    assert df.columns == ["k", "ts", "part"]
    assert {r.part for r in df.select("part").collect()} == {0, 1}
    assert _micros(df) == [(i, v // 1000) for i, v in enumerate(nanos)]
    assert spark.conf.get(NANOS_AS_LONG) == "false"


def _managed(spark, warehouse, name="fr_t"):
    """An engine on ``warehouse`` holding managed table ``name`` after
    three writes; closed, its catalog persisted."""
    from decimal import Decimal

    from duckdb_distributed_execution_spark import Engine

    e = Engine(spark, warehouse=warehouse)
    e.create_table(name, "id INTEGER, price DECIMAL(12,2), tag VARCHAR, "
                         "ts TIMESTAMP")
    e.insert_values(name, [(1, Decimal("1.5"), "a", None),
                           (2, Decimal("2.5"), "b", None)])
    e.insert_values(name, [(3, Decimal("3.5"), None, None)])
    path = e._tables[name].path
    e.close()
    spark.catalog.dropTempView(name)
    return path


def _live_files(path):
    from duckdb_distributed_execution_spark import manifest

    return [os.path.join(path, f) for f in manifest.adopt(path)["files"]]


def test_catalog_reload_runs_no_job(spark, tmp_path):
    from duckdb_distributed_execution_spark import Engine

    wh = str(tmp_path / "wh")
    path = _managed(spark, wh)
    e, jobs = spark_jobs(spark, lambda: Engine(spark, warehouse=wh))
    try:
        assert jobs == 0 and e.catalog_load_warnings == []
        _assert_like_inferred(spark, e.table("fr_t"), *_live_files(path))
    finally:
        e.close()
        spark.catalog.dropTempView("fr_t")


def test_reattach_warehouse_runs_no_job(spark, tmp_path):
    from duckdb_distributed_execution_spark import Engine

    wh = str(tmp_path / "wh")
    path = _managed(spark, wh)
    os.remove(os.path.join(wh, "_catalog.json"))
    e = Engine(spark, warehouse=wh)
    try:
        names, jobs = spark_jobs(spark, e.reattach_warehouse)
        assert names == ["fr_t"] and jobs == 0
        _assert_like_inferred(spark, e.table("fr_t"), *_live_files(path))
    finally:
        e.close()
        spark.catalog.dropTempView("fr_t")


def test_adopt_and_time_travel_run_no_job(spark, tmp_path):
    """adopt_external_files re-opens the table over the adopted files,
    table_at_version over a retained version's: neither runs a job."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from duckdb_distributed_execution_spark import Engine

    wh = str(tmp_path / "wh")
    path = _managed(spark, wh)
    e = Engine(spark, warehouse=wh)
    try:
        pq.write_table(
            pa.Table.from_pylist(
                [{"id": 9, "price": None, "tag": "ext", "ts": None}],
                schema=pa.schema([
                    ("id", pa.int32()), ("price", pa.decimal128(12, 2)),
                    ("tag", pa.string()), ("ts", pa.timestamp("us", "UTC")),
                ])),
            os.path.join(path, "ext-0.parquet"))
        n, jobs = spark_jobs(spark, lambda: e.adopt_external_files("fr_t"))
        assert (n, jobs) == (1, 0)
        _assert_like_inferred(spark, e.table("fr_t"), *_live_files(path))
        assert 9 in {r.id for r in e.table("fr_t").collect()}
        for h in e.history("fr_t"):
            from duckdb_distributed_execution_spark import manifest

            files = [os.path.join(path, f) for f in
                     manifest.read_version(path, h["version"])["files"]]
            df, jobs = spark_jobs(
                spark, lambda: e.table_at_version("fr_t", h["version"]))
            assert jobs == 0
            if files:
                _assert_like_inferred(spark, df, *files)
            else:  # CREATE's version: the schema alone, no file
                assert df.schema == e.table("fr_t").schema
                assert df.collect() == []
    finally:
        e.close()
        spark.catalog.dropTempView("fr_t")


def test_package_reads_parquet_with_a_schema():
    """Outside ``sources``, the package opens no parquet relation with
    Spark's schema inference (a one-task job per read): every read
    goes through ``sources.read_parquet_files`` /
    ``read_parquet_table`` or names its schema. The one schema-less
    read left serves a path with no local file."""
    import re

    schemaless = re.compile(
        r"\.read\s*\.parquet\("
        r"|\.read\s*\.format\(\s*[\"']parquet[\"']\s*\)(?!\s*\.schema\()")
    pkg = os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "duckdb_distributed_execution_spark")
    found = {}
    for root, dirs, files in os.walk(pkg):
        for name in files:
            if name.endswith(".py"):
                path = os.path.join(root, name)
                with open(path, encoding="utf-8") as f:
                    n = len(schemaless.findall(f.read()))
                if n:
                    found[os.path.relpath(path, pkg)] = n
    assert found == {"sources/__init__.py": 1}


def test_package_builds_no_table_from_an_empty_frame():
    """No package code writes an empty frame to give a table its
    schema: a manifest version carries the schema, so CREATE TABLE
    and an empty write commit no file and run no job for it."""
    import re

    empty_write = re.compile(r"emptyRDD|\.limit\(0\)[^\n]*\.write\b")
    pkg = os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "duckdb_distributed_execution_spark")
    found = []
    for root, dirs, files in os.walk(pkg):
        for name in files:
            if name.endswith(".py"):
                path = os.path.join(root, name)
                with open(path, encoding="utf-8") as f:
                    if empty_write.search(f.read()):
                        found.append(os.path.relpath(path, pkg))
    assert found == []
