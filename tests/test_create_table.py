"""CREATE TABLE is a catalog entry: version 0 of the table's manifest
lists no data file and records the schema, so creating a table writes
no data and runs no Spark job (the reference's CREATE TABLE only adds
an entry to the server DuckDB's catalog,
duckherder_schema_catalog_entry.cpp:173-213).

The empty table must then behave like any other on every path: catalog
reload and ``reattach_warehouse`` (same schema, constraints still
enforced), time travel to version 0, the metadata and DML facade, and
a DELETE that empties a table, which also commits no file. A warehouse
whose manifests carry no schema (written before versions did) still
attaches, through one footer read."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import types as T

from duckdb_distributed_execution_spark import Engine, manifest
from tests.conftest import spark_jobs

DDL = "id BIGINT PRIMARY KEY, qty INTEGER NOT NULL, tag VARCHAR"
SOURCE = T.StructType([
    T.StructField("id", T.LongType()),
    T.StructField("qty", T.IntegerType()),
    T.StructField("tag", T.StringType()),
])


@pytest.fixture()
def wh(spark, tmp_path):
    """A warehouse directory; the temp views engines on it registered
    are dropped after the test."""
    yield str(tmp_path / "wh")
    for name in ("ct_t", "ct_reg", "ct_old"):
        spark.catalog.dropTempView(name)


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _parquet_on_disk(path):
    return {f for f in os.listdir(path) if f.endswith(".parquet")}


def _assert_enforced(e):
    """``ct_t`` is empty and rejects a NULL ``qty`` and a duplicate
    ``id``; it is left empty."""
    with pytest.raises(ValueError, match="NOT NULL"):
        e.insert_values("ct_t", [(1, None, "a")])
    e.insert_values("ct_t", [(1, 1, "a")])
    with pytest.raises(ValueError, match="duplicate key"):
        e.insert_values("ct_t", [(1, 2, "b")])
    assert _rows(e.table("ct_t")) == [(1, 1, "a")]
    assert e.delete_from("ct_t", "id >= 0") == 1


def test_create_table_runs_no_job(spark, wh):
    e = Engine(spark, warehouse=wh)
    try:
        _, jobs = spark_jobs(spark, lambda: e.create_table("ct_t", DDL))
        assert jobs == 0
        _, jobs = spark_jobs(spark, lambda: e.create_dedup_registry("ct_reg"))
        assert jobs == 0
        for name in ("ct_t", "ct_reg"):
            path = e._tables[name].path
            m = manifest.read_manifest(path)
            assert (m["version"], m["op"], m["files"]) == (0, "create", [])
            assert m["schema"] == e.table(name).schema.json()
            assert _parquet_on_disk(path) == set()
            assert e.table(name).collect() == []
        assert e.table("ct_t").schema == SOURCE
    finally:
        e.close()


def test_empty_table_reloads_with_its_schema(spark, wh):
    """A new engine on the warehouse (catalog reload) and
    ``reattach_warehouse`` open the empty table with its schema and
    run no job; PRIMARY KEY and NOT NULL are still enforced."""
    e = Engine(spark, warehouse=wh)
    e.create_table("ct_t", DDL)
    schema = e.table("ct_t").schema
    e.close()
    spark.catalog.dropTempView("ct_t")

    e2, jobs = spark_jobs(spark, lambda: Engine(spark, warehouse=wh))
    try:
        assert jobs == 0 and e2.catalog_load_warnings == []
        assert e2.table("ct_t").schema == schema
        _assert_enforced(e2)
        # The registration lost, the catalog's constraints kept.
        spark.catalog.dropTempView("ct_t")
        del e2._tables["ct_t"]
        names, jobs = spark_jobs(spark, e2.reattach_warehouse)
        assert names == ["ct_t"] and jobs == 0
        assert e2.table("ct_t").schema == schema
        _assert_enforced(e2)
    finally:
        e2.close()
    spark.catalog.dropTempView("ct_t")

    os.remove(os.path.join(wh, "_catalog.json"))
    e3 = Engine(spark, warehouse=wh)
    try:
        names, jobs = spark_jobs(spark, e3.reattach_warehouse)
        assert names == ["ct_t"] and jobs == 0
        assert e3.table("ct_t").schema == schema
        assert e3.table("ct_t").collect() == []
    finally:
        e3.close()


def test_time_travel_to_the_created_version(spark, wh):
    e = Engine(spark, warehouse=wh)
    try:
        e.create_table("ct_t", DDL)
        e.insert_values("ct_t", [(1, 1, "a"), (2, 2, None)])
        v0, jobs = spark_jobs(spark, lambda: e.table_at_version("ct_t", 0))
        assert jobs == 0
        assert v0.schema == e.table("ct_t").schema and v0.collect() == []
        e.restore_version("ct_t", 0)
        assert e.table("ct_t").collect() == []
        m = manifest.read_manifest(e._tables["ct_t"].path)
        assert (m["version"], m["files"]) == (2, [])
        assert [h["op"] for h in e.history("ct_t")] == ["insert", "restore v0"]
        assert _rows(e.table_at_version("ct_t", 1)) == [(1, 1, "a"),
                                                         (2, 2, None)]
    finally:
        e.close()


def test_facade_on_an_empty_table(spark, wh):
    e = Engine(spark, warehouse=wh)
    try:
        e.create_table("ct_t", DDL)
        assert e.describe("ct_t") == [("id", "BIGINT", "YES"),
                                      ("qty", "INTEGER", "YES"),
                                      ("tag", "VARCHAR", "YES")]
        summary = {r["column_name"]: r for r in e.summarize("ct_t").collect()}
        assert sorted(summary) == ["id", "qty", "tag"]
        assert {r["n_rows"] for r in summary.values()} == {0}
        assert e.table_files("ct_t").collect() == []
        assert e.compact_table("ct_t") == {"files_before": 0,
                                           "files_after": 0}
        assert e.delete_from("ct_t", "id = 1") == 0
        assert e.update_table("ct_t", {"qty": "qty + 1"}) == 0
        src = spark.createDataFrame([(1, 1, "a"), (2, 2, None)], SOURCE)
        assert e.merge_upsert("ct_t", src, ["id"]) == {"updated": 0,
                                                       "inserted": 2}
        assert _rows(e.table("ct_t")) == [(1, 1, "a"), (2, 2, None)]
        path = e._tables["ct_t"].path
        assert all("schema" in m for m in manifest.versions(path))
    finally:
        e.close()


def test_delete_to_empty_commits_no_file(spark, wh):
    """A DELETE that removes every row of a small table is one job and
    commits a version with no file; the table reloads with its
    schema."""
    e = Engine(spark, warehouse=wh)
    e.create_table("ct_t", DDL)
    e.insert_values("ct_t", [(i, i, "a") for i in range(10)])
    schema = e.table("ct_t").schema
    path = e._tables["ct_t"].path
    n, jobs = spark_jobs(spark, lambda: e.delete_from("ct_t", "qty >= 0"))
    assert (n, jobs) == (10, 1)
    m = manifest.read_manifest(path)
    assert m["files"] == [] and m["schema"] == schema.json()
    assert e.table("ct_t").collect() == []
    e.close()
    spark.catalog.dropTempView("ct_t")
    e2 = Engine(spark, warehouse=wh)
    try:
        assert e2.table("ct_t").schema == schema
        assert e2.table("ct_t").collect() == []
        e2.insert_values("ct_t", [(3, 3, "c")])
        assert _rows(e2.table("ct_t")) == [(3, 3, "c")]
    finally:
        e2.close()


def test_manifest_without_schema_attaches_through_the_footer(spark, wh):
    """A table directory whose manifest has no ``schema`` field (the
    layout before versions carried one) opens with the schema of its
    data file's footer, without a job; its next commit records one."""
    path = os.path.join(wh, "ct_old")
    spark.createDataFrame([(1, "a")], "id INT, v STRING").coalesce(1) \
        .write.parquet(path)
    files = sorted(_parquet_on_disk(path))
    manifest.try_commit(path, files, "create", 0)
    assert "schema" not in manifest.read_manifest(path)
    e = Engine(spark, warehouse=wh)
    try:
        names, jobs = spark_jobs(spark, e.reattach_warehouse)
        assert names == ["ct_old"] and jobs == 0
        ref = spark.read.parquet(*[os.path.join(path, f) for f in files])
        assert e.table("ct_old").schema == ref.schema
        assert _rows(e.table("ct_old")) == [(1, "a")]
        e.insert_values("ct_old", [(2, "b")])
        assert _rows(e.table("ct_old")) == [(1, "a"), (2, "b")]
        assert "schema" in manifest.read_manifest(path)
        df, jobs = spark_jobs(spark, lambda: e.table_at_version("ct_old", 0))
        assert jobs == 0 and df.schema == ref.schema
        assert _rows(df) == [(1, "a")]
    finally:
        e.close()
