"""Managed-table writes that change nothing, and the edge shapes of the
row counts a write observes on its own plan.

A DELETE, UPDATE, MERGE, INSERT or COPY FROM that changes no row
stages its files, reads the observed count, then unlinks what it
staged: no manifest version (so no history entry), no file left in
the table directory or next to it. The counts must stay right on an empty table, an empty
source, after DELETE ... WHERE true (whose constant-FALSE filter makes
Spark drop the observation) and when MERGE's primary-key check runs
over the merged rows. A write that breaks a constraint also stages
first and leaves nothing behind, and its key check sees rows another
process appended.
"""

from __future__ import annotations

import os

import pytest

from duckdb_distributed_execution_spark import manifest

DDL = "id BIGINT PRIMARY KEY, code INTEGER, v VARCHAR"
SCHEMA = "id BIGINT, code INT, v STRING"


@pytest.fixture()
def eng(spark, tmp_path):
    from duckdb_distributed_execution_spark import Engine

    e = Engine(spark, warehouse=str(tmp_path / "wh"))
    e.create_table("we_t", DDL)
    e.insert_values("we_t", [(i, i * 10, f"v{i}") for i in range(20)])
    yield e
    e.drop_vector_index("we_idx", if_exists=True)
    e.drop_table("we_t", if_exists=True)
    e.close()


def _state(eng, name):
    """Everything a committed write would change."""
    path = eng._tables[name].path
    parent = os.path.dirname(os.path.realpath(path))
    return (eng.history(name), manifest.read_manifest(path)["version"],
            sorted(os.listdir(path)), sorted(os.listdir(parent)))


def _rows(eng, name):
    return sorted(map(tuple, eng.table(name).collect()))


def test_writes_changing_nothing_commit_nothing(spark, eng, tmp_path):
    before, rows = _state(eng, "we_t"), _rows(eng, "we_t")
    assert eng.delete_from("we_t", "id > 1000") == 0
    assert _state(eng, "we_t") == before
    assert eng.update_table("we_t", {"v": "'x'"}, "id > 1000") == 0
    assert _state(eng, "we_t") == before
    empty = spark.createDataFrame([], SCHEMA)
    assert eng.merge_upsert("we_t", empty, on=["id"]) == {
        "updated": 0, "inserted": 0}
    assert _state(eng, "we_t") == before
    src = str(tmp_path / "empty_src")
    empty.write.parquet(src)
    assert eng.copy_from("we_t", src) == 0
    assert _state(eng, "we_t") == before
    eng.insert_into("we_t", empty)
    assert _state(eng, "we_t") == before
    eng._COMPACT_BYTES = 0  # the large table's append path
    eng.insert_into("we_t", empty)
    assert _state(eng, "we_t") == before
    assert _rows(eng, "we_t") == rows


def _append_externally(eng, name, rows):
    """Commit ``rows`` the way another process appends to the table
    (a parquet file plus manifest.commit_append), unseen by ``eng``'s
    view."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    path = eng._tables[name].path
    ids, codes, vs = zip(*rows)
    pq.write_table(pa.table({
        "id": pa.array(ids, pa.int64()),
        "code": pa.array(codes, pa.int32()),
        "v": pa.array(vs, pa.string()),
    }), os.path.join(path, "external-0.parquet"))
    manifest.commit_append(path, ["external-0.parquet"], "external append")


@pytest.mark.parametrize("op", ["delete", "update", "insert", "merge",
                                "add_column"])
def test_whole_rewrite_keeps_rows_appended_by_another_process(spark, eng,
                                                              op):
    """A small-table write rewrites every live file. It must read the
    files of the manifest it commits over, not this engine's view: a
    file another process appended since the view was attached is
    carried into the new version, not dropped."""
    ext = [(500, 5000, "ext500"), (501, 5010, "ext501")]
    _append_externally(eng, "we_t", ext)
    assert eng._small("we_t")
    if op == "delete":
        assert eng.delete_from("we_t", "id < 2") == 2
    elif op == "update":
        assert eng.update_table("we_t", {"v": "'u'"}, "id < 2") == 2
    elif op == "insert":
        eng.insert_values("we_t", [(600, 6000, "ins")])
    elif op == "merge":
        assert eng.merge_upsert("we_t", spark.createDataFrame(
            [(0, 1, "m")], SCHEMA), on=["id"]) == {
                "updated": 1, "inserted": 0}
    else:
        eng.add_column("we_t", "extra", "INTEGER", default=1)
    got = {r["id"]: r["v"] for r in eng.table("we_t").collect()}
    assert got[500] == "ext500" and got[501] == "ext501"


def _commit_externally(eng, name, df, fname):
    """Commit ``df``'s rows to managed table ``name`` the way another
    process does (a parquet file plus manifest.commit_append), unseen
    by ``eng``'s view."""
    import shutil

    path = eng._tables[name].path
    stage = path + "-external"
    df.coalesce(1).write.parquet(stage)
    part = next(f for f in os.listdir(stage) if f.endswith(".parquet"))
    os.rename(os.path.join(stage, part), os.path.join(path, fname))
    shutil.rmtree(stage)
    manifest.commit_append(path, [fname], "external append")


def test_vector_vacuum_keeps_writes_of_another_process(spark, eng,
                                                       monkeypatch):
    """vector_index_vacuum applies the tombstones the manifest lists
    and rewrites the cells the manifest lists: an upsert and a delete
    another process committed since this engine attached its views are
    kept and applied, and a delete committed while the vacuum runs is
    left for the next vacuum."""
    from pyspark.sql import functions as F

    corpus = spark.read.parquet(
        "/root/testdata/sf0.01/embeddings.parquet").filter("vec_id < 32")
    eng.create_table("we_vec", "vec_id BIGINT, embedding FLOAT[]")
    try:
        eng.insert_into("we_vec", corpus.select("vec_id", "embedding"))
        eng.create_vector_index("we_idx", "we_vec", n_cells=2)
        assert eng.vector_index_delete("we_idx", [1, 2]) == 2
        cells = eng.table("we_idx__cells")
        tomb = eng.table("we_idx__tombstones")

        def tombstone(i):
            return spark.createDataFrame([(i,)], tomb.schema)

        _commit_externally(
            eng, "we_idx__cells",
            cells.filter("vec_id = 7").withColumn(
                "vec_id", F.lit(900).cast("long")),
            "external-upsert.parquet")
        _commit_externally(eng, "we_idx__tombstones", tombstone(3),
                           "external-delete.parquet")
        rewrite = eng._rewrite

        def racing(name, *args, **kwargs):
            if name == "we_idx__cells":
                _commit_externally(eng, "we_idx__tombstones", tombstone(4),
                                   "external-late-delete.parquet")
            return rewrite(name, *args, **kwargs)

        monkeypatch.setattr(eng, "_rewrite", racing)
        assert eng.vector_index_vacuum("we_idx") == 3
        ids = {r.vec_id for r in eng.table("we_idx__cells").collect()}
        assert 900 in ids and 4 in ids and not ids & {1, 2, 3}
        assert [r.vec_id for r in eng.table("we_idx__tombstones").collect()
                ] == [4]
    finally:
        eng.drop_vector_index("we_idx", if_exists=True)
        eng.drop_table("we_vec")


def test_delete_all_then_merge(spark, eng):
    assert eng.delete_from("we_t", "true") == 20
    assert _rows(eng, "we_t") == []
    src = spark.createDataFrame([(1, 5, "a"), (2, 6, "b")], SCHEMA)
    assert eng.merge_upsert("we_t", src, on=["id"]) == {
        "updated": 0, "inserted": 2}
    assert _rows(eng, "we_t") == [(1, 5, "a"), (2, 6, "b")]


def test_merge_into_empty_table_and_with_empty_source(spark, eng):
    eng.create_table("we_empty", DDL)
    try:
        src = spark.createDataFrame([(7, 70, "s")], SCHEMA)
        assert eng.merge_upsert("we_empty", src, on=["id"]) == {
            "updated": 0, "inserted": 1}
        assert eng.merge_upsert(
            "we_empty", spark.createDataFrame([], SCHEMA), on=["id"]
        ) == {"updated": 0, "inserted": 0}
        assert _rows(eng, "we_empty") == [(7, 70, "s")]
    finally:
        eng.drop_table("we_empty")


def test_merge_on_non_key_columns_counts_the_write(spark, eng):
    """ON ``code`` does not cover the PRIMARY KEY, so the key check runs
    over the merged rows; it and the counts come from the write."""
    src = spark.createDataFrame(
        [(100, 30, "new30"), (101, 999, "new999")], SCHEMA)
    assert eng.merge_upsert("we_t", src, on=["code"]) == {
        "updated": 1, "inserted": 1}
    rows = _rows(eng, "we_t")
    assert len(rows) == 21
    assert (100, 30, "new30") in rows and (3, 30, "v3") not in rows
    with pytest.raises(ValueError, match="duplicate key"):
        eng.merge_upsert("we_t", spark.createDataFrame(
            [(5, 12345, "dup")], SCHEMA), on=["code"])


def test_small_table_delete_tombstones_vector_index(spark, eng):
    from pyspark.sql import functions as F

    corpus = spark.read.parquet(
        "/root/testdata/sf0.01/embeddings.parquet").filter("vec_id < 32")
    eng.create_table("we_vec", "vec_id BIGINT, embedding FLOAT[]")
    try:
        eng.insert_into("we_vec", corpus.select("vec_id", "embedding"))
        eng.create_vector_index("we_idx", "we_vec", n_cells=2)
        assert eng._small("we_vec")
        assert eng.delete_from("we_vec", "vec_id IN (1, 2, 30)") == 3
        assert eng.delete_from("we_vec", "vec_id > 100000") == 0
        tomb = eng.table("we_idx__tombstones")
        assert sorted(r.vec_id for r in tomb.collect()) == [1, 2, 30]
        assert eng.table("we_vec").filter(
            F.col("vec_id").isin(1, 2, 30)).count() == 0
    finally:
        eng.drop_vector_index("we_idx", if_exists=True)
        eng.drop_table("we_vec")


@pytest.mark.parametrize("large", [False, True], ids=["small", "large"])
@pytest.mark.parametrize("op", ["insert", "copy_from"])
def test_key_check_sees_rows_appended_by_another_process(spark, eng,
                                                         tmp_path, op,
                                                         large):
    """The PRIMARY KEY check reads the files of the manifest the write
    commits over: a key only another process's appended file holds is
    a duplicate, whether the write rewrites a small table or appends
    to a large one."""
    if large:
        eng._COMPACT_BYTES = 0
    _append_externally(eng, "we_t", [(500, 5000, "ext500")])
    src = str(tmp_path / "copy_src")
    spark.createDataFrame([(500, 1, "mine")], SCHEMA).write.parquet(src)
    before = _state(eng, "we_t")
    with pytest.raises(ValueError, match=r"duplicate key \['id'\]"):
        if op == "insert":
            eng.insert_values("we_t", [(500, 1, "mine")])
        else:
            eng.copy_from("we_t", src)
    assert _state(eng, "we_t") == before
    live = eng._scan("we_t", eng._managed_files("we_t"))
    assert live.filter("id = 500").count() == 1


@pytest.mark.parametrize("large", [False, True], ids=["small", "large"])
@pytest.mark.parametrize("case", ["insert_duplicate_key", "insert_null",
                                  "merge_duplicate_source_key"])
def test_rejected_write_leaves_no_trace(spark, eng, case, large):
    """A write that breaks a constraint raises after staging its files
    and before the commit: the manifest version, the history and the
    files in and next to the table directory are as they were."""
    if large:
        eng._COMPACT_BYTES = 0
    before, rows = _state(eng, "we_t"), _rows(eng, "we_t")
    if case == "insert_duplicate_key":
        src, match = [(3, 1, "again"), (100, 2, "new")], "duplicate key"
    elif case == "insert_null":
        # a nullable source: the NOT NULL rule cannot fold away
        src, match = [(100, 1, "new"), (None, 2, "null id")], "NOT NULL"
    else:
        src = [(3, 1, "a"), (3, 2, "b"), (100, 3, "new")]
        match = "duplicate keys in source"
    df = spark.createDataFrame(src, SCHEMA)
    with pytest.raises(ValueError, match=match):
        if case.startswith("insert"):
            eng.insert_into("we_t", df)
        else:
            eng.merge_upsert("we_t", df, on=["id"])
    assert _state(eng, "we_t") == before
    assert _rows(eng, "we_t") == rows


@pytest.mark.parametrize("large", [False, True], ids=["small", "large"])
def test_insert_empty_source_into_keyed_table(spark, eng, large):
    """An empty source adds nothing to check; if Spark prunes a tap of
    the empty rows, the gate aggregates them directly."""
    if large:
        eng._COMPACT_BYTES = 0
    rows = _rows(eng, "we_t")
    eng.insert_into("we_t", spark.createDataFrame([], SCHEMA))
    assert _rows(eng, "we_t") == rows
    eng.create_table("we_empty", DDL)
    try:
        eng.insert_into("we_empty", spark.createDataFrame([], SCHEMA))
        assert _rows(eng, "we_empty") == []
    finally:
        eng.drop_table("we_empty")
