"""File-pruned copy-on-write DML (round-5 verdict task 2).

A managed table is a directory of immutable parquet files; DELETE and
UPDATE must rewrite ONLY the files that contain predicate-matching
rows. These tests prove it structurally: after a selective DELETE, the
non-matching files are the SAME files (same inode — never rewritten,
not merely equal bytes), which is exactly the property that makes
DELETE cost scale with matched files instead of table size at 100 TB.
The matched-row count comes from the same single probe scan (the old
form ran count() + full rewrite + count(): three full passes)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F


@pytest.fixture()
def dml_engine(spark):
    from duckdb_distributed_execution_spark import Engine

    eng = Engine(spark)
    # Disable small-table compaction so inserts append distinct files —
    # the multi-file layout every production-scale table has.
    eng._COMPACT_BYTES = 0
    yield eng
    eng.close()


def _make_batched_table(spark, eng, name):
    """3 inserts → (at least) 3 parquet files with disjoint key ranges:
    file A holds k∈[0,100), B k∈[100,200), C k∈[200,300)."""
    if eng.table_exists(name):
        eng.drop_table(name)
    eng.create_table(name, "k BIGINT, v VARCHAR")
    for lo in (0, 100, 200):
        batch = spark.range(lo, lo + 100).select(
            F.col("id").alias("k"), F.concat(F.lit("v"), F.col("id")).alias("v")
        ).repartition(1)
        eng.insert_into(name, batch)
    return {p: os.stat(p).st_ino for p in eng._managed_files(name)}


def test_selective_delete_rewrites_only_matching_files(spark, dml_engine):
    eng = dml_engine
    inodes_before = _make_batched_table(spark, eng, "fp_del_t")
    assert len(inodes_before) >= 3, "setup must produce a multi-file table"

    matched, n = eng._matched_files("fp_del_t", "k BETWEEN 120 AND 140")
    assert n == 21 and len(matched) == 1, "probe must localize one file"

    deleted = eng.delete_from("fp_del_t", "k BETWEEN 120 AND 140")
    assert deleted == 21

    inodes_after = {
        p: os.stat(p).st_ino for p in eng._managed_files("fp_del_t")
    }
    untouched = set(inodes_before) - set(matched)
    for p in untouched:
        assert p in inodes_after and inodes_after[p] == inodes_before[p], (
            f"non-matching file {p} was rewritten — DELETE cost would "
            "scale with table size, not matched files"
        )
    for p in matched:
        assert p not in inodes_after, "matched file must be replaced"

    remaining = eng.table("fp_del_t")
    assert remaining.count() == 279
    assert remaining.filter("k BETWEEN 120 AND 140").count() == 0
    # rows sharing the rewritten file but NOT matching survive intact
    assert remaining.filter("k BETWEEN 100 AND 119").count() == 20


def test_delete_null_condition_semantics_preserved(spark, dml_engine):
    """Rows where the predicate is NULL are KEPT (SQL DELETE deletes
    only condition-TRUE rows) — on the file-pruned path too."""
    eng = dml_engine
    if eng.table_exists("fp_null_t"):
        eng.drop_table("fp_null_t")
    eng.create_table("fp_null_t", "k BIGINT, v BIGINT")
    eng.insert_values("fp_null_t", [(1, 10), (2, None), (3, 30)])
    eng.insert_values("fp_null_t", [(4, 40), (5, None)])
    deleted = eng.delete_from("fp_null_t", "v > 20")
    assert deleted == 2  # k=3,4; NULL-v rows kept
    assert sorted(r["k"] for r in eng.table("fp_null_t").collect()) == [1, 2, 5]


def test_delete_no_match_is_free(spark, dml_engine):
    eng = dml_engine
    inodes_before = _make_batched_table(spark, eng, "fp_nom_t")
    versions_before = len(eng.history("fp_nom_t"))
    assert eng.delete_from("fp_nom_t", "k > 10000") == 0
    inodes_after = {
        p: os.stat(p).st_ino for p in eng._managed_files("fp_nom_t")
    }
    assert inodes_after == inodes_before, "no-match DELETE must not rewrite"
    assert len(eng.history("fp_nom_t")) == versions_before


def test_delete_time_travel_still_sees_predelete_state(spark, dml_engine):
    eng = dml_engine
    _make_batched_table(spark, eng, "fp_tt_t")
    v = len(eng.history("fp_tt_t"))
    eng.delete_from("fp_tt_t", "k < 50")
    old = eng.table_at_version("fp_tt_t", v)
    assert old.count() == 300, "snapshot must hold the pre-delete state"
    assert eng.table("fp_tt_t").count() == 250


def test_selective_update_rewrites_only_matching_files(spark, dml_engine):
    eng = dml_engine
    inodes_before = _make_batched_table(spark, eng, "fp_upd_t")
    matched, _ = eng._matched_files("fp_upd_t", "k BETWEEN 210 AND 215")

    updated = eng.update_table(
        "fp_upd_t", {"v": "v || '!'"}, "k BETWEEN 210 AND 215"
    )
    assert updated == 6

    inodes_after = {
        p: os.stat(p).st_ino for p in eng._managed_files("fp_upd_t")
    }
    for p in set(inodes_before) - set(matched):
        assert inodes_after.get(p) == inodes_before[p]

    t = eng.table("fp_upd_t")
    assert t.count() == 300
    assert t.filter("v = 'v210!'").count() == 1
    # same-file non-matching rows carried through unchanged
    assert t.filter("v = 'v209'").count() == 1
    assert dict(t.dtypes)["v"] == "string", "schema must not drift per-file"


def test_table_files_zone_maps(spark, dml_engine):
    """table_files exposes per-file footer zone maps — the metadata
    that explains a file-pruned DELETE's file choice."""
    eng = dml_engine
    _make_batched_table(spark, eng, "fp_meta_t")
    tf = eng.table_files("fp_meta_t").collect()
    k_rows = [r for r in tf if r["column"] == "k" and r["n_rows"] == 100]
    assert len(k_rows) == 3
    ranges = sorted((int(r["min_val"]), int(r["max_val"])) for r in k_rows)
    assert ranges == [(0, 99), (100, 199), (200, 299)]


def test_optimize_compact_bin_packs_small_files(spark, dml_engine):
    eng = dml_engine
    _make_batched_table(spark, eng, "fp_cpt_t")
    before = eng.table("fp_cpt_t").groupBy().sum("k").collect()[0][0]
    n_files_before = len(eng._managed_files("fp_cpt_t"))
    compacted = eng.optimize_compact("fp_cpt_t")
    assert compacted == n_files_before
    assert len(eng._managed_files("fp_cpt_t")) < n_files_before
    t = eng.table("fp_cpt_t")
    assert t.count() == 300
    assert t.groupBy().sum("k").collect()[0][0] == before
    # compaction is versioned like any mutation
    assert eng.history("fp_cpt_t")[-1]["op"] == "compact"


def test_update_type_is_cast_back(spark, dml_engine):
    """A widening SET expression must not change the schema of only
    the rewritten files."""
    eng = dml_engine
    if eng.table_exists("fp_cast_t"):
        eng.drop_table("fp_cast_t")
    eng.create_table("fp_cast_t", "k BIGINT, v INTEGER")
    eng.insert_values("fp_cast_t", [(1, 10), (2, 20)])
    eng.insert_values("fp_cast_t", [(3, 30)])
    eng.update_table("fp_cast_t", {"v": "v * 2.5"}, "k = 3")
    t = eng.table("fp_cast_t")
    assert dict(t.dtypes)["v"] == "int"
    assert {r["v"] for r in t.collect()} == {10, 20, 75}
