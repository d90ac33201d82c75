"""A managed table's view has the schema of the files it lists.

The engine attaches a table's view with the schema of the frame it
just wrote instead of letting Spark infer it from a file footer (an
inference is one Spark job per write). This holds only if the two are
the same schema, so after every write kind the view's schema must
equal what a fresh ``spark.read.parquet`` of the manifest-listed files
infers — types, nullability and field metadata alike — and so must
the schema the manifest version records. The table mixes
the types whose parquet round trip has pitfalls: DECIMAL, TIMESTAMP
and ARRAY<FLOAT>.
"""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from duckdb_distributed_execution_spark import manifest

SF = "/root/testdata/sf0.01"
DDL = ("id BIGINT PRIMARY KEY, amt DECIMAL(12,2) NOT NULL, ts TIMESTAMP, "
       "embedding FLOAT[], tag VARCHAR")


def _rows(spark, lo, hi):
    return (
        spark.read.parquet(f"{SF}/embeddings.parquet")
        .filter(F.col("vec_id").between(lo, hi - 1))
        .select(
            F.col("vec_id").alias("id"),
            (F.col("vec_id") / 3).cast("decimal(12,2)").alias("amt"),
            F.timestamp_seconds(F.col("vec_id") * 3600).alias("ts"),
            F.col("embedding"),
            F.when(F.col("vec_id") % 2 == 0, "even").alias("tag"),
        )
    )


def _check(eng, name):
    """The view has the schema Spark infers from the live files; a
    version that lists no file has only the schema it records, read
    as a scan reads a given schema (nullable). The recorded schema,
    which a reload opens the table with, reads as the same."""
    m = manifest.read_manifest(eng._tables[name].path)
    recorded = eng.spark.read.schema(
        T.StructType.fromJson(json.loads(m["schema"]))).parquet().schema
    files = eng._managed_files(name)
    inferred = eng.spark.read.parquet(*files).schema if files else recorded
    assert eng.table(name).schema == inferred, name
    assert eng.table(name).schema.json() == inferred.json(), name
    assert recorded.json() == inferred.json(), name


@pytest.fixture()
def eng(spark, tmp_path):
    from duckdb_distributed_execution_spark import Engine

    e = Engine(spark, warehouse=str(tmp_path / "wh"))
    yield e
    e.drop_vector_index("ws_idx", if_exists=True)
    for name in ("ws_t", "ws_t2"):
        e.drop_table(name, if_exists=True)
    e.close()


def test_view_schema_matches_files_after_every_write(spark, eng, tmp_path):
    eng.create_table("ws_t", DDL)
    _check(eng, "ws_t")
    eng.insert_into("ws_t", _rows(spark, 0, 40))
    _check(eng, "ws_t")
    assert eng.delete_from("ws_t", "id % 5 = 0") == 8
    _check(eng, "ws_t")
    assert eng.update_table("ws_t", {"amt": "amt * 2", "tag": "'upd'"},
                            "id < 10") == 8
    _check(eng, "ws_t")
    got = eng.merge_upsert("ws_t", _rows(spark, 35, 45), on=["id"])
    assert got == {"updated": 4, "inserted": 6}
    _check(eng, "ws_t")

    src = str(tmp_path / "copy_src")
    _rows(spark, 100, 110).write.parquet(src)
    assert eng.copy_from("ws_t", src) == 10
    _check(eng, "ws_t")
    assert len(eng._managed_files("ws_t")) >= 2
    assert eng.optimize_compact("ws_t") >= 2
    _check(eng, "ws_t")

    eng.add_column("ws_t", "extra", "INTEGER", default=7)
    _check(eng, "ws_t")
    eng.alter_column_type("ws_t", "extra", "BIGINT")
    _check(eng, "ws_t")
    assert dict(eng.table("ws_t").dtypes)["extra"] == "bigint"
    eng.rename_column("ws_t", "extra", "extra2")
    _check(eng, "ws_t")
    eng.drop_column("ws_t", "extra2")
    _check(eng, "ws_t")

    eng.restore_version("ws_t", 2)
    _check(eng, "ws_t")
    eng.rename_table("ws_t", "ws_t2")
    _check(eng, "ws_t2")

    eng.create_vector_index("ws_idx", "ws_t2", id_col="id",
                            vec_col="embedding", n_cells=2)
    for part in ("centroids", "cells", "tombstones", "graph"):
        _check(eng, f"ws_idx__{part}")
    assert eng.delete_from("ws_t2", "id < 3") > 0
    _check(eng, "ws_idx__tombstones")
