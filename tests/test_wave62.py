"""Wave-62 pins: IVF-PQ in the persisted vector index.

Claims under test: (1) with ``rerank`` covering every candidate in
the probed cells, PQ serving returns EXACTLY the exact-path top-k
(the ADC pass is then only a candidate generator and the exact
re-rank decides — so quantization can cost recall only through the
rerank cut, never through scoring arithmetic); (2) the rerank knob
actually bounds the exact-scored set; (3) tombstoned ids never
surface through the PQ path; (4) upsert encodes the new batch into
``__codes`` (same txn discipline as cells) and the new vectors are
PQ-servable; (5) vacuum rewrites codes alongside cells; (6) a second
Engine serves PQ from the catalog with zero rebuild; (7) the codes
scan carries the probed-cell filter to the parquet source."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from duckdb_distributed_execution_spark import Engine

SF = "/root/testdata/sf0.01"


@pytest.fixture()
def warehouse(tmp_path):
    return str(tmp_path / "wh")


def _ids(df):
    return {(r["query_id"], r["neighbor_id"], r["rank"]) for r in df.collect()}


def _setup(spark, warehouse):
    e = Engine(spark, warehouse=warehouse)
    e.register_table("vi62_corpus", f"{SF}/embeddings.parquet", replace=True)
    corpus = spark.table("vi62_corpus").filter(F.col("vec_id") >= 8)
    corpus.createOrReplaceTempView("vi62_corpus")
    queries = spark.read.parquet(f"{SF}/embeddings.parquet").filter(
        (F.col("vec_id") >= 8) & (F.col("vec_id") < 13)
    )
    return e, corpus, queries


def test_pq_with_full_rerank_equals_exact_serve(spark, warehouse):
    e, corpus, queries = _setup(spark, warehouse)
    try:
        e.create_vector_index("vi62", "vi62_corpus", n_cells=4, pq_m=8)
        for t in ("vi62__codebook", "vi62__codes"):
            assert e.table_exists(t), t
        exact = e.vector_search("vi62", queries, k=5, nprobe=2)
        pq = e.vector_search(
            "vi62", queries, k=5, nprobe=2, use_pq=True, rerank=10**6
        )
        assert _ids(pq) == _ids(exact)
        # sims agree to float noise (numpy matmul vs JVM fold)
        sims_e = {(r["query_id"], r["neighbor_id"]): r["sim"]
                  for r in exact.collect()}
        for r in pq.collect():
            assert abs(r["sim"] - sims_e[(r["query_id"], r["neighbor_id"])]) < 1e-9
    finally:
        e.drop_vector_index("vi62", if_exists=True)
        e.close()


def test_rerank_bounds_candidates(spark, warehouse):
    e, corpus, queries = _setup(spark, warehouse)
    try:
        e.create_vector_index("vi62", "vi62_corpus", n_cells=4, pq_m=8)
        out = e.vector_search(
            "vi62", queries, k=5, nprobe=1, use_pq=True, rerank=5
        )
        per_q = out.groupBy("query_id").count().collect()
        assert all(r["count"] <= 5 for r in per_q)
        # k > rerank would truncate to rerank candidates — still ranked
        assert out.filter(F.col("rank") > 5).count() == 0
    finally:
        e.drop_vector_index("vi62", if_exists=True)
        e.close()


def test_pq_serve_honors_tombstones(spark, warehouse):
    e, corpus, queries = _setup(spark, warehouse)
    try:
        e.create_vector_index("vi62", "vi62_corpus", n_cells=4, pq_m=8)
        first = e.vector_search(
            "vi62", queries, k=3, nprobe=2, use_pq=True, rerank=64
        ).collect()
        victim = first[0]["neighbor_id"]
        e.vector_index_delete("vi62", [victim])
        after = e.vector_search(
            "vi62", queries, k=3, nprobe=2, use_pq=True, rerank=64
        )
        assert after.filter(F.col("neighbor_id") == victim).count() == 0
    finally:
        e.drop_vector_index("vi62", if_exists=True)
        e.close()


def test_upsert_encodes_codes_and_serves_new_vectors(spark, warehouse):
    e, corpus, queries = _setup(spark, warehouse)
    try:
        e.create_vector_index("vi62", "vi62_corpus", n_cells=4, pq_m=8)
        codes_before = e.table("vi62__codes").count()
        # clones of existing vectors under fresh huge ids: guaranteed
        # nearest-neighbor hits for their originals' queries
        batch = queries.select(
            (F.col("vec_id") + 10_000_000).alias("vec_id"),
            "embedding", "label",
        )
        n = e.vector_index_upsert("vi62", batch)
        assert n == batch.count()
        codes_after = e.table("vi62__codes").count()
        meta = e._vector_indexes["vi62"]
        assert codes_after - codes_before == n * meta["pq_m"]
        out = e.vector_search(
            "vi62", queries, k=2, nprobe=1, use_pq=True, rerank=64
        )
        # each query's clone (sim 1.0 with itself) must surface
        hits = out.filter(
            F.col("neighbor_id") == F.col("query_id") + 10_000_000
        ).count()
        assert hits == queries.count()
    finally:
        e.drop_vector_index("vi62", if_exists=True)
        e.close()


def test_vacuum_rewrites_codes(spark, warehouse):
    e, corpus, queries = _setup(spark, warehouse)
    try:
        e.create_vector_index("vi62", "vi62_corpus", n_cells=4, pq_m=8)
        meta = e._vector_indexes["vi62"]
        victims = [r["vec_id"] for r in corpus.limit(3).collect()]
        e.vector_index_delete("vi62", victims)
        before = e.table("vi62__codes").count()
        removed = e.vector_index_vacuum("vi62")
        assert removed == 3
        assert before - e.table("vi62__codes").count() == 3 * meta["pq_m"]
        assert e.table("vi62__tombstones").count() == 0
    finally:
        e.drop_vector_index("vi62", if_exists=True)
        e.close()


def test_pq_survives_second_session(spark, warehouse):
    e, corpus, queries = _setup(spark, warehouse)
    expected = None
    try:
        e.create_vector_index("vi62", "vi62_corpus", n_cells=4, pq_m=8)
        expected = _ids(
            e.vector_search("vi62", queries, k=5, nprobe=2,
                            use_pq=True, rerank=16)
        )
    finally:
        e.close()
    e2 = Engine(spark, warehouse=warehouse)
    try:
        got = _ids(
            e2.vector_search("vi62", queries, k=5, nprobe=2,
                             use_pq=True, rerank=16)
        )
        assert got == expected
        assert e2._vector_indexes["vi62"]["pq_m"] == 8
    finally:
        e2.drop_vector_index("vi62", if_exists=True)
        e2.close()


def test_codes_scan_pushes_cell_filter(spark, warehouse):
    e, corpus, queries = _setup(spark, warehouse)
    try:
        e.create_vector_index("vi62", "vi62_corpus", n_cells=4, pq_m=8)
        from duckdb_distributed_execution_spark.operators.similarity import (
            ivf_pq_serve_topk,
        )

        df = ivf_pq_serve_topk(
            e.table("vi62__codes"),
            e.table("vi62__cells"),
            queries,
            e.table("vi62__centroids"),
            e.table("vi62__codebook"),
            k=5,
            nprobe=1,
            rerank=8,
        )
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "cid" in plan and "PushedFilters" in plan
    finally:
        e.drop_vector_index("vi62", if_exists=True)
        e.close()
