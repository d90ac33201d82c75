"""Wave-61 pins: the persisted vector index (build once, serve many).

The claims under test: (1) serving from the persisted cells table is
BIT-IDENTICAL to the online ivf_topk path (same routing convention,
same masked numpy scoring), for both nprobe and graph routing;
(2) the index survives a second Engine on the same warehouse with
zero rebuild (catalog + manifest-committed managed tables — the
round-8 durability machinery); (3) the serve-time scan carries the
``cid IN probed`` filter down to the parquet source (the cells table
is written cid-sorted, so the filter prunes row groups at scale);
(4) drop removes the backing tables and the catalog entry durably."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from duckdb_distributed_execution_spark import Engine
from duckdb_distributed_execution_spark.operators.similarity import (
    ivf_topk,
)

SF = "/root/testdata/sf0.01"


@pytest.fixture()
def warehouse(tmp_path):
    return str(tmp_path / "wh")


def _pairs(df):
    return {
        (r["query_id"], r["neighbor_id"], r["rank"], round(r["sim"], 9))
        for r in df.collect()
    }


def _setup(spark, warehouse):
    for n in ("vi_corpus", "vi__centroids", "vi__cells", "vi__graph"):
        spark.catalog.dropTempView(n)
    e = Engine(spark, warehouse=warehouse)
    e.register_table(
        "vi_corpus", f"{SF}/embeddings.parquet", replace=True
    )
    corpus = spark.table("vi_corpus").filter(F.col("vec_id") >= 8)
    corpus.createOrReplaceTempView("vi_corpus")
    queries = spark.read.parquet(f"{SF}/embeddings.parquet").filter(
        (F.col("vec_id") >= 8) & (F.col("vec_id") < 13)
    )
    return e, corpus, queries


def test_serve_matches_online_ivf_bit_for_bit(spark, warehouse):
    e, corpus, queries = _setup(spark, warehouse)
    try:
        e.create_vector_index("vi", "vi_corpus", n_cells=4, graph_edges=2)
        cents = e.table("vi__centroids")
        online_1 = ivf_topk(corpus, queries, cents, k=5, nprobe=1)
        online_2 = ivf_topk(corpus, queries, cents, k=5, nprobe=2)
        online_g = ivf_topk(corpus, queries, cents, k=5, graph_edges=2)
        assert _pairs(e.vector_search("vi", queries, k=5)) == _pairs(online_1)
        assert _pairs(
            e.vector_search("vi", queries, k=5, nprobe=2)
        ) == _pairs(online_2)
        assert _pairs(
            e.vector_search("vi", queries, k=5, use_graph=True)
        ) == _pairs(online_g)
    finally:
        e.drop_vector_index("vi", if_exists=True)
        e.close()


def test_index_survives_second_session_without_rebuild(spark, warehouse):
    e, corpus, queries = _setup(spark, warehouse)
    expected = None
    try:
        e.create_vector_index("vi", "vi_corpus", n_cells=4)
        expected = _pairs(e.vector_search("vi", queries, k=5))
    finally:
        e.close()

    e2 = Engine(spark, warehouse=warehouse)
    try:
        assert e2.list_vector_indexes() == ["vi"]
        assert set(e2.list_tables()) >= {
            "vi__centroids", "vi__cells", "vi__graph"
        }
        got = _pairs(e2.vector_search("vi", queries, k=5))
        assert got == expected, "second session must serve identically"
    finally:
        e2.drop_vector_index("vi", if_exists=True)
        e2.close()


def test_serve_scan_pushes_cell_filter(spark, warehouse):
    """The serve-time `cid IN probed` must reach the parquet scan of
    the cells table (row-group pruning — the filter, combined with
    the build-time cid sort, is what makes a 100 TB serve read only
    the probed cells)."""
    from duckdb_distributed_execution_spark.operators.similarity import (
        ivf_serve_topk,
    )
    from duckdb_distributed_execution_spark.plans import formatted_plan

    e, corpus, queries = _setup(spark, warehouse)
    try:
        e.create_vector_index("vi", "vi_corpus", n_cells=4)
        serve = ivf_serve_topk(
            e.table("vi__cells"), queries.limit(1),
            e.table("vi__centroids"), k=3,
        )
        plan = formatted_plan(serve)
        assert "PushedFilters" in plan, plan[:2000]
        import re

        pushed = re.search(r"PushedFilters: \[([^\]]*)\]", plan)
        assert pushed and "cid" in pushed.group(1), plan[:2000]
    finally:
        e.drop_vector_index("vi", if_exists=True)
        e.close()


def test_upsert_appends_through_cas_and_serves(spark, warehouse):
    """Incremental maintenance: a new batch assigned with the build
    kernel, appended via the manifest CAS (blind append), immediately
    served — and equal to what a full rebuild over corpus+batch would
    return (same centroids, so placements are identical)."""
    e, corpus, queries = _setup(spark, warehouse)
    try:
        e.create_vector_index("vi", "vi_corpus", n_cells=4)
        base = e.table("vi__cells").count()
        new = spark.read.parquet(f"{SF}/embeddings.parquet").filter(
            F.col("vec_id") < 8
        ).select(
            (F.col("vec_id") + 1_000_000).alias("vec_id"), "embedding"
        )
        n_new = new.count()
        assert e.vector_index_upsert("vi", new) == n_new
        assert e.table("vi__cells").count() == base + n_new

        served = _pairs(e.vector_search("vi", queries, k=5, nprobe=2))
        full = corpus.select("vec_id", "embedding").unionByName(new)
        online = ivf_topk(
            full, queries, e.table("vi__centroids"), k=5, nprobe=2
        )
        assert served == _pairs(online), (
            "post-upsert serving must equal a full rebuild"
        )
        with pytest.raises(ValueError, match="does not exist"):
            e.vector_index_upsert("nope", new)
    finally:
        e.drop_vector_index("vi", if_exists=True)
        e.close()


def test_stream_upsert_drains_into_index(spark, warehouse, tmp_path):
    """Structured-Streaming maintenance: a file-source vector stream
    drains through foreachBatch → vector_index_upsert (CAS appends);
    after the availableNow drain the index serves the streamed
    vectors exactly like batch-upserted ones."""
    e, corpus, queries = _setup(spark, warehouse)
    try:
        e.create_vector_index("vi", "vi_corpus", n_cells=4)
        base = e.table("vi__cells").count()
        src = str(tmp_path / "vec_stream")
        new = spark.read.parquet(f"{SF}/embeddings.parquet").filter(
            F.col("vec_id") < 8
        ).select(
            (F.col("vec_id") + 2_000_000).alias("vec_id"), "embedding"
        )
        new.write.parquet(src)
        n_new = new.count()

        stream = spark.readStream.schema(new.schema).parquet(src)
        q = e.vector_index_stream_upsert(
            "vi", stream, checkpoint=str(tmp_path / "ckpt")
        )
        q.awaitTermination(120)
        assert e.table("vi__cells").count() == base + n_new
        # streamed vectors are served
        probe = new.limit(1)
        got = e.vector_search("vi", probe, k=1)
        row = got.collect()[0]
        assert row["neighbor_id"] == probe.collect()[0]["vec_id"]
        assert abs(row["sim"] - 1.0) < 1e-9, "self-match must rank first"
    finally:
        e.drop_vector_index("vi", if_exists=True)
        e.close()


def test_drop_is_durable(spark, warehouse):
    e, corpus, queries = _setup(spark, warehouse)
    try:
        e.create_vector_index("vi", "vi_corpus", n_cells=4)
        e.drop_vector_index("vi")
        assert e.list_vector_indexes() == []
        with pytest.raises(ValueError, match="does not exist"):
            e.vector_search("vi", queries)
    finally:
        e.close()
    e2 = Engine(spark, warehouse=warehouse)
    try:
        assert e2.list_vector_indexes() == []
        assert "vi__cells" not in e2.list_tables()
    finally:
        e2.close()
