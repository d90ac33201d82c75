"""Physical-plan shape tests — the 100 TB readiness checks.

These assert the plan properties that matter at scale, not just
correctness: filters reach the parquet scan (the reference explicitly
does NOT push filters — distributed_table_scan_function.cpp:41),
columns are pruned, small dims broadcast, aggregation is partial+final,
and whole-stage codegen covers the hot path."""

from __future__ import annotations

from pyspark.sql import functions as F

import pytest

from duckdb_distributed_execution_spark.plans import (
    scan_read_schema,
    summarize,
    summarize_executed,
)
from duckdb_distributed_execution_spark.queries import all_queries
from tests.conftest import SF_SMOKE


def test_filter_pushdown_reaches_scan(spark):
    df = all_queries()["scan_filter_project"].fn(spark, SF_SMOKE)
    s = summarize(df)
    assert s.has_pushed_filters, "filters must reach the parquet scan"
    assert s.wholestage_codegen


def test_column_pruning(spark):
    df = all_queries()["scan_filter_project"].fn(spark, SF_SMOKE)
    cols = set(scan_read_schema(df))
    # 11-column lineitem: only the projected + filtered columns are read
    assert "l_comment" not in cols and "l_tax" not in cols
    assert cols <= {
        "l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice",
        "l_shipdate", "l_discount", "l_returnflag",
    }


def test_dim_join_broadcasts(spark):
    df = all_queries()["join_broadcast_dim"].fn(spark, SF_SMOKE)
    s = summarize(df)
    assert s.n_broadcast_joins >= 1
    assert s.n_sortmerge_joins == 0, "fact table must not shuffle for a dim join"


def test_star_join_broadcasts_all_dims(spark):
    df = all_queries()["join_multi_star"].fn(spark, SF_SMOKE)
    s = summarize(df)
    # customer/nation/region broadcast; only orders⋈lineitem may shuffle
    assert s.n_broadcast_joins >= 3


def test_grouped_agg_is_partial_final(spark):
    df = all_queries()["agg_pricing_summary"].fn(spark, SF_SMOKE)
    plan = str(df._jdf.queryExecution().executedPlan())
    assert "partial" in plan.lower(), "map-side combine expected"


def test_bucketed_join_no_shuffle(spark, engine):
    """Two tables bucketed on the join key join with zero shuffle
    exchanges — the co-located join."""
    from pyspark.sql import functions as F

    a = spark.range(0, 1000).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("va")
    )
    b = spark.range(0, 1000).select(
        F.col("id").alias("k"), (F.col("id") * 3).alias("vb")
    )
    engine.drop_bucketed_table("bt_a")
    engine.drop_bucketed_table("bt_b")
    engine.create_bucketed_table("bt_a", a, ["k"], num_buckets=8, sort_cols=["k"])
    engine.create_bucketed_table("bt_b", b, ["k"], num_buckets=8, sort_cols=["k"])
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        joined = spark.table("bt_a").join(spark.table("bt_b"), on="k")
        s = summarize(joined)
        assert s.n_sortmerge_joins + s.n_shuffle_hash_joins >= 1
        assert s.n_exchanges == 0, "bucketed join must not shuffle"
        assert joined.count() == 1000
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        engine.drop_bucketed_table("bt_a")
        engine.drop_bucketed_table("bt_b")


def test_asof_join_single_shuffle(spark):
    df = all_queries()["join_asof"].fn(spark, SF_SMOKE)
    s = summarize(df)
    # union + window: exactly one exchange on the key (plus AQE reads);
    # crucially NO join operator and no per-key explosion.
    assert s.n_joins == 0
    assert s.n_exchanges <= 2


def test_dynamic_partition_pruning(spark, tmp_path):
    """A fact table partitioned on a join key is pruned at RUNTIME by
    a filtered dim join (Spark's DPP — the mechanism that makes
    star-schema joins feasible at 100 TB: only the partitions the dim
    filter selects are ever scanned)."""
    from pyspark.sql import functions as F

    fact_path = str(tmp_path / "fact_part")
    spark.range(0, 100_000).select(
        F.col("id"), (F.col("id") % 20).alias("part_key")
    ).write.partitionBy("part_key").mode("overwrite").parquet(fact_path)
    dim = spark.createDataFrame(
        [(k, "keep" if k < 3 else "drop") for k in range(20)],
        "part_key LONG, status STRING",
    )
    fact = spark.read.parquet(fact_path)
    joined = fact.join(dim, "part_key").filter(F.col("status") == "keep")
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower() or "DynamicPruning" in plan
    assert joined.count() == 3 * 5_000


def test_aqe_skew_join_split(spark, tmp_path):
    """AQE detects a skewed shuffle partition at RUNTIME and splits it
    (OptimizeSkewedJoin) — with salting (operators/skew.py) this is
    the engine's second line of defense against hot keys at scale."""
    from pyspark.sql import functions as F

    left_path = str(tmp_path / "skew_left")
    right_path = str(tmp_path / "skew_right")
    # 95% of left rows share key 0; right is uniform.
    spark.range(0, 200_000).select(
        F.when(F.col("id") % 20 != 0, F.lit(0)).otherwise(F.col("id") % 100)
        .alias("k"),
        F.col("id").alias("payload"),
    ).write.mode("overwrite").parquet(left_path)
    spark.range(0, 100).select(
        (F.col("id") % 100).alias("k"), F.col("id").alias("r")
    ).write.mode("overwrite").parquet(right_path)

    confs = {
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "32KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "16KB",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    old = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        left = spark.read.parquet(left_path)
        right = spark.read.parquet(right_path)
        joined = left.join(right, "k")
        # Execute THIS DataFrame's plan (count() builds a separate
        # query; AQE finalizes the plan only after execution).
        assert len(joined.collect()) == 200_000
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in plan, plan[:2000]
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


# Exact compiled shuffle budgets for the headline queries (round-6
# measurement, AQE-aware counters). EQUALITY, not ≤: a shuffle-count
# GROWTH is the scale regression this gate exists for, and a decrease
# means the plan improved and the pin should be consciously updated.
# (Round-5 verdict: the old counter matched only the non-AQE plan
# rendering, so every AQE plan reported 0 shuffles and this audit had
# never actually run.)
HEADLINE_SHUFFLE_BUDGETS = {
    "agg_pricing_summary": 1,   # one partial→final agg exchange
    # r9 plans are SIZE-GATED (functions.small_input, the scanned file
    # size standing in for catalog stats): at smoke scale
    # join_multi_star takes the simple broadcast shape and q9 withholds
    # its SHUFFLE_HASH hint, so the counts below are the small-SF
    # topology; at sf10 the gates flip to agg-below-join +
    # shuffle-hash (branch equality pinned by
    # test_join_multi_star_branches_agree).
    "join_multi_star": 1,       # AQE broadcasts every dim; fact agg
    "sessionize_window_sql": 1, # one keyed window exchange
    "dedup_minhash_lsh": 0,     # one-task kernel: doc hashes,
    #                             signatures, banding, cap, pairs and
    #                             verify in one numpy task over the
    #                             coalesced scan, no exchange.
    #                             Above the small_input gate the
    #                             distributed shape (band bucket →
    #                             verify, 2 exchanges) returns.
    "tpch_q9_partsupp": 2,      # scalar supplier-count agg + final
    #                             agg (orders broadcasts at this SF)
}


@pytest.mark.parametrize("name", sorted(HEADLINE_SHUFFLE_BUDGETS))
def test_headline_shuffle_budget(spark, name):
    df = all_queries()[name].fn(spark, SF_SMOKE)
    s = summarize(df)
    assert s.n_shuffle_exchanges == HEADLINE_SHUFFLE_BUDGETS[name], (
        f"{name}: compiled plan has {s.n_shuffle_exchanges} shuffle "
        f"exchanges, pinned {HEADLINE_SHUFFLE_BUDGETS[name]} — a growth "
        "here multiplies directly into 100 TB shuffle volume"
    )


# Post-AQE EXECUTED-plan pins for the same headline queries (round-7
# verdict task 2): the final adaptive plan's shuffle count must equal
# the compiled pin (AQE may only eliminate shuffles, never add — a
# mismatch means either a plan regression or a counter bug), and every
# headline query must run with REAL whole-stage-codegen stages.
HEADLINE_EXECUTED = {
    # name: (post-AQE shuffles, min codegen stages; measured r7,
    # join_multi_star/tpch_q9_partsupp re-pinned r9 after the
    # agg-below-join + decorrelated-partsupp surgery — see
    # HEADLINE_SHUFFLE_BUDGETS for why the counts grew at SMOKE scale
    # while the sf10 wall time halved)
    "agg_pricing_summary": (1, 2),
    "join_multi_star": (1, 6),
    "sessionize_window_sql": (1, 4),
    "dedup_minhash_lsh": (0, 2),  # one-task kernel: no exchange,
    #                               two thin codegen spans around the
    #                               Python stage (gated scales only)
    "tpch_q9_partsupp": (2, 8),
}


@pytest.mark.parametrize("name", sorted(HEADLINE_EXECUTED))
def test_headline_executed_plan(spark, name):
    # The session is shared suite-wide and the dedup operators persist
    # intermediates lazily (never unpersisted — consumers are lazy
    # DataFrames); a cached relation from an earlier test substitutes
    # an InMemoryTableScan into a matching subtree here and changes
    # the codegen-span count. Pin the query's OWN plan, the same
    # discipline bench.py applies before every timed run.
    spark.catalog.clearCache()
    df = all_queries()[name].fn(spark, SF_SMOKE)
    s = summarize_executed(df)
    shuf, min_cg = HEADLINE_EXECUTED[name]
    assert s.n_shuffle_exchanges == shuf, (
        f"{name}: executed plan has {s.n_shuffle_exchanges} shuffles, "
        f"pinned {shuf}"
    )
    assert s.wholestage_codegen is True
    assert s.n_codegen_stages >= min_cg, (
        f"{name}: only {s.n_codegen_stages} codegen stages "
        f"(pinned ≥ {min_cg}) — a hot path fell out of codegen"
    )


@pytest.mark.parametrize("name", sorted(HEADLINE_EXECUTED))
def test_headline_executed_plan_sf001(spark, name):
    """Round-8 verdict task 6: the same executed pins at sf0.01 —
    the scale where no AQE empty-relation exemption can fire (every
    relation is non-empty), measured identical to the sf0.001 pins;
    the full 397-query executed sweep at sf0.01 is likewise clean
    (0 flagged, tools/plancheck.py --execute --sf sf0.01)."""
    from tests.conftest import SF_ORACLE

    spark.catalog.clearCache()  # see test_headline_executed_plan
    df = all_queries()[name].fn(spark, SF_ORACLE)
    s = summarize_executed(df)
    shuf, min_cg = HEADLINE_EXECUTED[name]
    assert s.n_shuffle_exchanges == shuf
    assert s.wholestage_codegen is True
    assert s.n_codegen_stages >= min_cg


def test_shuffle_counter_sees_aqe_plans(spark):
    """The regression the round-5 verdict found: agg_pricing_summary
    visibly contains an Exchange, but under AQE the formatted plan
    renders it as 'Exchange (5)' + 'Arguments: hashpartitioning(...)'
    and the old single-line counter reported 0."""
    df = all_queries()["agg_pricing_summary"].fn(spark, SF_SMOKE)
    s = summarize(df)
    assert s.is_adaptive, "expected an AQE-wrapped plan for this test"
    assert s.n_shuffle_exchanges >= 1
    # unexecuted AQE plans carry no codegen annotation — honest None,
    # never a false "no codegen"
    assert s.wholestage_codegen is None


def test_executed_plan_codegen_and_shuffles(spark):
    """summarize_executed finalizes AQE on the DataFrame's OWN
    QueryExecution and reads the final plan: real whole-stage-codegen
    stage count and the post-AQE shuffle count."""
    df = all_queries()["agg_pricing_summary"].fn(spark, SF_SMOKE)
    s = summarize_executed(df)
    assert s.wholestage_codegen is True
    assert s.n_codegen_stages >= 2, "scan-side and agg-side stages"
    assert s.n_shuffle_exchanges == 1


def test_runtime_bloom_filter_pruning(spark):
    """Runtime bloom-filter join pruning: a selective dim-side filter
    injects a bloom filter (bloom_filter_agg → might_contain) into
    the fact scan, cutting shuffled fact rows before the join — at
    100 TB this is the difference between shuffling the whole fact
    table and shuffling only rows that can possibly match. Thresholds
    are lowered because the testdata is far below the production
    defaults."""
    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "10GB",
        "spark.sql.optimizer.runtime.bloomFilter."
        "applicationSideScanSizeThreshold": "0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    old = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        li = spark.read.parquet(f"{SF_SMOKE}/lineitem.parquet")
        o = spark.read.parquet(f"{SF_SMOKE}/orders.parquet").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        j = (
            li.join(o, li.l_orderkey == o.o_orderkey)
            .groupBy("o_orderpriority")
            .count()
        )
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "might_contain" in plan, plan[:2000]
        assert "bloom_filter_agg" in plan, plan[:2000]
        assert j.collect()[0]["count"] > 0
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_join_multi_star_branches_agree(spark, monkeypatch):
    """The size gate swaps PLANS, never results: the scale plan
    (agg-below-join + snowflake prefilter + SHUFFLE_HASH), taken under
    a negative SHUFFLE_HASH_GATE_BYTES, must return exactly the simple
    plan's rows at oracle scale."""
    from tests.conftest import SF_ORACLE

    from duckdb_distributed_execution_spark import functions as FX

    simple = all_queries()["join_multi_star"].fn(spark, SF_ORACLE)
    monkeypatch.setattr(FX, "SHUFFLE_HASH_GATE_BYTES", -1)
    scale = all_queries()["join_multi_star"].fn(spark, SF_ORACLE)

    def hinted(df):
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        return "shuffle_hash" in plan

    assert hinted(scale) and not hinted(simple)
    rs = {tuple(r) for r in simple.collect()}
    rc = {tuple(r) for r in scale.collect()}
    assert rs == rc and len(rs) > 0


@pytest.mark.parametrize(
    "sf", ["/root/testdata/sf0.01", "/root/testdata/sf0.1"]
)
def test_window_rownum_latest_argmax_matches_window(spark, sf):
    """r10: the max(struct) argmax form of window_rownum_latest must
    be row-identical to the ROW_NUMBER + rn=1 window form it replaced
    (o_orderkey is unique, so the struct's lexicographic max picks
    the same row), at two scales."""
    from pyspark.sql import Window

    from duckdb_distributed_execution_spark.queries import load

    got = all_queries()["window_rownum_latest"].fn(spark, sf)
    o = load(spark, sf, "orders")["orders"]
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_orderdate").desc(), F.col("o_orderkey").desc()
    )
    exp = (
        o.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("o_custkey", "o_orderkey", "o_orderdate", "o_totalprice")
    )
    assert got.exceptAll(exp).count() == 0
    assert exp.exceptAll(got).count() == 0
    assert got.count() > 0
