"""Spark jobs per managed-table write.

On a small table every write job is driver round trip, so the job
count is the write's latency. Each op runs under its own job group and
the status tracker counts the jobs it started. A small table's whole
rewrite runs in one partition, and every constraint check and row
count is observed on that one write, before the manifest commit:

* DELETE and UPDATE (SET columns without rules) rewrite the table in
  one job; the deleted/updated count is observed on that write, and
  neither the rewrite nor the view re-registration infers a schema.
* INSERT is one job: NOT NULL/CHECK/ENUM samples are observed on the
  new rows and PRIMARY KEY duplicates come from a per-key window.
* MERGE is one job: one window over the ON columns drops the replaced
  target rows and finds duplicate source keys.
* At or above ``_COMPACT_BYTES`` DELETE still probes which files hold
  matches.

The sources declare ``qty`` non-nullable, as a typed client batch
does.
"""

from __future__ import annotations

import decimal

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from tests.conftest import spark_jobs

DDL = ("id BIGINT PRIMARY KEY, qty INTEGER NOT NULL, "
       "price DECIMAL(12,2), tag VARCHAR")


SCHEMA = T.StructType([
    T.StructField("id", T.LongType(), False),
    T.StructField("qty", T.IntegerType(), False),
    T.StructField("price", T.DecimalType(12, 2), True),
    T.StructField("tag", T.StringType(), True),
])


def _rows(spark, lo, hi):
    return spark.createDataFrame(
        [(i, i % 100, decimal.Decimal(i) / 4, "abcd"[i % 4])
         for i in range(lo, hi)],
        SCHEMA,
    )


@pytest.fixture()
def eng(spark, tmp_path):
    from duckdb_distributed_execution_spark import Engine

    e = Engine(spark, warehouse=str(tmp_path / "wh"))
    e.create_table("wj_t", DDL)
    e.insert_into("wj_t", _rows(spark, 0, 400))
    yield e
    e.drop_table("wj_t", if_exists=True)
    e.close()


def test_small_table_write_job_budget(spark, eng):
    n, jobs = spark_jobs(spark, lambda: eng.delete_from("wj_t", "id % 7 = 3"))
    assert (n, jobs) == (57, 1)

    n, jobs = spark_jobs(spark, lambda: eng.update_table(
        "wj_t", {"price": "price + 1"}, "tag = 'b' AND qty < 50"))
    assert n > 0 and jobs == 1

    _, jobs = spark_jobs(spark, lambda: eng.insert_into(
        "wj_t", _rows(spark, 400, 450)))
    assert jobs == 1

    got, jobs = spark_jobs(spark, lambda: eng.merge_upsert(
        "wj_t", _rows(spark, 440, 460), ["id"]))
    assert got == {"updated": 10, "inserted": 10}
    assert jobs == 1
    assert eng.table("wj_t").count() == 400 - 57 + 50 + 10


def test_insert_wrong_arity_fails_before_any_job(spark, eng):
    """INSERT maps source columns to table columns by position: a
    source with more or fewer columns is rejected before any Spark
    job, changing nothing."""
    wide = _rows(spark, 400, 401).withColumn("extra", F.lit(1))
    narrow = _rows(spark, 400, 401).select("id")
    for src, n in ((wide, 5), (narrow, 1)):
        err, jobs = spark_jobs(spark, lambda: pytest.raises(
            ValueError, eng.insert_into, "wj_t", src))
        err.match(f"table wj_t has 4 columns but {n} values were supplied")
        assert jobs == 0
    assert eng.table("wj_t").count() == 400


def test_large_table_delete_still_probes(spark, eng):
    """At or above the compaction threshold a DELETE probes which files
    hold matches (one aggregate over ``_metadata.file_path``) and
    rewrites only those."""
    eng._COMPACT_BYTES = 0
    eng.insert_into("wj_t", _rows(spark, 400, 500).coalesce(1))
    files = eng._managed_files("wj_t")
    assert len(files) >= 2
    calls = []
    real = eng._matched_files

    def probe(name, condition):
        calls.append(condition)
        return real(name, condition)

    eng._matched_files = probe
    n, jobs = spark_jobs(spark, lambda: eng.delete_from("wj_t", "id >= 450"))
    assert n == 50 and calls == ["id >= 450"]
    # the probe's aggregate on top of the rewrite of the one matched file
    assert jobs >= 2
    assert files[0] in eng._managed_files("wj_t"), "unmatched file kept"


def test_expect_row_rules_one_pass(spark, eng):
    """expect() folds its row rules into one aggregate: three rules,
    two of them violated, cost the jobs of one global aggregate."""
    rules = [{"not_null": "tag"},
             {"accepted_values": ("tag", ["a", "b"])},
             {"in_range": ("qty", 0, 49)}]
    _, one_agg = spark_jobs(
        spark, lambda: eng.table("wj_t").agg(F.count(F.lit(1))).collect())
    out, jobs = spark_jobs(spark, lambda: eng.expect("wj_t", rules))
    assert jobs == one_agg
    got = {(r.rule, r.target): (r.n_violations, r.sample) for r in out.collect()}
    assert got[("not_null", "tag")] == (0, "")
    assert got[("accepted_values", "tag")][0] == 200
    assert got[("in_range", "qty")][0] == 200
    assert got[("in_range", "qty")][1].startswith("(")
