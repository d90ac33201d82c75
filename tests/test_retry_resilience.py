"""Task-retry resilience: the reference DROPS failed workers' results
silently (distributed_executor.cpp:190-196 — SURVEY retires that
behavior); Spark's contract is retry-with-identical-result. This
makes that contract OBSERVED, not assumed: a Python-side stage fails
on its first attempt for one partition (TaskContext.attemptNumber),
and the job must both succeed and produce byte-identical results to
the uninjected run — proving the mapInPandas operators are
deterministic/idempotent under re-execution (what makes them safe on
a 1000-executor cluster where task retries are routine).

Local mode runs tasks with maxFailures=1 (a failure kills the job),
so the retry scenario needs its own ``local[8,2]`` session — run in
a subprocess like test_sessionless_import, keeping the main suite's
session semantics untouched."""

from __future__ import annotations

import os
import subprocess
import sys

_SCRIPT = r"""
import sys
sys.path.insert(0, "@REPO@")
import numpy as np
from pyspark import TaskContext
from pyspark.sql import functions as F

from duckdb_distributed_execution_spark.session import local_session

spark = local_session("local[8,2]", conf={"spark.sql.shuffle.partitions": "8"})
SF = "/root/testdata/sf0.001"


def fail_once(it):
    ctx = TaskContext.get()
    if ctx.partitionId() == 0 and ctx.attemptNumber() == 0:
        raise RuntimeError("injected first-attempt failure")
    yield from it


# 1. A retried passthrough stage loses and duplicates nothing — and
# the attempt tags PROVE the injected failure really forced a retry.
def tag_attempt(it):
    ctx = TaskContext.get()
    if ctx.partitionId() == 0 and ctx.attemptNumber() == 0:
        raise RuntimeError("injected first-attempt failure")
    for pdf in it:
        pdf = pdf[["doc_id"]].copy()
        pdf["attempt"] = ctx.attemptNumber()
        yield pdf


df = spark.read.parquet(f"{SF}/documents.parquet").repartition(4, "doc_id")
rows = df.mapInPandas(tag_attempt, schema="doc_id long, attempt int").collect()
got = sorted(r["doc_id"] for r in rows)
want = sorted(r["doc_id"] for r in df.collect())
assert got == want, "rows lost/duplicated under retry"
assert {r["attempt"] for r in rows} == {0, 1}, (
    "injection never fired — retry not exercised"
)

# 2. The quantized Gram pass is bit-identical under retry.
from duckdb_distributed_execution_spark.operators.linalg import (
    covariance_entries,
)

emb = spark.read.parquet(f"{SF}/embeddings.parquet").repartition(4)
base = {(r["dim_i"], r["dim_j"]): r["cov"]
        for r in covariance_entries(emb, "embedding").collect()}
flaky = emb.mapInPandas(fail_once, schema=emb.schema)
retried = {(r["dim_i"], r["dim_j"]): r["cov"]
           for r in covariance_entries(flaky, "embedding").collect()}
assert base == retried, "covariance drifted under retry"

# 3. dedup_ingest admits each fingerprint exactly once even when the
# batch's Python stage is retried mid-job (survivors are eagerly
# materialized BEFORE the registry append).
from duckdb_distributed_execution_spark import Engine

eng = Engine(spark)
eng.create_table("retry_reg", "fp VARCHAR, first_seen_batch BIGINT")
batch = spark.createDataFrame(
    [(i, f"doc text {i % 5}") for i in range(20)], "id long, text string"
).repartition(4)
flaky_b = batch.mapInPandas(fail_once, schema=batch.schema)
survivors = eng.dedup_ingest("retry_reg", flaky_b, text_col="text")
assert survivors.count() == 5, "wrong survivor count under retry"
reg = spark.table("retry_reg")
assert reg.count() == 5 and reg.select("fp").distinct().count() == 5
again = eng.dedup_ingest(
    "retry_reg",
    spark.createDataFrame([(99, "doc text 0"), (100, "doc text NEW")],
                          "id long, text string"),
    batch_id=1,
)
assert [r["text"] for r in again.collect()] == ["doc text NEW"]
assert spark.table("retry_reg").count() == 6
print("RETRY-RESILIENCE-OK")
spark.stop()
"""


def test_retry_resilience_subprocess():
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    res = subprocess.run(
        [sys.executable, "-c", _SCRIPT.replace("@REPO@", repo)],
        capture_output=True, text=True, timeout=420,
    )
    assert res.returncode == 0, res.stderr[-3000:]
    assert "RETRY-RESILIENCE-OK" in res.stdout
