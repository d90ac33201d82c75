"""Query execution stats — parity with the reference's introspection.

The reference keeps an in-memory ring of ``QueryExecutionInfo`` records
and exposes them as table functions
``duckherder_get_query_execution_stats()`` /
``duckherder_get_query_history()``
(src/query_execution_stats_query_function.cpp:22-124,
src/query_history_query_function.cpp:20-79, src/query_recorder.cpp:5-31).
Tests assert on this table (test/sql/group_by_distributed.test:71-94).

Here the recorder is a plain Python ring buffer materialized to a
DataFrame on demand. Execution-mode labels translate the reference's
modes (docs/README.md:107-139) to Spark plan shapes:

- LOCAL            — constant-folded / no scan (no tasks)
- DELEGATED        — single partition, no exchange (one task)
- ROW_GROUP_PARTITION — multi-partition scan, no shuffle exchange
  (Spark's file-split planning is the analog of the reference's
  122,880-row row-group tasks, task_partitioner.cpp:59-107)
- NATURAL_PARTITION — plan contains a shuffle exchange (keyed
  repartitioning; the reference's range/modulo strategies)

Merge strategies map the reference's result_merger.cpp:236-342 choices:
GROUP_BY / AGGREGATE / DISTINCT / CONCATENATE — in Spark these are the
built-in partial/final aggregation, which is *exact* (the reference's
AVG-of-AVGs bug, result_merger.cpp:42-45, does not exist here).
"""

from __future__ import annotations

import datetime as _dt
import time
from collections import deque
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from duckdb_distributed_execution_spark.functions import local_rows_df

STATS_SCHEMA = T.StructType(
    [
        T.StructField("sql", T.StringType()),
        T.StructField("execution_mode", T.StringType()),
        T.StructField("merge_strategy", T.StringType()),
        T.StructField("query_duration_ms", T.LongType()),
        T.StructField("num_workers_used", T.LongType()),
        T.StructField("num_tasks_generated", T.LongType()),
        T.StructField("execution_start_time", T.TimestampType()),
    ]
)

HISTORY_SCHEMA = T.StructType(
    [
        T.StructField("query", T.StringType()),
        T.StructField("latencies_ms", T.ArrayType(T.LongType())),
    ]
)


@dataclass
class QueryExecutionInfo:
    sql: str
    execution_mode: str
    merge_strategy: str
    query_duration_ms: int
    num_workers_used: int
    num_tasks_generated: int
    execution_start_time: _dt.datetime


def classify_plan(df: DataFrame) -> tuple[str, str, int]:
    """Derive (execution_mode, merge_strategy, num_tasks) from the
    physical plan and source partitioning."""
    plan = df._sc._jvm.PythonSQLUtils.explainString(  # type: ignore[attr-defined]
        df._jdf.queryExecution(), "simple"
    )
    upper = plan.upper()
    has_exchange = "EXCHANGE" in upper
    has_agg = "AGGREGATE" in upper or "HASHAGGREGATE" in upper
    # distributed sources: file scans, in-memory relations, Range —
    # but not OneRowRelation (constant-only queries are LOCAL)
    has_scan = (
        "Scan" in plan.replace("Scan OneRowRelation", "")
        or "Range (" in plan
        or "LocalTableScan" in plan
    )

    try:
        num_tasks = df.rdd.getNumPartitions()
    except Exception:
        num_tasks = 1

    if not has_scan:
        mode = "LOCAL"
    elif has_exchange:
        mode = "NATURAL_PARTITION"
    elif num_tasks <= 1:
        mode = "DELEGATED"
    else:
        mode = "ROW_GROUP_PARTITION"

    if has_agg and ("KEYS=[]" in upper.replace(" ", "")):
        merge = "AGGREGATE"
    elif has_agg:
        # Distinct compiles to an aggregate over all columns with no
        # aggregate expressions.
        merge = "DISTINCT" if "FUNCTIONS=[]" in upper.replace(" ", "") else "GROUP_BY"
    else:
        merge = "CONCATENATE"
    return mode, merge, num_tasks


# Ring size of the query recorder. A record is the SQL text plus six
# scalars, so 10,000 of them stay a few MB even for long statements,
# which bounds a long-lived session, while keeping far more history
# than any stats or history read in this repo looks at (a benchmark
# DML run records a few hundred).
RECORDER_MAX_RECORDS = 10_000


class QueryRecorder:
    """In-memory ring of the last RECORDER_MAX_RECORDS queries, same
    surface as the reference's query_recorder.cpp ring (``clear()`` to
    reset)."""

    def __init__(self, spark: SparkSession, num_workers: int):
        self._spark = spark
        self._num_workers = num_workers
        self._records: deque[QueryExecutionInfo] = deque(
            maxlen=RECORDER_MAX_RECORDS
        )

    def record(self, sql: str, df: DataFrame, duration_ms: int) -> QueryExecutionInfo:
        mode, merge, tasks = classify_plan(df)
        info = QueryExecutionInfo(
            sql=sql,
            execution_mode=mode,
            merge_strategy=merge,
            query_duration_ms=duration_ms,
            num_workers_used=min(self._num_workers, max(tasks, 1)),
            num_tasks_generated=tasks,
            execution_start_time=_dt.datetime.now(),
        )
        self._records.append(info)
        return info

    def stats_df(self) -> DataFrame:
        rows = [
            (
                r.sql,
                r.execution_mode,
                r.merge_strategy,
                r.query_duration_ms,
                r.num_workers_used,
                r.num_tasks_generated,
                r.execution_start_time,
            )
            for r in self._records
        ]
        return local_rows_df(self._spark, rows, STATS_SCHEMA)

    def history_df(self) -> DataFrame:
        by_sql: dict[str, list[int]] = {}
        for r in self._records:
            by_sql.setdefault(r.sql, []).append(r.query_duration_ms)
        rows = [(sql, lat) for sql, lat in by_sql.items()]
        return local_rows_df(self._spark, rows, HISTORY_SCHEMA)

    def clear(self) -> None:
        self._records.clear()

    def __len__(self) -> int:
        return len(self._records)


class Timer:
    def __enter__(self):
        self._t0 = time.perf_counter()
        return self

    def __exit__(self, *exc):
        self.ms = int((time.perf_counter() - self._t0) * 1000)
        return False
