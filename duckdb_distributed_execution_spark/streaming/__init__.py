"""Structured Streaming surface.

The reference has **no** streaming operators (SURVEY §2.C: "Streaming
operators: none") — this module is north-star greenfield: the same
event-analytics queries expressed over ``readStream`` so they run
incrementally with watermarked state.

Design: every streaming query is the SAME logical plan as its batch
twin in queries/ (tumbling window ≡ events_tumbling_window); pytest
asserts batch/stream parity by running the stream with
``trigger(availableNow=True)`` into a memory sink and comparing
against the batch result.
"""

from __future__ import annotations

import weakref

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

# Accumulated on-disk size of the stream sources opened on each
# session since the last drain, recorded by the read_*_stream helpers
# and CONSUMED (popped) by run_to_memory's state-partition sizing.
# The same file-size statistic the queries' scale gate uses
# (sources.path_bytes — the stand-in for a catalog's ANALYZE stats).
# Weak-keyed by the session object (not id(): a GC'd session's id
# can be reused and alias an unrelated session — r9 advice) and summed across sources (a stream-stream join's backlog
# is both inputs, not just the last one read).
_SOURCE_BYTES: "weakref.WeakKeyDictionary[SparkSession, int]" = (
    weakref.WeakKeyDictionary()
)


def note_stream_source_bytes(spark: SparkSession, path: str) -> None:
    """Record the on-disk size of a stream source about to be drained
    on this session — lets run_to_memory size stateful-shuffle
    partitions from the backlog instead of the session constant.
    Bytes ACCUMULATE across sources until run_to_memory consumes the
    total, so multi-source pipelines size from their whole backlog."""
    from duckdb_distributed_execution_spark.sources import path_bytes

    _SOURCE_BYTES[spark] = _SOURCE_BYTES.get(spark, 0) + path_bytes(path)


def _events_schema(ts_is_nanos: bool) -> T.StructType:
    return T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            # TIMESTAMP(NANOS) parquet must be read as long (Spark has
            # no nanosecond timestamps); µs parquet reads natively.
            T.StructField(
                "ts", T.LongType() if ts_is_nanos else T.TimestampType()
            ),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("props", T.StringType()),
        ]
    )


def read_events_stream(spark: SparkSession, path: str) -> DataFrame:
    """File-source stream over the events parquet. The footer is
    probed for the ts physical type (same as the batch path in
    sources/): TIMESTAMP(NANOS) → nanos-as-long then floored to
    micros, the truncation DuckDB applies; TIMESTAMP(MICROS) reads
    natively.

    ``path`` may be the parquet file itself or its directory — the
    file source requires a directory, so a file path becomes
    (dirname, pathGlobFilter=basename)."""
    from duckdb_distributed_execution_spark import ensure_worker_pythonpath

    ensure_worker_pythonpath(spark)
    import os

    from duckdb_distributed_execution_spark.sources import _nanos_columns

    note_stream_source_bytes(spark, path)
    ts_is_nanos = "ts" in _nanos_columns(path)
    if ts_is_nanos:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    reader = spark.readStream.schema(_events_schema(ts_is_nanos))
    if os.path.isfile(path):
        reader = reader.option("pathGlobFilter", os.path.basename(path))
        path = os.path.dirname(path)
    raw = reader.parquet(path)
    if ts_is_nanos:
        raw = raw.withColumn("ts", F.expr("timestamp_micros(ts DIV 1000)"))
    return raw


def read_documents_stream(spark: SparkSession, path: str) -> DataFrame:
    """File-source stream over the documents parquet (doc_id, text,
    lang, source, n_chars) — the corpus-ingest stream for streaming
    text-pipeline operators (contamination screen, quality filter).
    ``path`` may be the parquet file or its directory."""
    from duckdb_distributed_execution_spark import ensure_worker_pythonpath

    ensure_worker_pythonpath(spark)
    import os

    note_stream_source_bytes(spark, path)
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
            T.StructField("lang", T.StringType()),
            T.StructField("source", T.StringType()),
            T.StructField("n_chars", T.LongType()),
        ]
    )
    reader = spark.readStream.schema(schema)
    if os.path.isfile(path):
        reader = reader.option("pathGlobFilter", os.path.basename(path))
        path = os.path.dirname(path)
    return reader.parquet(path)


def windowed_event_counts(
    events: DataFrame, window: str = "5 minutes", watermark: str = "10 minutes"
) -> DataFrame:
    """Watermarked tumbling-window counts — late rows beyond the
    watermark are dropped and window state is evicted (bounded state
    at unbounded input, the 100 TB/day requirement)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), F.col("event_type"))
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum(F.col("value").cast("decimal(28,6)")).cast("double").alias("sum_value"),
        )
        .select(F.col("w.start").alias("w_start"), "event_type", "cnt", "sum_value")
    )


def sessionized_event_counts(
    events: DataFrame, gap: str = "30 minutes", watermark: str = "1 hour"
) -> DataFrame:
    """Session windows (gap-based) per user — built-in
    ``session_window`` keyed state; sessions close when the watermark
    passes the gap."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("w"), F.col("user_id"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "user_id",
            "n_events",
        )
    )


def stream_stream_join(
    clicks: DataFrame,
    purchases: DataFrame,
    within: str = "INTERVAL 30 MINUTES",
    watermark: str = "1 hour",
) -> DataFrame:
    """Watermarked stream-stream inner join: purchases matched to
    same-user clicks within a bounded time window. The time-range
    condition + watermarks bound both sides' join state — without
    them a stream-stream join would buffer forever."""
    c = clicks.select(
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("c_ts"),
        F.col("event_id").alias("click_id"),
    ).withWatermark("c_ts", watermark)
    p = purchases.select(
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("p_ts"),
        F.col("event_id").alias("purchase_id"),
        F.col("value").alias("purchase_value"),
    ).withWatermark("p_ts", watermark)
    return p.join(
        c,
        F.expr(
            f"p_user = c_user AND c_ts <= p_ts AND c_ts >= p_ts - {within}"
        ),
    ).select("purchase_id", "click_id", "p_user", "p_ts", "c_ts", "purchase_value")


def streaming_dedup(
    events: DataFrame, key_cols: list[str], ts_col: str = "ts",
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming exact dedup: keep the first occurrence of each key,
    with state bounded by the watermark (keys older than the watermark
    are evicted — the streaming twin of operators/dedup.py's exact
    dedup, e.g. keyed on a document fingerprint)."""
    return events.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
        key_cols
    )


USER_COUNT_STATE = T.StructType([T.StructField("cnt", T.LongType())])
USER_COUNT_OUT = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("n_events", T.LongType()),
    ]
)


def running_user_counts_stateful(events: DataFrame) -> DataFrame:
    """Custom stateful operator via ``applyInPandasWithState``: a
    per-user running event count whose state survives across
    micro-batches (the template for arbitrary keyed state — the
    reference has no streaming at all, SURVEY §2.C)."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def update(key, pdfs, state: GroupState):
        prev = state.get[0] if state.exists else 0
        n = prev + sum(len(pdf) for pdf in pdfs)
        state.update((n,))
        yield pd.DataFrame({"user_id": [key[0]], "n_events": [n]})

    return events.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=USER_COUNT_OUT,
        stateStructType=USER_COUNT_STATE,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def run_to_memory(stream_df: DataFrame, name: str, mode: str = "complete"):
    """Drain all available input into an in-memory table (test sink).

    State-partition sizing (guide §2: scale-adaptive partitioning, not
    a constant): every stateful streaming operator runs one state
    store per shuffle partition, and each store pays a per-micro-batch
    checkpoint (delta file create + fsync + commit) REGARDLESS of how
    much data it holds — measured here at ~0.1-0.3 s per 32-partition
    wave on a toy backlog, i.e. the partition count, not the data, was
    the cost (stream-stream join at sf0.1: 9.2 s at 32 partitions vs
    2.8 s at 4, identical results). So size the stateful shuffle from
    the recorded source backlog — one partition per 32 MB, floor 4 —
    capped at the session's configured shuffle partitions so a real
    deployment (which sizes that conf for its cluster and its
    per-trigger volume) is left exactly as configured. Results are
    partition-count-independent: aggregations/joins/dedup are exact
    under any hash partitioning, and the global watermark is the min
    over partitions either way. The session conf is restored before
    returning (the conf is only read at query start).

    The recorded backlog is CONSUMED here (popped), so a later stream
    built without a read_*_stream helper never inherits an unrelated
    earlier stream's size. NOT thread-safe: the conf override is
    session-global for the duration of the drain, so a query started
    concurrently on the shared session inherits the reduced partition
    count (single-threaded use — the test/bench pattern — is safe)."""
    spark = stream_df.sparkSession
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    src_bytes = _SOURCE_BYTES.pop(spark, None)
    try:
        cap = int(prev)
    except ValueError:  # e.g. "auto" on some vendors' runtimes
        cap = None
    if cap is not None and src_bytes:
        target = min(cap, max(4, src_bytes // (32 * 1024 * 1024)))
        spark.conf.set("spark.sql.shuffle.partitions", str(target))
    try:
        q = (
            stream_df.writeStream.format("memory")
            .queryName(name)
            .outputMode(mode)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return q  # terminated; callers may read lastProgress
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)


def stream_static_join(
    events: DataFrame, dim: DataFrame, on: str = "event_type"
) -> DataFrame:
    """Stream-static enrichment join: each micro-batch joins against
    the (re-read per batch, broadcastable) static dimension — no join
    state, no watermark needed.  The canonical pattern for attaching
    slowly-changing metadata to a high-volume stream."""
    return events.join(F.broadcast(dim), on=on, how="left")
