"""Fourth-wave pipeline operators — PII redaction and the remaining
oracle-checked Structured Streaming surfaces (exact dedup,
stream-stream attribution join, custom keyed state).

The reference has no streaming and no text surface at all (SURVEY
§2.C: "Streaming operators: none", "UDF surface: none"); these are
north-star LLM-pipeline greenfield, run as REAL streams (availableNow
trigger over the events parquet, memory sink) so the streaming
execution path itself — state store, watermark bookkeeping, join
state — is what the DuckDB oracle verifies, not a batch stand-in.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from duckdb_distributed_execution_spark.functions import exact_sum
from duckdb_distributed_execution_spark.functions import oracle_exact_sum as OE
from duckdb_distributed_execution_spark.operators import text as X
from duckdb_distributed_execution_spark.queries import load, register

# ---------------------------------------------------------------------------
# PII redaction
# ---------------------------------------------------------------------------

# Conservative regex subset that parses and matches identically under
# Java regex (Spark) and RE2 (DuckDB): character classes, bounded
# repetition, no backrefs/lookaround.  Literal '.' is written as [.]
# so no escaping-dialect question arises.
_PII_EMAIL = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+[.][A-Za-z]{2,}"
_PII_IPV4 = "[0-9]{1,3}[.][0-9]{1,3}[.][0-9]{1,3}[.][0-9]{1,3}"
_PII_PHONE = "555-[0-9]{4}"


@register(
    "text_pii_redact",
    oracle=f"""
    WITH aug AS (
      SELECT doc_id,
             text || ' contact user' || CAST(doc_id AS VARCHAR)
                  || '@mail.example.com from 10.'
                  || CAST(doc_id % 200 AS VARCHAR) || '.0.42 call 555-'
                  || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS t
      FROM documents),
    red AS (
      SELECT doc_id, t,
             regexp_replace(
               regexp_replace(
                 regexp_replace(t, '{_PII_EMAIL}', '<EMAIL>', 'g'),
                 '{_PII_IPV4}', '<IP>', 'g'),
               '{_PII_PHONE}', '<PHONE>', 'g') AS redacted
      FROM aug)
    SELECT doc_id,
           CAST(len(regexp_extract_all(t, '{_PII_EMAIL}')) AS INT) AS n_emails,
           CAST(len(regexp_extract_all(t, '{_PII_IPV4}')) AS INT) AS n_ips,
           CAST(len(regexp_extract_all(t, '{_PII_PHONE}')) AS INT) AS n_phones,
           CAST(length(redacted) AS BIGINT) AS redacted_len,
           md5(redacted) AS redacted_fp
    FROM red
    """,
)
def text_pii_redact(spark, sf_dir):
    """PII scrubbing, the compliance pass every corpus pipeline runs
    before training: count and redact email / IPv4 / phone spans with
    engine-portable regexes. The synthetic corpus contains no PII, so
    deterministic PII-shaped spans are first injected from doc_id
    (identically in the oracle) — the redaction machinery, not the
    generator, is what's verified (counts per class + md5 of the fully
    redacted text). Pure per-row codegen expressions: narrow
    projection, no shuffle, embarrassingly parallel at 100 TB.
    """
    d = load(spark, sf_dir, "documents")["documents"]
    aug = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@mail.example.com from 10."),
        (F.col("doc_id") % 200).cast("string"),
        F.lit(".0.42 call 555-"),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
    )
    t = d.select("doc_id", aug.alias("t"))
    redacted = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(F.col("t"), _PII_EMAIL, "<EMAIL>"),
            _PII_IPV4,
            "<IP>",
        ),
        _PII_PHONE,
        "<PHONE>",
    )
    return t.select(
        "doc_id",
        F.size(F.regexp_extract_all("t", F.lit(_PII_EMAIL), F.lit(0)))
        .cast("int")
        .alias("n_emails"),
        F.size(F.regexp_extract_all("t", F.lit(_PII_IPV4), F.lit(0)))
        .cast("int")
        .alias("n_ips"),
        F.size(F.regexp_extract_all("t", F.lit(_PII_PHONE), F.lit(0)))
        .cast("int")
        .alias("n_phones"),
        F.length(redacted).cast("bigint").alias("redacted_len"),
        F.md5(redacted).alias("redacted_fp"),
    )


# ---------------------------------------------------------------------------
# Higher-moment aggregates from exact power sums
# ---------------------------------------------------------------------------


@register(
    "moments_skew_kurtosis",
    oracle=f"""
    WITH s AS (
      SELECT l_returnflag,
             COUNT(*) AS n,
             {OE('l_quantity', True)} AS s1,
             {OE('l_quantity * l_quantity', True)} AS s2,
             {OE('l_quantity * l_quantity * l_quantity', True)} AS s3,
             {OE('l_quantity * l_quantity * l_quantity * l_quantity', True)} AS s4
      FROM lineitem GROUP BY l_returnflag)
    SELECT l_returnflag, n,
           ROUND(s2/n - (s1/n)*(s1/n), 6) AS var_pop,
           ROUND((s3/n - 3*(s1/n)*(s2/n) + 2*(s1/n)*(s1/n)*(s1/n))
                 / ((s2/n - (s1/n)*(s1/n))
                    * sqrt(s2/n - (s1/n)*(s1/n))), 6) AS skew_pop,
           ROUND((s4/n - 4*(s1/n)*(s3/n) + 6*(s1/n)*(s1/n)*(s2/n)
                  - 3*(s1/n)*(s1/n)*(s1/n)*(s1/n))
                 / ((s2/n - (s1/n)*(s1/n)) * (s2/n - (s1/n)*(s1/n))) - 3, 6)
             AS kurt_pop
    FROM s
    """,
)
def moments_skew_kurtosis(spark, sf_dir):
    """Population skewness and excess kurtosis from exact raw power
    sums. Built-in skewness/kurtosis differ BETWEEN engines (sample
    vs population corrections), so the deterministic contract computes
    the moments itself: the four power sums accumulate exactly
    (decimal — l_quantity is integral so every power is exactly
    representable), and the final double arithmetic is written in the
    IDENTICAL operation order on both engines (mul/div/sqrt are all
    correctly-rounded IEEE ops, so same order ⇒ same bits; no pow(),
    whose libm implementations differ). One partial/final grouped
    aggregate — a single narrow shuffle at any scale."""
    li = load(spark, sf_dir, "lineitem")["lineitem"]
    q = F.col("l_quantity")
    s = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        exact_sum(q, wide=True).alias("s1"),
        exact_sum(q * q, wide=True).alias("s2"),
        exact_sum(q * q * q, wide=True).alias("s3"),
        exact_sum(q * q * q * q, wide=True).alias("s4"),
    )
    n, s1, s2, s3, s4 = (F.col(c) for c in ("n", "s1", "s2", "s3", "s4"))
    m = s1 / n
    var = s2 / n - m * m
    skew = (s3 / n - F.lit(3) * m * (s2 / n) + F.lit(2) * m * m * m) / (
        var * F.sqrt(var)
    )
    kurt = (
        s4 / n
        - F.lit(4) * m * (s3 / n)
        + F.lit(6) * m * m * (s2 / n)
        - F.lit(3) * m * m * m * m
    ) / (var * var) - F.lit(3)
    return s.select(
        "l_returnflag",
        "n",
        F.round(var, 6).alias("var_pop"),
        F.round(skew, 6).alias("skew_pop"),
        F.round(kurt, 6).alias("kurt_pop"),
    )


# ---------------------------------------------------------------------------
# Model-based quality classification (hashed-feature linear scorer)
# ---------------------------------------------------------------------------


@register(
    "text_quality_classifier",
    oracle="""
    WITH scored AS (
      SELECT doc_id, lang,
             len(string_split(TRIM(regexp_replace(regexp_replace(LOWER(text),
                  '[^a-z0-9 ]', ' ', 'g'), '\\s+', ' ', 'g')), ' ')) AS n_toks,
             CAST(list_sum(list_transform(
               string_split(TRIM(regexp_replace(regexp_replace(LOWER(text),
                  '[^a-z0-9 ]', ' ', 'g'), '\\s+', ' ', 'g')), ' '),
               t -> (CAST('0x' || substr(md5(t), 1, 7) AS BIGINT) % 2001) - 1000
             )) AS BIGINT) AS logit_milli
      FROM documents)
    SELECT doc_id, lang, CAST(n_toks AS BIGINT) AS n_toks, logit_milli,
           logit_milli > 0 AS keep
    FROM scored
    """,
)
def text_quality_classifier(spark, sf_dir):
    """Model-based quality filtering, the fastText-classifier step of
    CCNet/LLaMA-style corpus pipelines, as pure codegen: each token is
    a hashed feature whose weight is derived deterministically from
    its md5 (stand-in for trained weights — swap a broadcast
    weight map in and nothing else changes); the document logit is
    the INTEGER milli-weight sum, so the score is exact and
    order-independent on both engines (no float accumulation, no
    sigmoid ulp drift — the keep decision thresholds the logit
    directly). Per-row arithmetic only: embarrassingly parallel,
    no shuffle, 100 TB-safe by construction."""
    d = load(spark, sf_dir, "documents")["documents"]
    toks = X.tokens(X.normalize_text("text"))
    logit = X.hashed_logit("text")
    return d.select(
        "doc_id",
        "lang",
        F.size(toks).cast("long").alias("n_toks"),
        logit.alias("logit_milli"),
        (logit > 0).alias("keep"),
    )


# ---------------------------------------------------------------------------
# Remote scan via the custom Python DataSource (reference A1/A2/A8/A9)
# ---------------------------------------------------------------------------


@register(
    "remote_scan_rowid_tasks",
    oracle="""
    SELECT l_orderkey, l_partkey, l_quantity
    FROM lineitem WHERE l_quantity >= 45
    """,
)
def remote_scan_rowid_tasks(spark, sf_dir):
    """The reference's distributed remote-table scan, Spark-native: a
    custom Python DataSource (sources/remote.py) splits a DuckDB-held
    table into rowid-BETWEEN range tasks (task_partitioner.cpp
    strategy ladder: small-table bypass, row-group unit, 4× task cap),
    each Spark task opens the database read-only and streams Arrow
    batches. The quantity predicate is PUSHED into the remote engine
    (pushFilters) — a strict superset of the reference, which pushes
    projection only and filters client-side
    (distributed_table_scan_function.cpp:40-41)."""
    from duckdb_distributed_execution_spark.sources.remote import (
        build_remote_db,
        register_remote_source,
    )

    load(spark, sf_dir, "lineitem")  # oracle-side view
    register_remote_source(spark)
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    db = build_remote_db(sf_dir)
    df = (
        spark.read.format("duckdb_remote")
        .option("path", db)
        .option("table", "lineitem")
        .option("partitions", "8")
        .option("page_rows", "8192")
        .load()
    )
    return df.filter(F.col("l_quantity") >= 45).select(
        "l_orderkey", "l_partkey", "l_quantity"
    )


@register(
    "remote_scan_paged",
    oracle="""
    SELECT COUNT(*) AS n_rows,
           MIN(s_suppkey) AS min_key,
           MAX(s_suppkey) AS max_key,
           COUNT(DISTINCT s_suppkey) AS n_keys
    FROM supplier
    """,
)
def remote_scan_paged(spark, sf_dir):
    """LIMIT/OFFSET scan paging (the reference client's Flight ticket
    loop, distributed_flight_server.cpp:503-508) as the ``offset``
    strategy of the same DataSource: pages tile the table in physical
    rowid order, one Spark task per page. The COUNT DISTINCT in the
    checked aggregate proves pages neither overlap nor skip rows."""
    from duckdb_distributed_execution_spark.sources.remote import (
        build_remote_db,
        register_remote_source,
    )

    load(spark, sf_dir, "supplier")
    register_remote_source(spark)
    db = build_remote_db(sf_dir)
    df = (
        spark.read.format("duckdb_remote")
        .option("path", db)
        .option("table", "supplier")
        .option("strategy", "offset")
        .option("page_rows", "64")
        .option("partitions", "4")
        .load()
    )
    return df.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.min("s_suppkey").alias("min_key"),
        F.max("s_suppkey").alias("max_key"),
        F.countDistinct("s_suppkey").alias("n_keys"),
    )


# ---------------------------------------------------------------------------
# Streaming: exact dedup, attribution join, custom keyed state
# ---------------------------------------------------------------------------

# The events table spans 30 days of event time; a 40-day watermark
# guarantees no state eviction mid-run even if the file source ever
# splits the backlog into multiple micro-batches, so the availableNow
# drain is deterministic. Production uses a tight watermark (bounded
# state); eviction behavior itself is proven in tests/test_streaming.py.
_NO_EVICT = "40 days"


@register(
    "remote_stream_window_counts",
    oracle="""
    SELECT time_bucket(INTERVAL '15 minutes', ts) AS w_start,
           event_type,
           COUNT(*) AS cnt
    FROM events
    GROUP BY 1, 2
    """,
)
def remote_stream_window_counts(spark, sf_dir):
    """The full remote→streaming composition: the ``duckdb_remote``
    CDC stream reader (rowid-tail offsets) feeds a watermarked
    tumbling-window aggregation, drained availableNow into a
    complete-mode memory sink and checked against the batch
    time_bucket oracle. This is the deployment shape where a
    duckherder-style operational table continuously feeds a Spark
    analytics pipeline — the reference cannot express any of it
    (no streaming surface, SURVEY §2.C)."""
    from duckdb_distributed_execution_spark.sources.remote import (
        build_remote_db,
        register_remote_source,
    )
    from duckdb_distributed_execution_spark.streaming import run_to_memory

    load(spark, sf_dir, "events")
    register_remote_source(spark)
    db = build_remote_db(sf_dir)
    # run_to_memory sizes the state partitions from the database file,
    # the stream's ``path`` option
    stream = (
        spark.readStream.format("duckdb_remote")
        .option("path", db)
        .option("table", "events")
        .load()
    )
    agg = (
        stream.withWatermark("ts", _NO_EVICT)
        .groupBy(F.window("ts", "15 minutes").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(F.col("w.start").alias("w_start"), "event_type", "cnt")
    )
    run_to_memory(agg, "remote_stream_window_counts_sink", mode="complete")
    return spark.table("remote_stream_window_counts_sink")


@register(
    "streaming_dedup_keys",
    oracle="SELECT DISTINCT user_id, event_type FROM events",
)
def streaming_dedup_keys(spark, sf_dir):
    """Streaming exact dedup (``dropDuplicatesWithinWatermark``) over
    (user_id, event_type), run as a real availableNow stream with an
    append-mode memory sink. Only the dedup key columns are emitted —
    which row of a duplicate group survives is arrival-order-dependent
    in any streaming dedup, but the key set itself is exact, so the
    DISTINCT oracle checks it bit-for-bit. State is partitioned by key
    in the state store and bounded by the watermark — the streaming
    twin of operators/dedup.dedup_exact at 100 TB/day ingest.
    """
    from duckdb_distributed_execution_spark.streaming import (
        read_events_stream,
        run_to_memory,
        streaming_dedup,
    )

    load(spark, sf_dir, "events")  # register view for the oracle side
    stream = read_events_stream(spark, os.path.join(sf_dir, "events.parquet"))
    d = streaming_dedup(
        stream, ["user_id", "event_type"], watermark=_NO_EVICT
    ).select("user_id", "event_type")
    run_to_memory(d, "streaming_dedup_keys_sink", mode="append")
    return spark.table("streaming_dedup_keys_sink")


@register(
    "streaming_join_attribution",
    oracle="""
    SELECT p.event_id AS purchase_id,
           c.event_id AS click_id,
           p.user_id AS p_user,
           p.ts AS p_ts,
           c.ts AS c_ts,
           p.value AS purchase_value
    FROM events p
    JOIN events c
      ON p.user_id = c.user_id
     AND c.ts <= p.ts
     AND c.ts >= p.ts - INTERVAL '30 minutes'
    WHERE p.event_type = 'purchase' AND c.event_type = 'click'
    """,
)
def streaming_join_attribution(spark, sf_dir):
    """Stream-stream attribution join, oracle-checked: purchases
    matched to same-user clicks within the preceding 30 minutes
    (streaming/stream_stream_join), run as a real availableNow stream.
    The inner join's result set is exactly the batch interval join, so
    the DuckDB oracle is exact. The time-range condition + watermark
    bound both sides' join state at production scale; state is
    key-partitioned on user_id so no task holds the whole stream.
    """
    from duckdb_distributed_execution_spark.streaming import (
        read_events_stream,
        run_to_memory,
        stream_stream_join,
    )

    load(spark, sf_dir, "events")
    stream = read_events_stream(spark, os.path.join(sf_dir, "events.parquet"))
    clicks = stream.filter(F.col("event_type") == "click")
    purchases = stream.filter(F.col("event_type") == "purchase")
    j = stream_stream_join(
        clicks, purchases, within="INTERVAL 30 MINUTES", watermark=_NO_EVICT
    )
    run_to_memory(j, "streaming_join_attribution_sink", mode="append")
    return spark.table("streaming_join_attribution_sink")


@register(
    "streaming_stateful_user_counts",
    oracle="""
    SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events
    FROM events GROUP BY user_id
    """,
)
def streaming_stateful_user_counts(spark, sf_dir):
    """Custom keyed-state streaming operator, oracle-checked: the
    ``applyInPandasWithState`` running per-user event count
    (streaming/running_user_counts_stateful) drained with availableNow
    into an update-mode memory sink. The sink holds one row per user
    per micro-batch that touched it; MAX(n_events) per user — the
    running count is monotone — recovers the final state regardless of
    how the backlog was batched, which the exact GROUP BY oracle
    verifies. This is the template for arbitrary keyed state (the
    Spark analog of a custom stateful physical operator, which the
    reference cannot express at all).
    """
    from duckdb_distributed_execution_spark.streaming import (
        read_events_stream,
        run_to_memory,
        running_user_counts_stateful,
    )

    load(spark, sf_dir, "events")
    stream = read_events_stream(spark, os.path.join(sf_dir, "events.parquet"))
    counts = running_user_counts_stateful(stream)
    run_to_memory(counts, "streaming_stateful_user_counts_sink", mode="update")
    return (
        spark.table("streaming_stateful_user_counts_sink")
        .groupBy("user_id")
        .agg(F.max("n_events").alias("n_events"))
    )
