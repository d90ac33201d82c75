"""Structured Streaming tests: the streaming plans must agree with
their batch twins (run with availableNow into a memory sink), and
watermarked session windows must produce sane sessions."""

from __future__ import annotations

import os

import pytest

from duckdb_distributed_execution_spark import streaming as S
from duckdb_distributed_execution_spark.queries import all_queries
from tests.conftest import SF_SMOKE


def test_stream_batch_parity_tumbling(spark):
    events_path = os.path.join(SF_SMOKE, "events.parquet")
    stream = S.windowed_event_counts(S.read_events_stream(spark, events_path))
    S.run_to_memory(stream, "win_counts")
    got = {
        (r.w_start, r.event_type): (r.cnt, round(r.sum_value, 6))
        for r in spark.table("win_counts").collect()
    }
    batch = all_queries()["events_tumbling_window"].fn(spark, SF_SMOKE)
    expected = {
        (r.w_start, r.event_type): (r.cnt, round(r.sum_value, 6))
        for r in batch.collect()
    }
    assert got == expected
    assert len(got) > 0


def test_stream_stateful_user_counts(spark):
    """applyInPandasWithState keyed state: final per-user running
    counts must equal the batch groupBy counts."""
    events_path = os.path.join(SF_SMOKE, "events.parquet")
    stream = S.running_user_counts_stateful(S.read_events_stream(spark, events_path))
    S.run_to_memory(stream, "user_counts", mode="update")
    # update mode may emit once per micro-batch; the LAST emission per
    # user is the running total.
    rows = spark.table("user_counts").collect()
    final = {}
    for r in rows:
        final[r.user_id] = max(final.get(r.user_id, 0), r.n_events)
    ev = all_queries()["window_lag_lead"].fn(spark, SF_SMOKE)  # registers events view
    expected = {
        r.user_id: r.c
        for r in spark.table("events").groupBy("user_id").agg(
            __import__("pyspark.sql.functions", fromlist=["count"]).count("*").alias("c")
        ).collect()
    }
    assert final == expected


def test_stream_stream_join(spark):
    """Watermarked stream-stream join equals the batch time-range
    join on the same data."""
    from pyspark.sql import functions as F

    events_path = os.path.join(SF_SMOKE, "events.parquet")
    ev_stream = S.read_events_stream(spark, events_path)
    joined = S.stream_stream_join(
        ev_stream.filter("event_type = 'click'"),
        ev_stream.filter("event_type = 'purchase'"),
    )
    q = (joined.writeStream.format("memory").queryName("ssj")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination()
    got = {(r.purchase_id, r.click_id) for r in spark.table("ssj").collect()}

    ev = all_queries()["window_lag_lead"].fn(spark, SF_SMOKE)  # registers events
    batch = spark.sql("""
        SELECT p.event_id AS purchase_id, c.event_id AS click_id
        FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        JOIN (SELECT * FROM events WHERE event_type = 'click') c
          ON p.user_id = c.user_id
         AND c.ts <= p.ts AND c.ts >= p.ts - INTERVAL 30 MINUTES
    """)
    expected = {(r.purchase_id, r.click_id) for r in batch.collect()}
    assert got == expected and len(got) > 0


def test_streaming_dedup(spark):
    """dropDuplicatesWithinWatermark keyed on a derived fingerprint:
    the streamed dedup keeps exactly one event per (user, minute)."""
    from pyspark.sql import functions as F

    events_path = os.path.join(SF_SMOKE, "events.parquet")
    stream = S.read_events_stream(spark, events_path).withColumn(
        "fp", F.concat_ws("|", F.col("user_id"),
                          F.date_trunc("minute", "ts").cast("string"))
    )
    deduped = S.streaming_dedup(stream, ["fp"], watermark="2 hours")
    S.run_to_memory(deduped.groupBy("fp").count(), "dedup_out", mode="complete")
    out = spark.table("dedup_out").collect()
    assert len(out) > 0
    assert all(r["count"] == 1 for r in out)
    # matches the batch distinct count on the same key
    ev = all_queries()["window_lag_lead"].fn(spark, SF_SMOKE)  # registers events
    batch_keys = (
        spark.table("events")
        .select(F.concat_ws("|", F.col("user_id"),
                            F.date_trunc("minute", "ts").cast("string")).alias("fp"))
        .distinct()
        .count()
    )
    assert len(out) == batch_keys


def test_stream_sessionization(spark):
    events_path = os.path.join(SF_SMOKE, "events.parquet")
    stream = S.sessionized_event_counts(
        S.read_events_stream(spark, events_path), gap="30 minutes"
    )
    S.run_to_memory(stream, "sessions")
    rows = spark.table("sessions").collect()
    assert len(rows) > 0
    ev = all_queries()["window_lag_lead"].fn(spark, SF_SMOKE)  # loads events view
    total_events = spark.table("events").count()
    assert sum(r.n_events for r in rows) == total_events
    assert all(r.session_end > r.session_start for r in rows)


def test_watermark_drops_late_rows(spark, tmp_path):
    """Watermark semantics end-to-end: a row arriving in a later
    micro-batch with event time older than (max seen − watermark) is
    DROPPED and its window's finalized result excludes it — the
    bounded-state guarantee that makes unbounded ingestion viable.
    Two files processed as separate micro-batches (maxFilesPerTrigger);
    the second file's row is 48 minutes behind the first batch's
    watermark."""
    import time

    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from duckdb_distributed_execution_spark.streaming import (
        _events_schema,
        windowed_event_counts,
    )

    base_ns = 1_704_067_200_000_000_000  # 2024-01-01 00:00:00 UTC
    minute_ns = 60_000_000_000

    def events_file(path, rows):
        tbl = pa.table(
            {
                "event_id": pa.array([r[0] for r in rows], pa.int64()),
                "ts": pa.array(
                    [base_ns + r[1] * minute_ns for r in rows], pa.int64()
                ),
                "user_id": pa.array([1] * len(rows), pa.int64()),
                "event_type": pa.array(["click"] * len(rows)),
                "value": pa.array([1.0] * len(rows), pa.float64()),
                "props": pa.array(["{}"] * len(rows)),
            }
        )
        pq.write_table(tbl, path)

    src = tmp_path / "stream_src"
    src.mkdir()
    cp = str(tmp_path / "checkpoint")

    sink = str(tmp_path / "sink")

    def drain():
        # parquet file sink: supports append-mode checkpoint recovery
        # (the memory sink does not), so run 2 resumes the watermark.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        raw = (
            spark.readStream.schema(_events_schema(True))
            .parquet(str(src))
            .withColumn("ts", F.expr("timestamp_micros(ts DIV 1000)"))
        )
        out = windowed_event_counts(raw, window="5 minutes", watermark="10 minutes")
        q = (
            out.writeStream.format("parquet")
            .outputMode("append")
            .option("path", sink)
            .option("checkpointLocation", cp)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return {
            r.w_start.isoformat(): r.cnt
            for r in spark.read.parquet(sink).collect()
        }

    # run 1: three rows in window [00:00, 00:05) + one at 00:60 that
    # advances the watermark to 00:50 → the 00:00 window finalizes
    # with cnt=3; the 00:60 window stays open (append withholds it).
    events_file(str(src / "a.parquet"), [(1, 1), (2, 2), (3, 3), (4, 60)])
    assert drain() == {"2024-01-01T00:00:00": 3}

    time.sleep(0.1)
    # run 2 (same checkpoint → watermark restored at 00:50): a row for
    # the already-finalized 00:00 window arrives 48 minutes late. It
    # must be DROPPED — if state were still open the re-finalized
    # window would append a new cnt=1 row for the same window here.
    events_file(str(src / "b.parquet"), [(5, 2)])
    assert drain() == {"2024-01-01T00:00:00": 3}


def test_stream_static_join(spark):
    """Stream-static broadcast enrichment equals the batch join."""
    events_path = os.path.join(SF_SMOKE, "events.parquet")
    dim = spark.createDataFrame(
        [("click", 1.0), ("view", 0.1), ("purchase", 10.0)],
        "event_type STRING, weight DOUBLE",
    )
    enriched = S.stream_static_join(
        S.read_events_stream(spark, events_path), dim
    ).select("event_id", "weight")
    q = (enriched.writeStream.format("memory").queryName("ssj_static")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination()
    got = {(r.event_id, r.weight) for r in spark.table("ssj_static").collect()}

    from duckdb_distributed_execution_spark.sources import read_parquet_table
    ev = read_parquet_table(spark, events_path)
    expected = {
        (r.event_id, r.weight)
        for r in ev.join(dim, "event_type", "left")
        .select("event_id", "weight").collect()
    }
    assert got == expected and len(got) > 0


def test_streaming_foreachbatch_upsert(spark, engine):
    """Streaming upsert sink: each micro-batch MERGEs its latest row
    per key into a managed table (foreachBatch + Engine.merge_upsert —
    the lakehouse CDC pattern)."""
    from pyspark.sql import functions as F

    events_path = os.path.join(SF_SMOKE, "events.parquet")
    engine.create_table("fb_state", "user_id BIGINT, last_value DOUBLE")

    def upsert(batch_df, batch_id):
        latest = (
            batch_df.groupBy("user_id")
            .agg(F.max_by("value", "event_id").alias("last_value"))
        )
        engine.merge_upsert("fb_state", latest, on=["user_id"])

    stream = S.read_events_stream(spark, events_path).select(
        "event_id", "user_id", "value"
    )
    q = (stream.writeStream.foreachBatch(upsert)
         .trigger(availableNow=True).start())
    q.awaitTermination()

    got = {r.user_id: r.last_value for r in engine.table("fb_state").collect()}
    from duckdb_distributed_execution_spark.sources import read_parquet_table
    ev = read_parquet_table(spark, events_path)
    expected = {
        r.user_id: r.last_value
        for r in ev.groupBy("user_id")
        .agg(F.max_by("value", "event_id").alias("last_value"))
        .collect()
    }
    assert got == expected and len(got) > 0
    engine.drop_table("fb_state")


def test_remote_stream_ingest(spark, tmp_path):
    """CDC-style streaming ingest from the duckdb_remote source: the
    first availableNow drain reads the whole table; appending rows to
    the remote table and draining again (same checkpoint) delivers
    exactly the new tail — offsets tracked by rowid."""
    import duckdb

    from duckdb_distributed_execution_spark.sources.remote import (
        register_remote_source,
    )

    p = str(tmp_path / "srv.duckdb")
    con = duckdb.connect(p)
    con.execute("CREATE TABLE ev AS SELECT range AS k, range * 2 AS v FROM range(50)")
    con.close()
    register_remote_source(spark)
    ckpt = str(tmp_path / "ckpt")

    out = str(tmp_path / "out")

    def drain():
        q = (
            spark.readStream.format("duckdb_remote")
            .option("path", p)
            .option("table", "ev")
            .load()
            .writeStream.format("parquet")
            .option("path", out)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    drain()
    assert spark.read.parquet(out).count() == 50

    con = duckdb.connect(p)
    con.execute("INSERT INTO ev SELECT range AS k, range * 2 AS v FROM range(50, 70)")
    con.close()
    drain()
    got = spark.read.parquet(out)
    assert got.count() == 70
    assert got.selectExpr("max(k)").first()[0] == 69
    # no duplicates: each key delivered exactly once
    assert got.select("k").distinct().count() == 70


def test_streaming_ppl_screen_matches_batch(spark):
    """Stream-batch parity for the LM screen: the quarantine stream
    must contain exactly the docs whose batch perplexity exceeds the
    corpus's exact-rank p90 (~10% of the corpus)."""
    from duckdb_distributed_execution_spark.queries.pipeline42 import (
        lm_bigram_perplexity,
    )
    from duckdb_distributed_execution_spark.queries.pipeline47 import (
        streaming_ppl_screen,
    )

    sf = "/root/testdata/sf0.001"
    got = {
        r["doc_id"]: (r["n_bigrams"], r["ppl"])
        for r in streaming_ppl_screen(spark, sf).collect()
    }
    batch = lm_bigram_perplexity(spark, sf).collect()
    ranked = sorted(batch, key=lambda r: (r["ppl"], r["doc_id"]))
    cut = ranked[int(0.9 * (len(ranked) - 1))]["ppl"]
    want = {
        r["doc_id"]: (r["n_bigrams"], r["ppl"])
        for r in batch
        if r["ppl"] > cut
    }
    assert got == want
    assert 0 < len(got) <= 0.11 * len(batch)


@pytest.fixture
def shuffle_cap_above_floor(spark):
    """A session shuffle-partition conf of 8, above run_to_memory's
    floor of 4 whatever the host's core count; restored afterwards."""
    saved = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    yield
    spark.conf.set("spark.sql.shuffle.partitions", saved)


def test_run_to_memory_sizes_state_partitions(spark, tmp_path,
                                              shuffle_cap_above_floor):
    """r9: run_to_memory sizes the stateful shuffle from the stream's
    source backlog (one partition per 32 MB, floor 4, cap = session
    conf) and restores the session conf afterwards. The tiny smoke
    backlog must run its state operator at the floor; a huge backlog
    at the session cap; a session conf below the floor caps it; a
    source without a path leaves the session conf in force. The
    actually-used partition count is read from the terminated query's
    progress."""
    import shutil

    from pyspark.sql import functions as F

    events_path = os.path.join(SF_SMOKE, "events.parquet")
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    cap = int(prev)
    assert cap > 4, "session conf must exceed the floor for this test"

    def state_partitions(q):
        return q.lastProgress["stateOperators"][0]["numShufflePartitions"]

    # Tiny backlog (smoke events ≈ tens of KB) → floor of 4.
    stream = S.windowed_event_counts(S.read_events_stream(spark, events_path))
    q = S.run_to_memory(stream, "sized_floor_sink")
    assert state_partitions(q) == 4
    assert spark.conf.get("spark.sql.shuffle.partitions") == prev

    # Huge backlog (100 GiB) → the session cap. The directory holds the
    # smoke events plus a sparse ``_pad`` file: the backlog counts it,
    # Spark's file source skips ``_``-prefixed files.
    huge = tmp_path / "huge"
    huge.mkdir()
    shutil.copy(events_path, huge / "events.parquet")
    with open(huge / "_pad", "wb") as fh:
        fh.truncate(100 << 30)
    stream = S.windowed_event_counts(S.read_events_stream(spark, str(huge)))
    assert S.stream_source_bytes(stream) > 100 << 30
    q = S.run_to_memory(stream, "sized_huge_sink")
    assert state_partitions(q) == cap
    assert spark.conf.get("spark.sql.shuffle.partitions") == prev

    # Session conf below the floor → the cap wins.
    spark.conf.set("spark.sql.shuffle.partitions", "2")
    try:
        stream = S.windowed_event_counts(
            S.read_events_stream(spark, events_path))
        q = S.run_to_memory(stream, "sized_cap_sink")
        assert state_partitions(q) == 2
        assert spark.conf.get("spark.sql.shuffle.partitions") == "2"
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)

    # No source path (a generated stream) → conf untouched.
    ticks = spark.readStream.format("rate-micro-batch").option(
        "rowsPerBatch", 10).load()
    assert S.stream_source_bytes(ticks) == 0
    q = S.run_to_memory(
        ticks.groupBy((F.col("value") % 3).alias("k")).count(),
        "sized_none_sink",
    )
    assert state_partitions(q) == cap
    assert spark.conf.get("spark.sql.shuffle.partitions") == prev


def test_state_sizing_holds_across_micro_batches(spark, tmp_path):
    """r10 verdict item 9: the backlog-derived state-partition sizing
    is read once at query start and holds for EVERY micro-batch of a
    multi-batch drain (maxFilesPerTrigger=1 over a multi-file source),
    and the session conf is restored afterwards. The source is a plain
    readStream: run_to_memory finds its directory in the plan."""
    events_path = os.path.join(SF_SMOKE, "events.parquet")
    src = str(tmp_path / "events_multi")
    spark.read.parquet(events_path).repartition(3).write.parquet(src)
    prev = spark.conf.get("spark.sql.shuffle.partitions")

    reader = spark.readStream.schema(spark.read.parquet(src).schema)
    stream = S.windowed_event_counts(
        reader.option("maxFilesPerTrigger", 1).parquet(src)
    )
    q = S.run_to_memory(stream, "multi_batch_sink")

    progresses = [p for p in q.recentProgress if p["stateOperators"]]
    fed = [p for p in progresses if p["numInputRows"] > 0]
    assert len(fed) >= 2, "expected a multi-batch drain"
    for p in progresses:
        assert p["stateOperators"][0]["numShufflePartitions"] == 4
    assert spark.conf.get("spark.sql.shuffle.partitions") == prev


def test_source_bytes_accumulate_across_sources(spark):
    """r10 advice: a multi-source pipeline (stream-stream join) sizes
    its stateful shuffle from the SUM of its sources' backlogs, not
    just the last one read; the file source counts only the file its
    glob filter admits."""
    from duckdb_distributed_execution_spark.sources import path_bytes

    events_path = os.path.join(SF_SMOKE, "events.parquet")
    clicks = S.read_events_stream(spark, events_path)
    purchases = S.read_events_stream(spark, events_path)
    one = S.stream_source_bytes(clicks)
    assert one == path_bytes(events_path) > 0
    joined = S.stream_stream_join(clicks, purchases)
    assert S.stream_source_bytes(joined) == 2 * one


def test_undrained_stream_does_not_inflate_next_drain(spark, tmp_path):
    """ROADMAP small fix: a stream that is built but never drained must
    not count toward another stream's sizing. The undrained stream
    reads a (sparse) 1 GiB file — enough for 32 partitions — while the
    drained one reads the smoke events and must run at the floor."""
    big = tmp_path / "big"
    big.mkdir()
    with open(big / "docs.parquet", "wb") as fh:
        fh.truncate(1 << 30)
    S.read_documents_stream(spark, str(big / "docs.parquet"))

    events_path = os.path.join(SF_SMOKE, "events.parquet")
    stream = S.windowed_event_counts(S.read_events_stream(spark, events_path))
    q = S.run_to_memory(stream, "undrained_neighbour_sink")
    assert q.lastProgress["stateOperators"][0]["numShufflePartitions"] == 4
