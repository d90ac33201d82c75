"""Nineteenth-wave operators — time-series anomaly, marketing
attribution, and the dedup operating curve: an exact-integer CUSUM
changepoint over daily event volumes, first-/last-touch campaign
attribution of purchases to preceding clicks, and a threshold sweep
of the MinHash near-dup pipeline showing the pairs/removal/retention
trade-off a data curator actually tunes.

North-star greenfield (the reference has no time-series/attribution
surface — BASELINE.json). Conventions as established: cross-row
reductions exact (integers / scaled decimals), doubles only in final
per-row divisions with identical trees, rank ties broken on unique
keys.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from duckdb_distributed_execution_spark.functions import (
    exact_sum,
    oracle_exact_sum,
)
from duckdb_distributed_execution_spark.operators import dedup as D
from duckdb_distributed_execution_spark.queries import load, register

# ---------------------------------------------------------------------------
# CUSUM changepoint over daily event volume
# ---------------------------------------------------------------------------


@register(
    "cusum_changepoint",
    oracle="""
    WITH d AS (
      SELECT event_type, CAST(ts AS DATE) AS day, COUNT(*) AS x
      FROM events GROUP BY event_type, CAST(ts AS DATE)),
    t AS (
      SELECT event_type, day, x,
             row_number() OVER (PARTITION BY event_type ORDER BY day) AS i,
             SUM(x) OVER (PARTITION BY event_type ORDER BY day
                          ROWS UNBOUNDED PRECEDING) AS prefix,
             SUM(x) OVER (PARTITION BY event_type) AS total,
             COUNT(*) OVER (PARTITION BY event_type) AS n
      FROM d),
    c AS (
      SELECT event_type, day, n, total,
             n * prefix - i * total AS dscaled
      FROM t),
    r AS (
      SELECT *, row_number() OVER (
               PARTITION BY event_type
               ORDER BY abs(dscaled) DESC, day) AS rn
      FROM c)
    SELECT event_type,
           CAST(n AS BIGINT) AS n_days,
           CAST(total AS BIGINT) AS total_events,
           day AS changepoint_day,
           ROUND(CAST(abs(dscaled) AS DOUBLE) / CAST(n AS DOUBLE), 4)
             AS cusum_peak,
           CASE WHEN dscaled > 0 THEN 1
                WHEN dscaled < 0 THEN -1 ELSE 0 END AS direction
    FROM r WHERE rn = 1
    """,
)
def cusum_changepoint(spark, sf_dir):
    """CUSUM changepoint detection on daily event volume per type —
    the standard level-shift screen over ingestion/telemetry rates.
    The classic statistic C_t = Σ_{i≤t}(x_i − μ) is kept EXACT by
    scaling through n: D_t = n·prefix_t − t·total is a pure integer
    (μ = total/n never materializes as a float), so the argmax day is
    engine-exact; the one double is the final peak report D/n. Daily
    aggregation is one map-side-combined shuffle; the windows run
    per-type over |days| rows (tiny). A positive peak direction means
    the first segment runs ABOVE the mean (level drop after the
    changepoint), negative means a ramp-up."""
    e = load(spark, sf_dir, "events")["events"]
    d = (
        e.groupBy("event_type", F.col("ts").cast("date").alias("day"))
        .agg(F.count(F.lit(1)).alias("x"))
    )
    wo = Window.partitionBy("event_type").orderBy("day")
    wa = Window.partitionBy("event_type")
    t = d.select(
        "event_type",
        "day",
        F.row_number().over(wo).alias("i"),
        F.sum("x").over(wo.rowsBetween(Window.unboundedPreceding, 0)).alias(
            "prefix"
        ),
        F.sum("x").over(wa).alias("total"),
        F.count(F.lit(1)).over(wa).alias("n"),
    )
    c = t.select(
        "event_type",
        "day",
        "n",
        "total",
        (F.col("n") * F.col("prefix") - F.col("i") * F.col("total")).alias(
            "dscaled"
        ),
    )
    wr = Window.partitionBy("event_type").orderBy(
        F.abs(F.col("dscaled")).desc(), "day"
    )
    return (
        c.withColumn("rn", F.row_number().over(wr))
        .filter(F.col("rn") == 1)
        .select(
            "event_type",
            F.col("n").cast("long").alias("n_days"),
            F.col("total").cast("long").alias("total_events"),
            F.col("day").alias("changepoint_day"),
            F.round(
                F.abs(F.col("dscaled")).cast("double")
                / F.col("n").cast("double"),
                4,
            ).alias("cusum_peak"),
            F.when(F.col("dscaled") > 0, F.lit(1))
            .when(F.col("dscaled") < 0, F.lit(-1))
            .otherwise(F.lit(0))
            .alias("direction"),
        )
    )


# ---------------------------------------------------------------------------
# First-/last-touch campaign attribution
# ---------------------------------------------------------------------------

_ATTR_WINDOW_US = 3 * 86_400 * 1_000_000  # 3-day lookback


@register(
    "attribution_first_last",
    oracle=f"""
    WITH p AS (
      SELECT event_id AS pid, user_id, epoch_us(ts) AS pts, value
      FROM events WHERE event_type = 'purchase'),
    c AS (
      SELECT event_id AS cid, user_id, epoch_us(ts) AS cts,
             CAST(json_extract_string(props, '$.k') AS INTEGER) % 10
               AS campaign
      FROM events WHERE event_type = 'click'),
    m AS (
      SELECT p.pid, p.value, c.campaign, c.cts, c.cid
      FROM p JOIN c ON c.user_id = p.user_id
       AND c.cts <= p.pts AND c.cts >= p.pts - {_ATTR_WINDOW_US}),
    ranked AS (
      SELECT *,
             row_number() OVER (PARTITION BY pid
                                ORDER BY cts ASC, cid ASC) AS rf,
             row_number() OVER (PARTITION BY pid
                                ORDER BY cts DESC, cid DESC) AS rl
      FROM m),
    ft AS (
      SELECT campaign, COUNT(*) AS first_touch_purchases
      FROM ranked WHERE rf = 1 GROUP BY campaign),
    lt AS (
      SELECT campaign, COUNT(*) AS last_touch_purchases,
             {oracle_exact_sum("value")} AS last_touch_revenue
      FROM ranked WHERE rl = 1 GROUP BY campaign)
    SELECT COALESCE(ft.campaign, lt.campaign) AS campaign,
           COALESCE(first_touch_purchases, 0) AS first_touch_purchases,
           COALESCE(last_touch_purchases, 0) AS last_touch_purchases,
           COALESCE(last_touch_revenue, 0.0) AS last_touch_revenue
    FROM ft FULL OUTER JOIN lt ON lt.campaign = ft.campaign
    """,
)
def attribution_first_last(spark, sf_dir):
    """Marketing attribution: each purchase credits the FIRST and the
    LAST click of the same user inside a 3-day lookback; clicks carry
    a campaign id parsed from the JSON props. First- vs last-touch
    disagreement per campaign is the classic budget-allocation
    argument this report settles. The user equi-join is bounded by
    per-user event density (never a time cross join); first/last
    picks are row_number windows with (ts, event_id) tie-breaks so
    equal-timestamp clicks resolve identically on both engines;
    revenue uses the exact-decimal sum convention. At 100 TB: one
    keyed join + one keyed window, both on user/purchase keys."""
    e = load(spark, sf_dir, "events")["events"]
    us = F.expr("unix_micros(ts)")
    p = e.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("pid"),
        "user_id",
        us.alias("pts"),
        "value",
    )
    c = e.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("cid"),
        "user_id",
        us.alias("cts"),
        (F.get_json_object("props", "$.k").cast("int") % 10).alias("campaign"),
    )
    m = p.join(c, on="user_id").filter(
        (F.col("cts") <= F.col("pts"))
        & (F.col("cts") >= F.col("pts") - _ATTR_WINDOW_US)
    )
    wf = Window.partitionBy("pid").orderBy(F.asc("cts"), F.asc("cid"))
    wl = Window.partitionBy("pid").orderBy(F.desc("cts"), F.desc("cid"))
    ranked = m.select(
        "pid",
        "value",
        "campaign",
        F.row_number().over(wf).alias("rf"),
        F.row_number().over(wl).alias("rl"),
    )
    ft = (
        ranked.filter(F.col("rf") == 1)
        .groupBy("campaign")
        .agg(F.count(F.lit(1)).alias("first_touch_purchases"))
    )
    lt = (
        ranked.filter(F.col("rl") == 1)
        .groupBy("campaign")
        .agg(
            F.count(F.lit(1)).alias("last_touch_purchases"),
            exact_sum("value").alias("last_touch_revenue"),
        )
    )
    return (
        ft.alias("f")
        .join(lt.alias("l"), F.col("f.campaign") == F.col("l.campaign"), "full_outer")
        .select(
            F.coalesce("f.campaign", "l.campaign").alias("campaign"),
            F.coalesce("first_touch_purchases", F.lit(0)).alias(
                "first_touch_purchases"
            ),
            F.coalesce("last_touch_purchases", F.lit(0)).alias(
                "last_touch_purchases"
            ),
            F.coalesce("last_touch_revenue", F.lit(0.0)).alias(
                "last_touch_revenue"
            ),
        )
    )


# ---------------------------------------------------------------------------
# Dedup operating curve: threshold sweep over the MinHash pipeline
# ---------------------------------------------------------------------------

_CURVE_THRESHOLDS = (0.12, 0.3, 0.5)


@register(
    "dedup_threshold_curve",
    oracle=D.oracle_minhash_lsh_sql(
        D.oracle_word_shingles("text", 2),
        num_hashes=8,
        band_size=2,
        verify_threshold=0.12,
        final_select=f"""
    , nd AS (SELECT COUNT(*) AS n_docs FROM documents)
    SELECT th.theta,
           COUNT(*) AS n_pairs,
           COUNT(DISTINCT j.id_b) AS docs_removed,
           ROUND(1.0 - CAST(COUNT(DISTINCT j.id_b) AS DOUBLE)
                 / CAST(MAX(nd.n_docs) AS DOUBLE), 6) AS retention
    FROM j
    JOIN (VALUES {", ".join(f"(CAST({t} AS DOUBLE))" for t in _CURVE_THRESHOLDS)})
         th(theta) ON j.jaccard >= th.theta
    CROSS JOIN nd
    GROUP BY th.theta""",
    ),
)
def dedup_threshold_curve(spark, sf_dir):
    """The dedup OPERATING CURVE: one MinHash-LSH pass (identical
    machinery to dedup_minhash_lsh), then per candidate threshold θ
    the surviving pair count, docs removed under keep-the-smaller-id
    greedy resolution (distinct id_b), and corpus retention — the
    table a curator reads to pick θ before a 100 TB dedup run. The
    expensive pipeline executes ONCE at the loosest θ; the sweep is a
    broadcast explode over the (tiny) verified pair set, so three
    thresholds cost the same as one. Jaccard values are exact
    rationals (integer set sizes divided once), so θ comparisons are
    engine-identical without rounding."""
    d = load(spark, sf_dir, "documents")["documents"]
    pairs = D.minhash_lsh_pairs(
        d, "doc_id", "text", shingle_n=2, num_hashes=8, band_size=2,
        verify_threshold=min(_CURVE_THRESHOLDS),
    )
    th = F.array(*[F.lit(float(t)) for t in _CURVE_THRESHOLDS])
    swept = pairs.select(
        "id_b", F.explode(th).alias("theta"), "jaccard"
    ).filter(F.col("jaccard") >= F.col("theta"))
    nd = d.agg(F.count(F.lit(1)).alias("n_docs"))
    return (
        swept.groupBy("theta")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.countDistinct("id_b").alias("docs_removed"),
        )
        .crossJoin(F.broadcast(nd))
        .select(
            "theta",
            "n_pairs",
            "docs_removed",
            F.round(
                F.lit(1.0)
                - F.col("docs_removed").cast("double")
                / F.col("n_docs").cast("double"),
                6,
            ).alias("retention"),
        )
    )
