"""Streaming-semantics catalog — batch twins of SURVEY §2.9 (T1–T6),
oracle-checked. The live Structured-Streaming forms of these same
computations are in streaming/ops.py (driven by tests/test_streaming
with a memory sink); batch/stream equivalence is part of that suite.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from baronbatch_etl_spark.io import load_table
from baronbatch_etl_spark.queries import register
from baronbatch_etl_spark.streaming import ops

# ---------------------------------------------------------------------------
# Tumbling event-time window aggregate (the engine's windowed-agg
# surface; reference has only a 1-minute processing-time tick, T1).
# ---------------------------------------------------------------------------


@register(
    "st_tumbling_agg",
    oracle="""
SELECT epoch_ms(time_bucket(INTERVAL '1 hour', CAST(ts AS TIMESTAMP))) AS window_start_ms,
       event_type,
       count(*) AS n,
       CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS value_sum
FROM events
GROUP BY 1, 2
""",
    tags=("streaming", "window"),
)
def st_tumbling_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly tumbling windows × event_type (batch twin of
    streaming.ops.tumbling_counts)."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("value").cast("decimal(18,6)"))
            .cast("double")
            .alias("value_sum"),
        )
        .select(
            F.unix_millis(F.col("w.start")).alias("window_start_ms"),
            "event_type",
            "n",
            "value_sum",
        )
    )


# ---------------------------------------------------------------------------
# Sliding windows: 1 h length, 30 min slide (each event in 2 windows).
# ---------------------------------------------------------------------------


@register(
    "st_sliding_agg",
    oracle="""
SELECT epoch_ms(time_bucket(INTERVAL '30 minutes', CAST(ts AS TIMESTAMP))
                - k.k * INTERVAL '30 minutes') AS window_start_ms,
       count(*) AS n
FROM events, LATERAL (SELECT unnest([0, 1]) AS k) k
GROUP BY 1
""",
    tags=("streaming", "window"),
)
def st_sliding_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding event-time windows (overlap factor 2)."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"))
        .agg(F.count("*").alias("n"))
        .select(
            F.unix_millis(F.col("w.start")).alias("window_start_ms"), "n"
        )
    )


# ---------------------------------------------------------------------------
# Session windows (gap 30 min) — batch session_window; its streaming
# twin (streaming.ops.session_aggregate) shares the semantics.
# ---------------------------------------------------------------------------


@register(
    "st_session_window",
    oracle="""
WITH o AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts FROM events),
f AS (
    SELECT user_id, ts,
           CASE WHEN lag(ts) OVER w IS NULL
                  OR ts - lag(ts) OVER w >= INTERVAL '30 minutes'
                THEN 1 ELSE 0 END AS new_s
    FROM o WINDOW w AS (PARTITION BY user_id ORDER BY ts)
),
s AS (
    SELECT user_id, ts,
           sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
    FROM f
)
SELECT user_id, epoch_ms(min(ts)) AS session_start_ms, count(*) AS n_events
FROM s GROUP BY user_id, sid
""",
    tags=("streaming", "session"),
)
def st_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based session windows per user. Boundary semantics: an
    event exactly `gap` after the previous one opens a NEW session
    (session end is exclusive) — the oracle's lag-diff uses >= to
    match. Runs the streaming operator itself over the batch table;
    the optimizer drops its watermark from a batch plan."""
    return ops.session_aggregate(load_table(spark, sf_dir, "events"))


# ---------------------------------------------------------------------------
# Idempotent ingest under at-least-once delivery: the same batch
# arriving twice dedups to one copy on the natural key (T3; streaming
# twin is dropDuplicatesWithinWatermark).
# ---------------------------------------------------------------------------


@register(
    "st_stream_join",
    oracle="""
SELECT c.event_id AS click_id, b.event_id AS buy_id, c.user_id,
       epoch_ms(CAST(c.ts AS TIMESTAMP)) AS click_ts_ms,
       epoch_ms(CAST(b.ts AS TIMESTAMP)) AS buy_ts_ms,
       b.value AS buy_value
FROM events c
JOIN events b
  ON c.user_id = b.user_id
 AND c.event_type = 'click' AND b.event_type = 'purchase'
 AND CAST(b.ts AS TIMESTAMP) >= CAST(c.ts AS TIMESTAMP)
 AND CAST(b.ts AS TIMESTAMP) <= CAST(c.ts AS TIMESTAMP) + INTERVAL '30 minutes'
""",
    tags=("streaming", "join"),
)
def st_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Click→purchase attribution interval join (batch twin of
    streaming.ops.click_purchase_join: equi-join on user with a
    30-minute event-time range residual). Runs that operator over the
    batch table; the optimizer drops its watermarks from a batch
    plan."""
    return ops.click_purchase_join(load_table(spark, sf_dir, "events"))


@register(
    "st_dedup_ingest",
    oracle="""
SELECT event_id, user_id, event_type, value
FROM (
    SELECT * FROM events UNION ALL SELECT * FROM events
) GROUP BY ALL
""",
    tags=("streaming", "dedup"),
)
def st_dedup_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate delivery collapsed by key dedup (duplicates are full
    row copies, so arbitrary-keep is still deterministic)."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value"
    )
    return ev.unionByName(ev).dropDuplicates(["event_id"])


# ---------------------------------------------------------------------------
# TTL debounce (batch twin of streaming/stateful.py::ttl_debounce)
# ---------------------------------------------------------------------------


@register(
    "st_ttl_dedup",
    oracle="""
WITH e AS (
    SELECT user_id, event_type,
           epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us, event_id
    FROM events
),
g AS (
    SELECT user_id, event_type, ts_us, event_id,
           lag(ts_us) OVER (
               PARTITION BY user_id, event_type
               ORDER BY ts_us, event_id
           ) AS prev
    FROM e
)
SELECT user_id, event_type, ts_us, event_id
FROM g
WHERE prev IS NULL OR ts_us - prev >= 1800000000
""",
    tags=("streaming", "dedup", "stateful"),
)
def st_ttl_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TTL debounce, batch form: keep an event iff its (user, type)
    key was quiet for >= 30 min before it — alert throttling /
    re-crawl suppression semantics. Every arrival (kept or not)
    re-arms the timer, so this is exactly the lag-gap filter; the
    LIVE form (streaming/stateful.py::ttl_debounce) folds the same
    rule through applyInPandasWithState with an EventTimeTimeout
    that EVICTS quiet keys — the one stateful op here whose state is
    bounded by construction (multibatch equivalence pinned in
    tests/test_stateful_streaming.py).

    Scale shape: one key-partitioned window (lag needs no frame
    buffer), no joins; the streaming twin's state is one BIGINT per
    ACTIVE key, the difference between a state store that grows with
    traffic and one that grows with history.
    """
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_type",
        F.unix_micros("ts").alias("ts_us"),
        "event_id",
    )
    w = Window.partitionBy("user_id", "event_type").orderBy(
        "ts_us", "event_id"
    )
    from baronbatch_etl_spark.streaming.stateful import TTL_US

    return (
        ev.withColumn("prev", F.lag("ts_us").over(w))
        .filter(
            F.col("prev").isNull() | (F.col("ts_us") - F.col("prev") >= TTL_US)
        )
        .select("user_id", "event_type", "ts_us", "event_id")
    )
