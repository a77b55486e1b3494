"""Event-stream operator coverage (SURVEY.md §2.9) in oracle-checkable
batch form over the events fixture.

q80 and q81 call the window aggregates of ``streaming/events.py``
(``hourly_counts``, ``sliding_counts``) on the batch frame, so the
DuckDB oracle checks the very operator a stream runs; Spark drops their
watermark on batch input, and tests drain the same aggregates as
streams to these queries' rows. q82-q84 are batch forms of operators
the stream expresses its own way (session windows, stateful dedup, a
bounded-state interval join).

Timestamps are projected as epoch microseconds or formatted strings —
never raw timestamps — because Spark's TIMESTAMP is a session-TZ instant
while DuckDB's is naive.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..operators.asof import asof_join
from ..sources.tables import load
from ..streaming.events import hourly_counts, sliding_counts
from .registry import query


@query(
    "q80_events_hourly_tumbling",
    oracle="""
    SELECT STRFTIME(DATE_TRUNC('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
           event_type,
           COUNT(*) AS n_events,
           CAST(ROUND(SUM(CAST(value AS DECIMAL(18,6))), 2) AS DOUBLE) AS total_value
    FROM events GROUP BY 1, 2 ORDER BY 1, 2
    """,
    tags=("streaming", "window", "agg"),
)
def q80_events_hourly_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour windowed aggregation: the watermarked stream
    operator (streaming/events.py::hourly_counts) run on the batch
    frame. window() is epoch-aligned, so window.start ==
    date_trunc('hour')."""
    return (
        hourly_counts(load(spark, sf_dir, "events"))
        .select(
            F.date_format("window_start", "yyyy-MM-dd HH:mm:ss").alias(
                "window_start"
            ),
            "event_type",
            "n_events",
            "total_value",
        )
        .orderBy("window_start", "event_type")
    )


@query(
    "q81_events_sliding_window",
    oracle="""
    WITH starts AS (
      SELECT e.*, DATE_TRUNC('hour', ts)
               + (CASE WHEN EXTRACT(MINUTE FROM ts) >= 30
                       THEN INTERVAL 30 MINUTE ELSE INTERVAL 0 MINUTE END)
               - (s.off * INTERVAL 30 MINUTE) AS win_start
      FROM events e, (SELECT UNNEST([0, 1]) AS off) s
    )
    SELECT STRFTIME(win_start, '%Y-%m-%d %H:%M:%S') AS window_start,
           COUNT(*) AS n_events,
           CAST(ROUND(SUM(CAST(value AS DECIMAL(18,6))), 2) AS DOUBLE) AS total_value
    FROM starts
    WHERE ts >= win_start AND ts < win_start + INTERVAL 1 HOUR
    GROUP BY 1 ORDER BY 1
    """,
    tags=("streaming", "window", "sliding"),
)
def q81_events_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding window (1 h length, 30 min slide) through the stream
    operator streaming/events.py::sliding_counts: every event lands in
    two overlapping windows. The oracle reconstructs the same window-set
    by explicit start enumeration."""
    return (
        sliding_counts(load(spark, sf_dir, "events"))
        .select(
            F.date_format("window_start", "yyyy-MM-dd HH:mm:ss").alias(
                "window_start"
            ),
            "n_events",
            "total_value",
        )
        .orderBy("window_start")
    )


@query(
    "q82_events_sessionization",
    oracle="""
    WITH ordered AS (
      SELECT user_id, ts, event_id,
             LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
      FROM events
    ),
    flagged AS (
      SELECT user_id, ts, event_id,
             CASE WHEN prev_ts IS NULL
                       OR ts - prev_ts >= INTERVAL 30 MINUTE THEN 1 ELSE 0 END
               AS new_session
      FROM ordered
    ),
    sessions AS (
      SELECT user_id, event_id,
             SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                    ROWS UNBOUNDED PRECEDING) AS session_id
      FROM flagged
    ),
    per_session AS (
      SELECT user_id, session_id, COUNT(*) AS n_events
      FROM sessions GROUP BY 1, 2
    )
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_sessions,
           CAST(MAX(n_events) AS BIGINT) AS max_session_events,
           CAST(SUM(n_events) AS BIGINT) AS total_events
    FROM per_session GROUP BY user_id ORDER BY user_id
    """,
    tags=("streaming", "session", "window"),
)
def q82_events_sessionization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization with a 30-minute inactivity gap: lag -> gap flag ->
    running-sum session ids (the batch form of session_window; the
    streaming form is streaming/events.py::session_counts).

    Scale: one shuffle on user_id; windows are per-user partitions, so
    skewed users are the thing to watch — AQE skew handling or salting
    by (user_id, day) if a single user's history outgrows a task."""
    e = load(spark, sf_dir, "events")
    w_order = W.partitionBy("user_id").orderBy("ts", "event_id")
    flagged = e.select(
        "user_id",
        "ts",
        "event_id",
        F.when(
            F.lag("ts").over(w_order).isNull()
            # exact integer microsecond arithmetic (a double epoch-seconds
            # subtraction can flip the boundary comparison by an ulp)
            | (
                F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(w_order))
                >= 1_800_000_000
            ),
            1,
        )
        .otherwise(0)
        .alias("new_session"),
    )
    sessions = flagged.select(
        "user_id",
        "event_id",
        F.sum("new_session")
        .over(w_order.rowsBetween(W.unboundedPreceding, W.currentRow))
        .alias("session_id"),
    )
    per_session = sessions.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("n_events")
    )
    return (
        per_session.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_sessions"),
            F.max("n_events").alias("max_session_events"),
            F.sum("n_events").alias("total_events"),
        )
        .orderBy("user_id")
    )


@query(
    "q83_events_dedup",
    oracle="""
    SELECT user_id, event_type, COUNT(*) AS n_raw,
           COUNT(DISTINCT DATE_TRUNC('minute', ts)) AS n_distinct_minutes
    FROM events GROUP BY 1, 2 ORDER BY 1, 2
    """,
    tags=("streaming", "dedup"),
)
def q83_events_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event dedup at minute granularity — the batch twin of streaming
    dropDuplicatesWithinWatermark on (user, type, minute)."""
    e = load(spark, sf_dir, "events")
    return (
        e.groupBy("user_id", "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_raw"),
            F.count_distinct(F.date_trunc("minute", "ts")).alias("n_distinct_minutes"),
        )
        .orderBy("user_id", "event_type")
    )


@query(
    "q84_asof_join_purchase_signup",
    oracle="""
    WITH relevant AS (
      SELECT * FROM events WHERE event_type IN ('purchase', 'signup')
    ),
    tagged AS (
      SELECT user_id, ts, event_id, event_type,
             CASE WHEN event_type = 'signup' THEN ts END AS signup_ts
      FROM relevant
    ),
    runs AS (
      SELECT user_id, ts, event_id, event_type,
             MAX(signup_ts) OVER (
               PARTITION BY user_id
               ORDER BY ts, (CASE WHEN event_type = 'signup' THEN 0 ELSE 1 END), event_id
               ROWS UNBOUNDED PRECEDING) AS asof_signup_ts
      FROM tagged
    )
    SELECT event_id, user_id,
           CAST(EPOCH_US(ts) AS BIGINT) AS purchase_us,
           CAST(EPOCH_US(asof_signup_ts) AS BIGINT) AS signup_us,
           CAST(EPOCH_US(ts) - EPOCH_US(asof_signup_ts) AS BIGINT) AS us_since_signup
    FROM runs WHERE event_type = 'purchase'
    ORDER BY event_id
    """,
    tags=("streaming", "asof", "join"),
)
def q84_asof_join_purchase_signup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each purchase matched to the user's most recent
    signup at-or-before it (operators/asof.py — union + sort-within-
    partition + last(ignorenulls), one shuffle, no range explosion)."""
    e = load(spark, sf_dir, "events")
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    signups = e.filter(F.col("event_type") == "signup").select("user_id", "ts", "event_id")
    joined = asof_join(
        purchases,
        signups.drop("event_id"),
        on="user_id",
        tiebreak="event_id",
    )
    return joined.select(
        "event_id",
        "user_id",
        F.unix_micros("ts").alias("purchase_us"),
        F.unix_micros("asof_ts").alias("signup_us"),
        (F.unix_micros("ts") - F.unix_micros("asof_ts")).alias("us_since_signup"),
    ).orderBy("event_id")
