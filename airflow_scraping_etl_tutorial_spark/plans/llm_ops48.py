"""LLM-ops wave 49: product analytics and monitoring over the event
stream —

- q387: cohort retention matrix — users grouped by first-seen week,
  retained-share ppm at each week offset; THE product-analytics
  table, and the one that catches a silently-broken ingest (a
  cohort whose week-1 retention is 0 didn't churn — its events
  stopped loading).
- q388: top-k churn audit — how much the top-20 most-active-user
  leaderboard turns over between the first and second halves of the
  date range: set Jaccard, entries/exits, and the max rank shift
  among stayers; the dashboard-stability audit.
- q389: activity max drawdown — per event type, the largest drop of
  the daily count from its running peak (peak/trough days, depth in
  ppm of the peak); the time-series collapse detector that a mean-
  based monitor misses.

Output-hardening doctrine (as waves 6-48): weeks are the pure integer
FLOOR(days-since-epoch / 7) (no ISO-week locale surface); retained /
jaccard / drawdown shares are single truncating ppm divisions;
leaderboard ranks are row_number over an ALREADY-LIMITED 20-row frame
(model-sized, whitelisted); argmax days tiebreak to the EARLIEST day.

Reference parity: the reference's table feeds exactly these
dashboards — who keeps coming back (q387), whether the biggest
traders rotate (q388), and whether activity fell off a cliff (q389).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..sources.tables import load
from .registry import query

# ---------------------------------------------------------------------------
# q387 — cohort retention matrix
# ---------------------------------------------------------------------------


@query(
    "q387_cohort_retention",
    oracle="""
    WITH uw AS (
      SELECT user_id,
             DATEDIFF('day', DATE '1970-01-01', CAST(ts AS DATE)) // 7
               AS week
      FROM events GROUP BY 1, 2
    ),
    first_w AS (
      SELECT user_id, MIN(week) AS cohort_week FROM uw GROUP BY user_id
    ),
    sizes AS (
      SELECT cohort_week, CAST(COUNT(*) AS BIGINT) AS cohort_size
      FROM first_w GROUP BY cohort_week
    ),
    hits AS (
      SELECT f.cohort_week, u.week - f.cohort_week AS offset_weeks,
             CAST(COUNT(DISTINCT u.user_id) AS BIGINT) AS retained
      FROM uw u JOIN first_w f ON f.user_id = u.user_id
      GROUP BY 1, 2
    )
    SELECT h.cohort_week AS cohort_week,
           CAST(h.offset_weeks AS BIGINT) AS offset_weeks,
           s.cohort_size, h.retained,
           CAST(h.retained * 1000000 // s.cohort_size AS BIGINT)
             AS retained_ppm
    FROM hits h JOIN sizes s ON s.cohort_week = h.cohort_week
    ORDER BY cohort_week, offset_weeks
    """,
    tags=("llm", "product-analytics", "retention", "cohort"),
)
def q387_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix: users bucketed by FIRST-SEEN week
    (weeks are the locale-free integer FLOOR(epoch-days / 7)), and for
    each (cohort, week offset) the distinct users still active and
    their share of the cohort in truncating ppm. Offset 0 is 1e6 by
    construction — a cohort row whose later offsets crash to zero
    while sibling cohorts hold is the signature of a broken ingest,
    not churn. The matrix is the product-analytics table every
    activation dashboard renders.

    Scale: one (user, week) dedup aggregate, one user-grain MIN, one
    (cohort, offset) rollup — the distinct-user count shuffles
    user ids once at (cohort, offset) grain; the output frame is
    |weeks|^2 / 2 rows (tiny)."""
    events = load(spark, sf_dir, "events")
    week = F.expr(
        "CAST(datediff(CAST(ts AS DATE), DATE '1970-01-01') div 7 AS BIGINT)"
    )
    uw = events.select("user_id", week.alias("week")).distinct().persist()
    first_w = uw.groupBy("user_id").agg(F.min("week").alias("cohort_week"))
    sizes = first_w.groupBy("cohort_week").agg(
        F.count(F.lit(1)).cast("bigint").alias("cohort_size")
    )
    hits = (
        uw.join(first_w, "user_id")
        .groupBy(
            "cohort_week",
            (F.col("week") - F.col("cohort_week")).alias("offset_weeks"),
        )
        .agg(F.countDistinct("user_id").cast("bigint").alias("retained"))
    )
    out = (
        hits.join(sizes, "cohort_week")
        .select(
            "cohort_week",
            F.col("offset_weeks").cast("bigint").alias("offset_weeks"),
            "cohort_size",
            "retained",
            F.expr(
                "CAST(retained * 1000000 div cohort_size AS BIGINT)"
            ).alias("retained_ppm"),
        )
        .orderBy("cohort_week", "offset_weeks")
    )
    return out


# ---------------------------------------------------------------------------
# q388 — top-k leaderboard churn
# ---------------------------------------------------------------------------


def _sql_half_top(cmp: str, name: str) -> str:
    """Top-20 users of one half by (count DESC, user_id), ranked
    WITHIN the 20-row frame."""
    return f"""
    {name} AS (
      SELECT user_id, c,
             ROW_NUMBER() OVER (ORDER BY c DESC, user_id) AS rnk
      FROM (
        SELECT user_id, CAST(COUNT(*) AS BIGINT) AS c
        FROM ev CROSS JOIN mid
        WHERE day {cmp} mid.m
        GROUP BY user_id
        ORDER BY c DESC, user_id LIMIT 20
      )
    )"""


@query(
    "q388_topk_leaderboard_churn",
    oracle=f"""
    WITH ev AS (
      SELECT user_id,
             DATEDIFF('day', DATE '1970-01-01', CAST(ts AS DATE)) AS day
      FROM events
    ),
    mid AS (
      SELECT (MIN(day) + MAX(day) + 1) // 2 AS m FROM ev
    ),
    {_sql_half_top("<", "ta")},
    {_sql_half_top(">=", "tb")},
    stay AS (
      SELECT ta.user_id, ABS(ta.rnk - tb.rnk) AS shift
      FROM ta JOIN tb ON tb.user_id = ta.user_id
    )
    SELECT CAST(20 AS INT) AS k,
           CAST((SELECT COUNT(*) FROM ta) AS BIGINT) AS n_a,
           CAST((SELECT COUNT(*) FROM tb) AS BIGINT) AS n_b,
           CAST((SELECT COUNT(*) FROM stay) AS BIGINT) AS n_stayed,
           CAST((SELECT COUNT(*) FROM ta) - (SELECT COUNT(*) FROM stay)
                AS BIGINT) AS n_left,
           CAST((SELECT COUNT(*) FROM tb) - (SELECT COUNT(*) FROM stay)
                AS BIGINT) AS n_entered,
           CAST((SELECT COUNT(*) FROM stay) * 1000000
                // ((SELECT COUNT(*) FROM ta) + (SELECT COUNT(*) FROM tb)
                    - (SELECT COUNT(*) FROM stay)) AS BIGINT)
             AS jaccard_ppm,
           CAST(COALESCE((SELECT MAX(shift) FROM stay), -1) AS BIGINT)
             AS max_rank_shift
    """,
    tags=("llm", "monitoring", "top-k", "churn"),
)
def q388_topk_leaderboard_churn(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Leaderboard stability audit: the top-20 most-active users are
    computed independently for the first and second halves of the
    date range (midpoint = integer (min_day + max_day + 1) // 2),
    and the single summary row reports the set Jaccard in ppm, the
    stay/enter/leave counts, and the max rank displacement among
    stayers (-1 sentinel when no one stayed). High churn in a
    leaderboard that product treats as stable is either real
    rotation or a half-broken ingest — this row says which question
    to ask. Ranks are row_number over the ALREADY-LIMITED 20-row
    frame (model-sized window, whitelisted); every share is one
    truncating division.

    Scale: two user-grain half aggregates, two global top-20s
    (TakeOrderedAndProject), then arithmetic on <= 40 rows."""
    events = load(spark, sf_dir, "events")
    ev = events.select(
        "user_id",
        F.datediff(F.col("ts").cast("date"), F.lit("1970-01-01").cast("date"))
        .cast("bigint")
        .alias("day"),
    ).persist()
    mid = ev.agg(
        F.expr("CAST((MIN(day) + MAX(day) + 1) div 2 AS BIGINT)").alias("m")
    )

    def half_top(cmp) -> DataFrame:
        h = (
            ev.crossJoin(F.broadcast(mid))
            .filter(cmp)
            .groupBy("user_id")
            .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
            .orderBy(F.desc("c"), "user_id")
            .limit(20)
        )
        return h.select(
            "user_id",
            "c",
            F.row_number()
            # global-window-ok: frame already LIMITed to 20 rows (model-sized)
            .over(W.orderBy(F.desc("c"), "user_id"))
            .alias("rnk"),
        )

    ta = half_top(F.col("day") < F.col("m")).persist()
    tb = half_top(F.col("day") >= F.col("m")).persist()
    stay = ta.select("user_id", F.col("rnk").alias("ra")).join(
        tb.select("user_id", F.col("rnk").alias("rb")), "user_id"
    ).select((F.abs(F.col("ra") - F.col("rb"))).alias("shift"))
    na = ta.agg(F.count(F.lit(1)).cast("bigint").alias("n_a"))
    nb = tb.agg(F.count(F.lit(1)).cast("bigint").alias("n_b"))
    ns = stay.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_stayed"),
        F.max("shift").cast("bigint").alias("_maxshift"),
    )
    out = (
        na.crossJoin(F.broadcast(nb))
        .crossJoin(F.broadcast(ns))
        .select(
            F.lit(20).cast("int").alias("k"),
            "n_a",
            "n_b",
            "n_stayed",
            (F.col("n_a") - F.col("n_stayed")).cast("bigint").alias("n_left"),
            (F.col("n_b") - F.col("n_stayed"))
            .cast("bigint")
            .alias("n_entered"),
            F.expr(
                "CAST(n_stayed * 1000000 div (n_a + n_b - n_stayed)"
                " AS BIGINT)"
            ).alias("jaccard_ppm"),
            F.coalesce(F.col("_maxshift"), F.lit(-1))
            .cast("bigint")
            .alias("max_rank_shift"),
        )
    )
    return out


# ---------------------------------------------------------------------------
# q389 — activity max drawdown
# ---------------------------------------------------------------------------


@query(
    "q389_activity_max_drawdown",
    oracle="""
    WITH daily AS (
      SELECT event_type,
             DATEDIFF('day', DATE '1970-01-01', CAST(ts AS DATE)) AS day,
             CAST(COUNT(*) AS BIGINT) AS c
      FROM events GROUP BY 1, 2
    ),
    runpeak AS (
      SELECT event_type, day, c,
             CAST(MAX(c) OVER (PARTITION BY event_type ORDER BY day)
                  AS BIGINT) AS peak
      FROM daily
    ),
    dd AS (
      SELECT event_type, day, c, peak, peak - c AS drawdown
      FROM runpeak
    ),
    best AS (
      SELECT event_type, CAST(MAX(drawdown) AS BIGINT) AS max_drawdown
      FROM dd GROUP BY event_type
    ),
    at_best AS (
      SELECT d.event_type,
             CAST(MIN(d.day) AS BIGINT) AS trough_day
      FROM dd d JOIN best b ON b.event_type = d.event_type
                           AND d.drawdown = b.max_drawdown
      GROUP BY d.event_type
    )
    SELECT b.event_type, b.max_drawdown,
           a.trough_day,
           CAST(d.c AS BIGINT) AS trough_count,
           d.peak AS peak_count,
           CAST(CASE WHEN d.peak = 0 THEN 0
                ELSE b.max_drawdown * 1000000 // d.peak END AS BIGINT)
             AS drawdown_ppm
    FROM best b
    JOIN at_best a ON a.event_type = b.event_type
    JOIN dd d ON d.event_type = b.event_type AND d.day = a.trough_day
    ORDER BY b.event_type
    """,
    tags=("llm", "monitoring", "drawdown", "timeseries"),
)
def q389_activity_max_drawdown(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Max drawdown of the daily activity series, per event type: the
    deepest drop of the daily count below its RUNNING PEAK, with the
    (earliest) trough day, the counts at trough and peak, and the
    depth as truncating ppm of the peak. CUSUM (q292) finds slow
    drifts; drawdown finds cliffs — the metric is the classic
    finance one applied to the volume series the reference's feed
    produces. Argmax day tiebreaks to the EARLIEST.

    Scale: day-grain aggregate, then a running max over an
    (event_type)-partitioned O(days) frame, then type-grain argmax
    joins — nothing above day grain moves."""
    events = load(spark, sf_dir, "events")
    daily = (
        events.groupBy(
            "event_type",
            F.datediff(
                F.col("ts").cast("date"), F.lit("1970-01-01").cast("date")
            )
            .cast("bigint")
            .alias("day"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    wp = W.partitionBy("event_type").orderBy("day")
    dd = daily.select(
        "event_type",
        "day",
        "c",
        F.max("c").over(wp).cast("bigint").alias("peak"),
    ).select(
        "event_type", "day", "c", "peak", (F.col("peak") - F.col("c")).alias("drawdown")
    ).persist()
    best = dd.groupBy("event_type").agg(
        F.max("drawdown").cast("bigint").alias("max_drawdown")
    )
    at_best = (
        dd.join(best, "event_type")
        .filter(F.col("drawdown") == F.col("max_drawdown"))
        .groupBy("event_type")
        .agg(F.min("day").cast("bigint").alias("trough_day"))
    )
    out = (
        best.join(at_best, "event_type")
        .join(
            dd.select(
                "event_type",
                F.col("day").alias("trough_day"),
                F.col("c").alias("trough_count"),
                F.col("peak").alias("peak_count"),
            ),
            ["event_type", "trough_day"],
        )
        .select(
            "event_type",
            "max_drawdown",
            "trough_day",
            F.col("trough_count").cast("bigint").alias("trough_count"),
            "peak_count",
            F.expr(
                "CAST(CASE WHEN peak_count = 0 THEN 0"
                " ELSE max_drawdown * 1000000 div peak_count END AS BIGINT)"
            ).alias("drawdown_ppm"),
        )
        .orderBy("event_type")
    )
    return out
