"""LLM-ops wave 18: robust and nonparametric time-series statistics —
Theil-Sen slope, the Mann-Kendall trend test, and exact-integer
autocorrelation — the outlier-resistant companions to the parametric
monitoring ring (q253 OLS, q276 backtest, q291 changepoint, q292
CUSUM).

Output-hardening doctrine (as waves 6-17): BIGINT-cast integer
aggregates, q253-doctrine sign-factored truncating division, and a
new exactness trick per query — Theil-Sen selects the median PAIR on
an identical-IEEE double but reports its slope from the pair's exact
integers; Mann-Kendall is pure sign counting; the ACF multiplies
through by n² so centered products become exact integers
(n·y_t − S_n), the same scaling family as q291/q292.

Reference parity: the reference's daily feed
(dags/Final_app.py:79-149) accumulates exactly the kind of
outlier-peppered daily series (holiday zeros, backfill spikes) that
breaks least-squares monitoring — these three are the standard
robust replacements.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..sources.tables import load
from .registry import query

_SQL_DAILY = """
      SELECT event_type,
             DATE_DIFF('day', DATE '2024-01-01', CAST(ts AS DATE)) AS x,
             COUNT(*) AS y
      FROM events GROUP BY event_type, CAST(ts AS DATE)
"""


def _spark_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    return (
        ev.select(
            "event_type",
            F.datediff(F.to_date("ts"), F.lit("2024-01-01")).alias("x"),
        )
        .groupBy("event_type", "x")
        .agg(F.count(F.lit(1)).alias("y"))
    )


# ---------------------------------------------------------------------------
# q293 — Theil-Sen robust slope per feed
# ---------------------------------------------------------------------------


@query(
    "q293_theil_sen_slope",
    oracle=f"""
    WITH d AS ({_SQL_DAILY}),
    p AS (
      SELECT a.event_type,
             b.y - a.y AS dy,
             b.x - a.x AS dx,
             CAST(b.y - a.y AS DOUBLE) / (b.x - a.x) AS sl
      FROM d a JOIN d b
        ON a.event_type = b.event_type AND a.x < b.x
    ),
    r AS (
      SELECT event_type, dy, dx,
             ROW_NUMBER() OVER (PARTITION BY event_type
                                ORDER BY sl, dy, dx) AS rk,
             COUNT(*) OVER (PARTITION BY event_type) AS m
      FROM p
    ),
    nd AS (SELECT event_type, COUNT(*) AS n FROM d GROUP BY event_type)
    SELECT r.event_type,
           CAST(nd.n AS BIGINT) AS n_days,
           CAST(r.m AS BIGINT) AS n_pairs,
           CAST(CASE WHEN dy >= 0 THEN (1000000 * dy) // dx
                     ELSE -((1000000 * (-dy)) // dx)
                END AS BIGINT) AS ts_slope_ppm
    FROM r JOIN nd ON nd.event_type = r.event_type
    WHERE r.rk = (r.m + 1) // 2
    ORDER BY r.event_type
    """,
    tags=("streaming", "events", "trend", "robust"),
)
def q293_theil_sen_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-Sen robust trend per feed: the MEDIAN of all pairwise
    slopes of the daily-count series, in events-per-day ppm — the
    estimator with a 29% breakdown point, immune to the holiday
    zeros and backfill spikes that drag q253's least-squares line.
    Exactness split: the median PAIR is selected by ordering on the
    identical-IEEE double dy/dx (same division both engines; ties
    broken on the exact (dy, dx)), then the REPORTED slope is
    computed from that pair's exact integers by sign-factored
    truncating division — so the output is integer-exact even though
    the sort key is a float.

    Scale: days pre-aggregate map-side first, so the O(n²) pair join
    is over per-feed DAILY rows (n ≈ hundreds ⇒ ≤ ~10⁵ pairs per
    feed), partition-local after one feed shuffle — the standard
    regime for Theil-Sen, which is never run on raw events."""
    d = _spark_daily(spark, sf_dir)
    a = d.select("event_type", F.col("x").alias("xa"), F.col("y").alias("ya"))
    b = d.select("event_type", F.col("x").alias("xb"), F.col("y").alias("yb"))
    p = (
        a.join(b, "event_type")
        .filter(F.col("xa") < F.col("xb"))
        .select(
            "event_type",
            (F.col("yb") - F.col("ya")).alias("dy"),
            (F.col("xb") - F.col("xa")).alias("dx"),
            (
                (F.col("yb") - F.col("ya")).cast("double")
                / (F.col("xb") - F.col("xa"))
            ).alias("sl"),
        )
    )
    r = p.select(
        "event_type",
        "dy",
        "dx",
        F.row_number()
        .over(W.partitionBy("event_type").orderBy("sl", "dy", "dx"))
        .alias("rk"),
        F.count(F.lit(1)).over(W.partitionBy("event_type")).alias("m"),
    )
    nd = d.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    slope = F.expr(
        "CAST(CASE WHEN dy >= 0 THEN (1000000 * dy) div dx"
        " ELSE -((1000000 * (-dy)) div dx) END AS BIGINT)"
    )
    return (
        r.filter(F.col("rk") == F.expr("(m + 1) div 2"))
        .join(F.broadcast(nd), "event_type")
        .select(
            "event_type",
            F.col("n").cast("bigint").alias("n_days"),
            F.col("m").cast("bigint").alias("n_pairs"),
            slope.alias("ts_slope_ppm"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# q294 — Mann-Kendall trend test per feed
# ---------------------------------------------------------------------------


@query(
    "q294_mann_kendall_trend",
    oracle=f"""
    WITH d AS ({_SQL_DAILY}),
    p AS (
      SELECT a.event_type,
             CASE WHEN b.y > a.y THEN 1
                  WHEN b.y < a.y THEN -1 ELSE 0 END AS sg
      FROM d a JOIN d b
        ON a.event_type = b.event_type AND a.x < b.x
    ),
    nd AS (SELECT event_type, COUNT(*) AS n FROM d GROUP BY event_type),
    tie AS (
      SELECT event_type,
             COALESCE(SUM(t * (t - 1) * (2 * t + 5)), 0) AS tie_term
      FROM (SELECT event_type, y, COUNT(*) AS t
            FROM d GROUP BY event_type, y)
      WHERE t > 1 GROUP BY event_type
    )
    SELECT p.event_type,
           CAST(nd.n AS BIGINT) AS n_days,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(SUM(CASE WHEN sg = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_concordant,
           CAST(SUM(CASE WHEN sg = -1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_discordant,
           CAST(SUM(sg) AS BIGINT) AS s_stat,
           CAST(nd.n * (nd.n - 1) * (2 * nd.n + 5)
                - COALESCE(MIN(tie.tie_term), 0) AS BIGINT) AS var18
    FROM p
    JOIN nd ON nd.event_type = p.event_type
    LEFT JOIN tie ON tie.event_type = p.event_type
    GROUP BY p.event_type, nd.n ORDER BY p.event_type
    """,
    tags=("streaming", "events", "trend", "nonparametric"),
)
def q294_mann_kendall_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Kendall trend test per feed: S = Σ sign(y_j − y_i) over
    all day pairs i<j — the standard nonparametric "is there a
    monotone trend?" test that needs no linearity, no normality, and
    shrugs at outliers (q253 estimates a slope, q293 a robust slope;
    this answers whether a trend EXISTS). Reported with the
    tie-corrected variance numerator var18 = n(n−1)(2n+5) −
    Σ t(t−1)(2t+5), kept ×18 so it stays an exact integer — a
    consumer forms z = S/√(var18/18) with one sqrt on its side.
    Everything here is counting: no division, no floats, nothing to
    quantize.

    Scale: same regime as q293 — the O(n²) sign census runs on the
    per-feed DAILY table after map-side pre-aggregation,
    partition-local per feed; the tie census is a (feed, y)-grouped
    aggregate."""
    d = _spark_daily(spark, sf_dir)
    a = d.select("event_type", F.col("x").alias("xa"), F.col("y").alias("ya"))
    b = d.select("event_type", F.col("x").alias("xb"), F.col("y").alias("yb"))
    sg = (
        F.when(F.col("yb") > F.col("ya"), 1)
        .when(F.col("yb") < F.col("ya"), -1)
        .otherwise(0)
    )
    p = (
        a.join(b, "event_type")
        .filter(F.col("xa") < F.col("xb"))
        .select("event_type", sg.alias("sg"))
    )
    nd = d.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    tie = (
        d.groupBy("event_type", "y")
        .agg(F.count(F.lit(1)).alias("t"))
        .filter(F.col("t") > 1)
        .groupBy("event_type")
        .agg(
            F.coalesce(
                F.sum(
                    F.col("t") * (F.col("t") - 1) * (2 * F.col("t") + 5)
                ),
                F.lit(0),
            ).alias("tie_term")
        )
    )
    return (
        p.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
            F.sum(F.when(F.col("sg") == 1, 1).otherwise(0))
            .cast("bigint")
            .alias("n_concordant"),
            F.sum(F.when(F.col("sg") == -1, 1).otherwise(0))
            .cast("bigint")
            .alias("n_discordant"),
            F.sum("sg").cast("bigint").alias("s_stat"),
        )
        .join(F.broadcast(nd), "event_type")
        .join(F.broadcast(tie), "event_type", "left")
        .select(
            "event_type",
            F.col("n").cast("bigint").alias("n_days"),
            "n_pairs",
            "n_concordant",
            "n_discordant",
            "s_stat",
            (
                F.col("n") * (F.col("n") - 1) * (2 * F.col("n") + 5)
                - F.coalesce(F.col("tie_term"), F.lit(0))
            )
            .cast("bigint")
            .alias("var18"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# q295 — exact-integer autocorrelation per feed (lags 1-7)
# ---------------------------------------------------------------------------

_MAX_LAG = 7


@query(
    "q295_daily_autocorrelation",
    oracle=f"""
    WITH d AS ({_SQL_DAILY}),
    r AS (
      SELECT event_type, y,
             ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY x) AS rk,
             COUNT(*) OVER (PARTITION BY event_type) AS n,
             SUM(y) OVER (PARTITION BY event_type) AS sn
      FROM d
    ),
    c AS (SELECT event_type, y, rk, n, sn, y * n - sn AS cy FROM r),
    den AS (
      SELECT event_type, MIN(n) AS n, SUM(cy * cy) AS den
      FROM c GROUP BY event_type
    ),
    num AS (
      SELECT a.event_type, l.lag, SUM(a.cy * b.cy) AS num
      FROM c a
      JOIN (SELECT UNNEST(RANGE(1, {_MAX_LAG + 1})) AS lag) l ON TRUE
      JOIN c b ON b.event_type = a.event_type AND b.rk = a.rk + l.lag
      GROUP BY a.event_type, l.lag
    )
    SELECT num.event_type,
           CAST(num.lag AS INT) AS lag,
           CAST(den.n AS BIGINT) AS n_days,
           CAST(CASE WHEN den.den = 0 THEN 0
                     WHEN num.num >= 0
                     THEN (1000000 * num.num) // den.den
                     ELSE -((1000000 * (-num.num)) // den.den)
                END AS BIGINT) AS acf_ppm
    FROM num JOIN den ON den.event_type = num.event_type
    ORDER BY num.event_type, lag
    """,
    tags=("streaming", "events", "autocorrelation", "seasonality"),
)
def q295_daily_autocorrelation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation of daily counts at lags 1-7 per feed, in ppm —
    the signature every scheduler reads: a spike at lag 7 is weekly
    seasonality (q254 scores it by ANOVA; this localizes WHICH lag),
    high lag-1 means yesterday predicts today (and prices q276's
    persistence baseline), all-flat means white noise and any
    forecasting spend is wasted. Exactness: multiplying the centered
    values by n (cy = n·y − S) turns every centered product into an
    exact integer — the q291/q292 scaling family — so numerator and
    denominator are exact int64 sums and the ppm is one
    sign-factored truncating division. int64 bound: Σ cy² ≤
    n·(n·y_max)² — safe for daily counts over years; DECIMAL(38,0)
    past that.

    Scale: the lag join runs on the per-feed daily table (rk-shifted
    equi-join after one feed shuffle), 7 lags via a tiny unnest —
    O(feeds × days × 7) rows total, never touching raw events
    twice."""
    d = _spark_daily(spark, sf_dir)
    wo = W.partitionBy("event_type").orderBy("x")
    wa = W.partitionBy("event_type")
    c = d.select(
        "event_type",
        F.row_number().over(wo).alias("rk"),
        F.count(F.lit(1)).over(wa).alias("n"),
        (F.col("y") * F.count(F.lit(1)).over(wa) - F.sum("y").over(wa)).alias(
            "cy"
        ),
    )
    den = c.groupBy("event_type").agg(
        F.min("n").alias("n"), F.sum(F.col("cy") * F.col("cy")).alias("den")
    )
    lags = spark.range(1, _MAX_LAG + 1).select(F.col("id").cast("int").alias("lag"))
    a = c.select("event_type", "rk", F.col("cy").alias("cya"))
    b = c.select(
        F.col("event_type").alias("et_b"),
        F.col("rk").alias("rkb"),
        F.col("cy").alias("cyb"),
    )
    num = (
        a.crossJoin(F.broadcast(lags))
        .join(
            b,
            (F.col("et_b") == F.col("event_type"))
            & (F.col("rkb") == F.col("rk") + F.col("lag")),
        )
        .groupBy("event_type", "lag")
        .agg(F.sum(F.col("cya") * F.col("cyb")).alias("num"))
    )
    return (
        num.join(F.broadcast(den), "event_type")
        .select(
            "event_type",
            F.col("lag").cast("int").alias("lag"),
            F.col("n").cast("bigint").alias("n_days"),
            F.expr(
                "CAST(CASE WHEN den = 0 THEN 0"
                " WHEN num >= 0 THEN (1000000 * num) div den"
                " ELSE -((1000000 * (-num)) div den) END AS BIGINT)"
            ).alias("acf_ppm"),
        )
        .orderBy("event_type", "lag")
    )
