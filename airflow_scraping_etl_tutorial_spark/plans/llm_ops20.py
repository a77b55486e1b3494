"""LLM-ops wave 21: survival analysis — a Kaplan-Meier
time-to-conversion curve kept exact in log space, and the log-rank
test comparing two md5 cohorts — the censoring-aware pair that
completes the experimentation ring (q222 measures conversion lags
among CONVERTERS ONLY; these two handle the users who never converted,
which is where naive lag analyses lie).

Output-hardening doctrine (as waves 6-20): the KM product survives as
a SUM of per-day LN terms quantized to DECIMAL(18,6) (the q128/q271
doctrine — the curve is reported in micro-nats of log-survival, never
exponentiated, so no cross-engine EXP exists); log-rank expectation
and variance terms are per-day truncating divisions of exact int64
products, summed as integers (the q301 rate-quantization doctrine);
at-risk/event counts are raw integers.

Reference parity: the reference's pipeline reports whether users
acted (dags/Final_app.py:79-149 stores the day's activity); WHEN they
act — and whether the ones who have not acted YET will — is the
survival question, and censoring-aware machinery is the only honest
way to ask it before the observation window closes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..sources.tables import load
from .registry import query

_HORIZON = 14  # days 0..13


# shared CTE: per-user (entry day, event time, censor time)
_SQL_USERS = """
      SELECT user_id,
             MIN(CAST(ts AS DATE)) AS t0,
             MIN(CASE WHEN event_type = 'purchase'
                 THEN CAST(ts AS DATE) END) AS tp
      FROM events GROUP BY user_id
"""


def _spark_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    return ev.groupBy("user_id").agg(
        F.min(F.to_date("ts")).alias("t0"),
        F.min(
            F.when(F.col("event_type") == "purchase", F.to_date("ts"))
        ).alias("tp"),
    )


# ---------------------------------------------------------------------------
# q303 — Kaplan-Meier time-to-conversion (log-space exact)
# ---------------------------------------------------------------------------


@query(
    "q303_kaplan_meier_conversion",
    oracle=f"""
    WITH u AS ({_SQL_USERS}),
    c AS (SELECT MAX(CAST(ts AS DATE)) AS cmax FROM events),
    ut AS (
      SELECT CASE WHEN tp IS NULL THEN NULL ELSE tp - t0 END AS et,
             cmax - t0 AS ct
      FROM u CROSS JOIN c
    ),
    days AS (SELECT UNNEST(RANGE(0, {_HORIZON})) AS t),
    km AS (
      SELECT t,
             CAST(SUM(CASE WHEN (et IS NULL AND ct >= t) OR et >= t
                      THEN 1 ELSE 0 END) AS BIGINT) AS n_risk,
             CAST(SUM(CASE WHEN et = t THEN 1 ELSE 0 END) AS BIGINT)
               AS n_events
      FROM days CROSS JOIN ut GROUP BY t
    ),
    terms AS (
      SELECT t, n_risk, n_events,
             CASE WHEN n_risk = 0 OR n_risk = n_events THEN NULL
                  ELSE CAST(LN(CAST(n_risk - n_events AS DOUBLE) / n_risk)
                            AS DECIMAL(18,6)) END AS l
      FROM km
    )
    SELECT CAST(t AS INT) AS day,
           n_risk,
           n_events,
           CAST(SUM(l * 1000000) OVER (ORDER BY t
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS BIGINT) AS cum_log_survival_micronats
    FROM terms ORDER BY day
    """,
    tags=("audit", "survival", "kaplanmeier", "conversion"),
)
def q303_kaplan_meier_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier time-to-first-purchase: per day offset t from a
    user's first activity, the at-risk count, the conversions at
    exactly t, and the KM log-survival curve — users who never
    purchased are CENSORED at the stream's end rather than dropped
    or counted as failures (the mistake q222's converters-only lag
    curve cannot avoid). The product Π(1 − d/n) is carried as a SUM
    of per-day LN terms quantized to DECIMAL(18,6) (q128/q271
    doctrine), reported in micro-nats: monotone non-increasing,
    engine-exact, and a consumer recovers probabilities with one
    exp on its side. Degenerate days (no one at risk, or everyone
    converts) yield NULL terms that BOTH engines' window SUM skips
    identically — the curve simply flattens there, and the raw
    n_risk/n_events columns expose the day.

    Scale: one user shuffle builds (event time, censor time); the
    day table is a 14-row broadcast; the curve is a windowed sum
    over 14 rows (q267 bounded-window doctrine)."""
    u = _spark_users(spark, sf_dir)
    ev = load(spark, sf_dir, "events")
    c = ev.agg(F.max(F.to_date("ts")).alias("cmax"))
    ut = u.crossJoin(F.broadcast(c)).select(
        F.when(
            F.col("tp").isNotNull(), F.datediff(F.col("tp"), F.col("t0"))
        ).alias("et"),
        F.datediff(F.col("cmax"), F.col("t0")).alias("ct"),
    )
    days = spark.range(0, _HORIZON).select(F.col("id").cast("int").alias("t"))
    km = (
        ut.crossJoin(F.broadcast(days))
        .groupBy("t")
        .agg(
            F.sum(
                F.when(
                    (F.col("et").isNull() & (F.col("ct") >= F.col("t")))
                    | (F.col("et") >= F.col("t")),
                    1,
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("n_risk"),
            F.sum(F.when(F.col("et") == F.col("t"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_events"),
        )
    )
    terms = km.select(
        "t",
        "n_risk",
        "n_events",
        F.when(
            (F.col("n_risk") == 0) | (F.col("n_risk") == F.col("n_events")),
            F.lit(None),
        )
        .otherwise(
            F.log(
                (F.col("n_risk") - F.col("n_events")).cast("double")
                / F.col("n_risk")
            ).cast("decimal(18,6)")
        )
        .alias("l"),
    )
    # global-window-ok: day-grain survival table: |days| rows
    wt = W.orderBy("t").rowsBetween(W.unboundedPreceding, W.currentRow)
    return terms.select(
        F.col("t").cast("int").alias("day"),
        "n_risk",
        "n_events",
        F.sum(F.col("l") * 1000000)
        .over(wt)
        .cast("bigint")
        .alias("cum_log_survival_micronats"),
    ).orderBy("day")


# ---------------------------------------------------------------------------
# q304 — log-rank test between two md5 cohorts
# ---------------------------------------------------------------------------


@query(
    "q304_logrank_test",
    oracle=f"""
    WITH u AS ({_SQL_USERS}),
    c AS (SELECT MAX(CAST(ts AS DATE)) AS cmax FROM events),
    ut AS (
      SELECT CASE WHEN SUBSTR(MD5(CAST(user_id AS VARCHAR) || ':exp2'),
                              1, 1) < '8' THEN 1 ELSE 0 END AS g,
             CASE WHEN tp IS NULL THEN NULL ELSE tp - t0 END AS et,
             cmax - t0 AS ct
      FROM u CROSS JOIN c
    ),
    days AS (SELECT UNNEST(RANGE(0, {_HORIZON})) AS t),
    km AS (
      SELECT t,
             SUM(CASE WHEN (et IS NULL AND ct >= t) OR et >= t
                 THEN 1 ELSE 0 END) AS n,
             SUM(CASE WHEN et = t THEN 1 ELSE 0 END) AS d,
             SUM(CASE WHEN g = 1 AND ((et IS NULL AND ct >= t) OR et >= t)
                 THEN 1 ELSE 0 END) AS n1,
             SUM(CASE WHEN g = 1 AND et = t THEN 1 ELSE 0 END) AS d1
      FROM days CROSS JOIN ut GROUP BY t
    ),
    terms AS (
      SELECT t, n, d, n1, d1,
             CASE WHEN n = 0 THEN 0
                  ELSE (1000000 * d * n1) // n END AS e1_micro,
             CASE WHEN n <= 1 THEN 0
                  ELSE CAST((CAST(1000000 AS HUGEINT) * d * (n - d)
                             * n1 * (n - n1))
                            // (CAST(n AS HUGEINT) * n * (n - 1))
                            AS BIGINT) END AS v_micro
      FROM km
    )
    SELECT CAST(SUM(d1) AS BIGINT) AS observed_1,
           CAST(SUM(d) AS BIGINT) AS total_events,
           CAST(SUM(e1_micro) AS BIGINT) AS expected_1_micro,
           CAST(SUM(v_micro) AS BIGINT) AS variance_micro,
           CAST(1000000 * SUM(d1) - SUM(e1_micro) AS BIGINT)
             AS o_minus_e_micro
    FROM terms
    """,
    tags=("audit", "survival", "logrank", "abtest"),
)
def q304_logrank_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log-rank test: do two md5 cohorts convert at the same RATE
    over time? Per day, group 1's observed conversions against the
    expectation d·n₁/n under the null, with the hypergeometric
    variance — summed into O−E and V, from which a consumer forms
    z = (O−E)/√V with one sqrt on its side (q296 compares END-STATE
    conversion; this compares the whole TIMING curve, censoring
    included — treatments that accelerate conversion without
    changing its eventual level are invisible to q296 and glaring
    here). Expectation and variance terms are per-day truncating
    divisions of exact int64 products, micro-scaled and summed as
    integers (the q301 quantization doctrine), so O, E, and V are
    engine-exact. Under the null md5 split, |O−E| should sit well
    inside √V.

    Scale: identical shape to q303 — one user shuffle, a 14-row
    broadcast, and a 14-row integer reduce; the test costs one pass
    over events regardless of stream size."""
    u = _spark_users(spark, sf_dir)
    ev = load(spark, sf_dir, "events")
    c = ev.agg(F.max(F.to_date("ts")).alias("cmax"))
    ut = u.crossJoin(F.broadcast(c)).select(
        F.when(
            F.substring(
                F.md5(F.concat(F.col("user_id").cast("string"), F.lit(":exp2"))),
                1,
                1,
            )
            < "8",
            1,
        )
        .otherwise(0)
        .alias("g"),
        F.when(
            F.col("tp").isNotNull(), F.datediff(F.col("tp"), F.col("t0"))
        ).alias("et"),
        F.datediff(F.col("cmax"), F.col("t0")).alias("ct"),
    )
    days = spark.range(0, _HORIZON).select(F.col("id").cast("int").alias("t"))
    at_risk = (F.col("et").isNull() & (F.col("ct") >= F.col("t"))) | (
        F.col("et") >= F.col("t")
    )
    km = (
        ut.crossJoin(F.broadcast(days))
        .groupBy("t")
        .agg(
            F.sum(F.when(at_risk, 1).otherwise(0)).alias("n"),
            F.sum(F.when(F.col("et") == F.col("t"), 1).otherwise(0)).alias("d"),
            F.sum(F.when((F.col("g") == 1) & at_risk, 1).otherwise(0)).alias(
                "n1"
            ),
            F.sum(
                F.when((F.col("g") == 1) & (F.col("et") == F.col("t")), 1)
                .otherwise(0)
            ).alias("d1"),
        )
    )
    terms = km.select(
        "d",
        "d1",
        F.expr(
            "CASE WHEN n = 0 THEN CAST(0 AS BIGINT)"
            " ELSE (1000000 * d * n1) div n END"
        ).alias("e1_micro"),
        F.expr(
            "CASE WHEN n <= 1 THEN CAST(0 AS BIGINT)"
            " ELSE CAST((CAST(1000000 AS DECIMAL(38,0)) * d * (n - d)"
            " * n1 * (n - n1))"
            " div (CAST(n AS DECIMAL(38,0)) * n * (n - 1)) AS BIGINT) END"
        ).alias("v_micro"),
    )
    return terms.agg(
        F.sum("d1").cast("bigint").alias("observed_1"),
        F.sum("d").cast("bigint").alias("total_events"),
        F.sum("e1_micro").cast("bigint").alias("expected_1_micro"),
        F.sum("v_micro").cast("bigint").alias("variance_micro"),
        F.expr(
            "CAST(1000000 * SUM(d1) - SUM(e1_micro) AS BIGINT)"
        ).alias("o_minus_e_micro"),
    )
