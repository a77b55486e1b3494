"""LLM-ops wave 50: robust anomaly flags, experiment balance hygiene,
and operational SLO percentiles —

- q390: median/MAD anomaly days — per event type, the robust-z scan
  of the daily count series (median and median-absolute-deviation,
  both exact nearest-rank), flagging days with |c - med| > 3*MAD by
  pure integer comparison; the outlier detector that a mean/stddev
  monitor gets wrong on the very days that matter.
- q391: covariate balance SMD — standardized mean differences of
  three user covariates between the md5 ':exp2' arms; the balance
  table a reviewer demands BEFORE believing q364's ATE.
- q392: shipping-lag SLO — exact P50/P95/P99 (nearest-rank,
  value-grain) of order-to-ship lag days per order priority, with
  the >90-day breach share; the fulfillment percentile board.

Output-hardening doctrine (as waves 6-49): medians/MADs/percentiles
are exact nearest-rank selections (rank = the pure integer
(n+1)//2 / (p*n+99)//100) over day- or value-grain frames; the 3*MAD
flag is an integer cross-comparison (no division); q391's SMD is the
q368 single-IEEE-sqrt concession — exact integer moment sums divided
to double in ONE identical expression per engine, ROUND(..., 6).

Reference parity: the reference's daily feed is exactly the series
q390 guards; q392 is the ops board for the order pipeline its
warehouse serves.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..sources.tables import load
from .llm_ops19 import _spark_gate, _sql_gate
from .registry import query

# ---------------------------------------------------------------------------
# q390 — median/MAD anomaly days
# ---------------------------------------------------------------------------


@query(
    "q390_median_mad_anomaly_days",
    oracle="""
    WITH daily AS (
      SELECT event_type,
             DATEDIFF('day', DATE '1970-01-01', CAST(ts AS DATE)) AS day,
             CAST(COUNT(*) AS BIGINT) AS c
      FROM events GROUP BY 1, 2
    ),
    ranked AS (
      SELECT event_type, day, c,
             ROW_NUMBER() OVER (PARTITION BY event_type
                                ORDER BY c, day) AS r,
             COUNT(*) OVER (PARTITION BY event_type) AS n
      FROM daily
    ),
    med AS (
      SELECT event_type, CAST(c AS BIGINT) AS med, CAST(n AS BIGINT) AS n
      FROM ranked WHERE r = (n + 1) // 2
    ),
    dev AS (
      SELECT d.event_type, d.day, d.c, m.med, m.n,
             ABS(d.c - m.med) AS adev
      FROM daily d JOIN med m ON m.event_type = d.event_type
    ),
    dranked AS (
      SELECT event_type, adev,
             ROW_NUMBER() OVER (PARTITION BY event_type
                                ORDER BY adev, day) AS r,
             n
      FROM dev
    ),
    mad AS (
      SELECT event_type, CAST(adev AS BIGINT) AS mad
      FROM dranked WHERE r = (n + 1) // 2
    ),
    flagged AS (
      SELECT d.event_type, d.day, d.c, d.med, d.n, d.adev, m.mad,
             CASE WHEN d.adev > 3 * m.mad THEN 1 ELSE 0 END AS is_anom
      FROM dev d JOIN mad m ON m.event_type = d.event_type
    ),
    worst AS (
      SELECT f.event_type, CAST(MIN(f.day) AS BIGINT) AS worst_day
      FROM flagged f
      JOIN (SELECT event_type, MAX(adev) AS mx FROM flagged
            GROUP BY event_type) w
        ON w.event_type = f.event_type AND f.adev = w.mx
      GROUP BY f.event_type
    )
    SELECT f.event_type, f.n AS n_days, f.med AS median_c, f.mad,
           CAST(SUM(f.is_anom) AS BIGINT) AS n_anomalies,
           w.worst_day,
           CAST(MAX(f.adev) AS BIGINT) AS worst_dev
    FROM flagged f JOIN worst w ON w.event_type = f.event_type
    GROUP BY f.event_type, f.n, f.med, f.mad, w.worst_day
    ORDER BY f.event_type
    """,
    tags=("llm", "monitoring", "robust", "anomaly"),
)
def q390_median_mad_anomaly_days(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Robust-z anomaly scan of the daily count series per event type:
    median and MAD are exact nearest-rank selections (rank
    (n+1)//2, day tiebreak) over the O(days) day-grain frame, and a
    day is anomalous iff |c - med| > 3*MAD — a pure integer
    comparison, no division, no stddev (one bad day inflates a
    stddev enough to hide itself; it cannot move a median). Reports
    per type the anomaly count and the (earliest) worst day. The
    day-grain windows are event_type-partitioned O(days) frames.

    Scale: one scan to day grain; everything after runs on
    |types| x |days| rows."""
    events = load(spark, sf_dir, "events")
    daily = events.groupBy(
        "event_type",
        F.datediff(F.col("ts").cast("date"), F.lit("1970-01-01").cast("date"))
        .cast("bigint")
        .alias("day"),
    ).agg(F.count(F.lit(1)).cast("bigint").alias("c")).persist()
    wt = W.partitionBy("event_type")
    ranked = daily.select(
        "event_type",
        "day",
        "c",
        F.row_number().over(wt.orderBy("c", "day")).alias("r"),
        F.count(F.lit(1)).over(wt).alias("n"),
    )
    med = ranked.filter(F.col("r") == F.expr("(n + 1) div 2")).select(
        "event_type",
        F.col("c").cast("bigint").alias("med"),
        F.col("n").cast("bigint").alias("n"),
    )
    dev = daily.join(med, "event_type").select(
        "event_type",
        "day",
        "c",
        "med",
        "n",
        F.abs(F.col("c") - F.col("med")).alias("adev"),
    ).persist()
    dranked = dev.select(
        "event_type",
        "adev",
        F.row_number().over(wt.orderBy("adev", "day")).alias("r"),
        "n",
    )
    mad = dranked.filter(F.col("r") == F.expr("(n + 1) div 2")).select(
        "event_type", F.col("adev").cast("bigint").alias("mad")
    )
    flagged = dev.join(mad, "event_type").select(
        "*",
        F.expr("CASE WHEN adev > 3 * mad THEN 1 ELSE 0 END").alias("is_anom"),
    ).persist()
    worst = (
        flagged.join(
            flagged.groupBy("event_type").agg(F.max("adev").alias("mx")),
            "event_type",
        )
        .filter(F.col("adev") == F.col("mx"))
        .groupBy("event_type")
        .agg(F.min("day").cast("bigint").alias("worst_day"))
    )
    out = (
        flagged.groupBy("event_type", "n", "med", "mad")
        .agg(
            F.sum("is_anom").cast("bigint").alias("n_anomalies"),
            F.max("adev").cast("bigint").alias("worst_dev"),
        )
        .join(worst, "event_type")
        .select(
            "event_type",
            F.col("n").alias("n_days"),
            F.col("med").alias("median_c"),
            "mad",
            "n_anomalies",
            "worst_day",
            "worst_dev",
        )
        .orderBy("event_type")
    )
    return out


# ---------------------------------------------------------------------------
# q391 — covariate balance SMD
# ---------------------------------------------------------------------------


@query(
    "q391_covariate_balance_smd",
    oracle=f"""
    WITH u AS (
      SELECT user_id, {_sql_gate("user_id", ":exp2")} AS t,
             CAST(COUNT(*) AS BIGINT) AS n_events,
             CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                  AS BIGINT) AS purchases,
             CAST(COUNT(DISTINCT CAST(ts AS DATE)) AS BIGINT) AS active_days
      FROM events GROUP BY user_id
    ),
    longf AS (
      SELECT t, 'n_events' AS covariate, n_events AS x FROM u
      UNION ALL SELECT t, 'purchases', purchases FROM u
      UNION ALL SELECT t, 'active_days', active_days FROM u
    ),
    mom AS (
      SELECT covariate, t,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(x) AS BIGINT) AS s1,
             CAST(SUM(x * x) AS BIGINT) AS s2
      FROM longf GROUP BY covariate, t
    ),
    wide AS (
      SELECT a.covariate,
             a.n AS n_t, a.s1 AS s1_t, a.s2 AS s2_t,
             b.n AS n_c, b.s1 AS s1_c, b.s2 AS s2_c
      FROM mom a JOIN mom b ON b.covariate = a.covariate
      WHERE a.t = 1 AND b.t = 0
    )
    SELECT covariate, n_t, n_c,
           CAST(s1_t * 1000000 // n_t AS BIGINT) AS mean_t_micro,
           CAST(s1_c * 1000000 // n_c AS BIGINT) AS mean_c_micro,
           ROUND(ABS(CAST(s1_t AS DOUBLE) / n_t
                     - CAST(s1_c AS DOUBLE) / n_c)
                 / SQRT(((CAST(n_t * s2_t - s1_t * s1_t AS DOUBLE)
                          / (CAST(n_t AS DOUBLE) * (n_t - 1)))
                         + (CAST(n_c * s2_c - s1_c * s1_c AS DOUBLE)
                            / (CAST(n_c AS DOUBLE) * (n_c - 1)))) / 2),
                 6) AS smd,
           CAST(CASE WHEN ROUND(ABS(CAST(s1_t AS DOUBLE) / n_t
                     - CAST(s1_c AS DOUBLE) / n_c)
                 / SQRT(((CAST(n_t * s2_t - s1_t * s1_t AS DOUBLE)
                          / (CAST(n_t AS DOUBLE) * (n_t - 1)))
                         + (CAST(n_c * s2_c - s1_c * s1_c AS DOUBLE)
                            / (CAST(n_c AS DOUBLE) * (n_c - 1)))) / 2),
                 6) < 0.1 THEN 1 ELSE 0 END AS INT) AS balanced
    FROM wide ORDER BY covariate
    """,
    tags=("llm", "causal", "balance", "ab-test"),
)
def q391_covariate_balance_smd(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Covariate balance table for the ':exp2' assignment: per user
    covariate (event count, purchases, active days), the per-arm
    truncating micro means and the standardized mean difference
    |m_t - m_c| / sqrt((v_t + v_c)/2) with sample variances from
    exact integer moment sums (n*S2 - S1^2 lanes) — the ONE IEEE
    sqrt concession (q368 doctrine), ROUND(..., 6), with the
    conventional 0.1 threshold as a balanced flag. An md5 gate
    should balance everything; an unbalanced row means the gate key
    correlates with behavior and every downstream ATE needs
    stratification (q364).

    Scale: one user-grain aggregate unpivoted to 3 covariates x 2
    arms = 6 moment rows; all arithmetic on the 3-row wide frame."""
    events = load(spark, sf_dir, "events")
    u = events.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.sum(F.expr("CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END"))
        .cast("bigint")
        .alias("purchases"),
        F.countDistinct(F.col("ts").cast("date"))
        .cast("bigint")
        .alias("active_days"),
    ).select(
        _spark_gate("user_id", ":exp2").alias("t"),
        "n_events",
        "purchases",
        "active_days",
    )
    longf = u.select(
        "t",
        F.expr(
            "stack(3,"
            " 'n_events',    n_events,"
            " 'purchases',   purchases,"
            " 'active_days', active_days"
            ") AS (covariate, x)"
        ),
    )
    mom = longf.groupBy("covariate", "t").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("s1"),
        F.sum(F.expr("x * x")).cast("bigint").alias("s2"),
    )
    a = mom.filter(F.col("t") == 1).select(
        "covariate",
        F.col("n").alias("n_t"),
        F.col("s1").alias("s1_t"),
        F.col("s2").alias("s2_t"),
    )
    b = mom.filter(F.col("t") == 0).select(
        "covariate",
        F.col("n").alias("n_c"),
        F.col("s1").alias("s1_c"),
        F.col("s2").alias("s2_c"),
    )
    smd_expr = (
        "ROUND(ABS(CAST(s1_t AS DOUBLE) / n_t"
        " - CAST(s1_c AS DOUBLE) / n_c)"
        " / SQRT(((CAST(n_t * s2_t - s1_t * s1_t AS DOUBLE)"
        " / (CAST(n_t AS DOUBLE) * (n_t - 1)))"
        " + (CAST(n_c * s2_c - s1_c * s1_c AS DOUBLE)"
        " / (CAST(n_c AS DOUBLE) * (n_c - 1)))) / 2), 6)"
    )
    return (
        a.join(b, "covariate")
        .select(
            "covariate",
            "n_t",
            "n_c",
            F.expr("CAST(s1_t * 1000000 div n_t AS BIGINT)").alias(
                "mean_t_micro"
            ),
            F.expr("CAST(s1_c * 1000000 div n_c AS BIGINT)").alias(
                "mean_c_micro"
            ),
            F.expr(smd_expr).alias("smd"),
            F.expr(
                f"CAST(CASE WHEN {smd_expr} < 0.1 THEN 1 ELSE 0 END AS INT)"
            ).alias("balanced"),
        )
        .orderBy("covariate")
    )


# ---------------------------------------------------------------------------
# q392 — shipping-lag SLO percentiles
# ---------------------------------------------------------------------------


@query(
    "q392_shipping_lag_slo",
    oracle="""
    WITH lag_ AS (
      SELECT o.o_orderpriority AS priority,
             CAST(DATEDIFF('day', CAST(o.o_orderdate AS DATE),
                           CAST(l.l_shipdate AS DATE)) AS BIGINT) AS lag_d
      FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
    ),
    vg AS (
      SELECT priority, lag_d AS v, CAST(COUNT(*) AS BIGINT) AS freq
      FROM lag_ GROUP BY priority, lag_d
    ),
    cum AS (
      SELECT priority, v,
             CAST(SUM(freq) OVER (PARTITION BY priority ORDER BY v)
                  AS BIGINT) AS cum
      FROM vg
    ),
    n AS (
      SELECT priority, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CASE WHEN lag_d > 90 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_breach,
             CAST(MAX(lag_d) AS BIGINT) AS max_lag
      FROM lag_ GROUP BY priority
    ),
    q AS (
      SELECT n.priority, p.pct, MIN(c.v) AS qv
      FROM (VALUES (50), (95), (99)) p(pct)
      JOIN n ON TRUE
      JOIN cum c ON c.priority = n.priority
                AND c.cum >= (p.pct * n.n + 99) // 100
      GROUP BY n.priority, p.pct
    )
    SELECT n.priority, n.n AS n_lineitems,
           q50.qv AS p50_days, q95.qv AS p95_days, q99.qv AS p99_days,
           n.max_lag AS max_days,
           CAST(n.n_breach * 1000000 // n.n AS BIGINT) AS over_90d_ppm
    FROM n
    JOIN q q50 ON q50.priority = n.priority AND q50.pct = 50
    JOIN q q95 ON q95.priority = n.priority AND q95.pct = 95
    JOIN q q99 ON q99.priority = n.priority AND q99.pct = 99
    ORDER BY n.priority
    """,
    tags=("llm", "operations", "slo", "percentile"),
)
def q392_shipping_lag_slo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fulfillment SLO board: exact nearest-rank P50/P95/P99 of the
    order-to-ship lag in days per order priority (rank =
    (p*n + 99)//100 over a VALUE-GRAIN cumulative — the lag domain
    is a bounded set of day integers, so the q267 histogram-guided
    pattern needs no fallback), plus the max and the >90-day breach
    share in ppm. The one fact-fact join (lineitem x orders) moves
    only the two date columns and the key.

    Scale: join on orderkey (co-partitioned facts; AQE handles the
    shuffle), collapse to (priority, lag) value grain, window over
    the ~|distinct lags| frame, 3-point percentile grid."""
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    o = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    lag_ = li.join(o, li["l_orderkey"] == o["o_orderkey"]).select(
        F.col("o_orderpriority").alias("priority"),
        F.datediff(
            F.col("l_shipdate").cast("date"), F.col("o_orderdate").cast("date")
        )
        .cast("bigint")
        .alias("lag_d"),
    ).persist()
    vg = lag_.groupBy("priority", F.col("lag_d").alias("v")).agg(
        F.count(F.lit(1)).cast("bigint").alias("freq")
    )
    wv = W.partitionBy("priority").orderBy("v")
    cum = vg.select(
        "priority", "v", F.sum("freq").over(wv).cast("bigint").alias("cum")
    )
    n = lag_.groupBy("priority").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.expr("CASE WHEN lag_d > 90 THEN 1 ELSE 0 END"))
        .cast("bigint")
        .alias("n_breach"),
        F.max("lag_d").cast("bigint").alias("max_lag"),
    )
    pcts = spark.createDataFrame([(50,), (95,), (99,)], "pct int")
    q = (
        F.broadcast(pcts)
        .crossJoin(n.select("priority", "n"))
        .join(cum, "priority")
        .filter(F.col("cum") >= F.expr("(pct * n + 99) div 100"))
        .groupBy("priority", "pct")
        .agg(F.min("v").alias("qv"))
    )

    def at(pct: int, name: str) -> DataFrame:
        return q.filter(F.col("pct") == pct).select(
            "priority", F.col("qv").alias(name)
        )

    out = (
        n.join(at(50, "p50_days"), "priority")
        .join(at(95, "p95_days"), "priority")
        .join(at(99, "p99_days"), "priority")
        .select(
            "priority",
            F.col("n").alias("n_lineitems"),
            "p50_days",
            "p95_days",
            "p99_days",
            F.col("max_lag").alias("max_days"),
            F.expr("CAST(n_breach * 1000000 div n AS BIGINT)").alias(
                "over_90d_ppm"
            ),
        )
        .orderBy("priority")
    )
    return out
