"""LLM-ops wave 30: the two variance tools a mature experimentation
platform adds after the test ring is green —

- q327: CUPED variance reduction — how much post-period metric
  variance the pre-period covariate removes (the single highest-ROI
  trick in online experimentation: same power, weeks sooner);
- q328: jackknife (leave-one-day-out) dispersion of a ratio metric —
  the honest uncertainty of purchases-per-event, which has no
  closed-form variance because both numerator and denominator are
  random.

Output-hardening doctrine (as waves 6-29): every moment is the
integer form n·Σxy − Σx·Σy (no means, no floats); theta and the
reduction are truncating divisions with DECIMAL(38,0)/HUGEINT casts
on BOTH operands (S_xy² reaches ~10^23 — past int64); the jackknife
reports scaled integer deviations (n·R_i − ΣR)² so the only division
per leave-out is the ppm ratio itself.

Reference parity: the reference stores a daily metric row
(dags/Final_app.py:106-128); CUPED is how its owner halves the
runtime of any experiment gated on that metric, and the jackknife is
how they put error bars on its ratios without distributional
assumptions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..sources.tables import load
from .registry import query

# ---------------------------------------------------------------------------
# q327 — CUPED variance reduction from the pre-period covariate
# ---------------------------------------------------------------------------

_SPLIT_DAY = "2024-01-16"  # pre-period: days before; post-period: from here


@query(
    "q327_cuped_variance_reduction",
    oracle=f"""
    WITH u AS (
      SELECT user_id,
             SUM(CASE WHEN CAST(ts AS DATE) < DATE '{_SPLIT_DAY}'
                 THEN 1 ELSE 0 END) AS x,
             SUM(CASE WHEN CAST(ts AS DATE) >= DATE '{_SPLIT_DAY}'
                 THEN 1 ELSE 0 END) AS y
      FROM events GROUP BY user_id
    ),
    s AS (
      SELECT CAST(COUNT(*) AS HUGEINT) AS n,
             CAST(SUM(x) AS HUGEINT) AS sx,
             CAST(SUM(y) AS HUGEINT) AS sy,
             CAST(SUM(x * x) AS HUGEINT) AS sxx,
             CAST(SUM(y * y) AS HUGEINT) AS syy,
             CAST(SUM(x * y) AS HUGEINT) AS sxy
      FROM u
    ),
    m AS (
      SELECT n,
             n * sxx - sx * sx AS vx,
             n * syy - sy * sy AS vy,
             n * sxy - sx * sy AS cxy
      FROM s
    )
    SELECT CAST(n AS BIGINT) AS n_users,
           CAST(vx AS BIGINT) AS sxx_scaled,
           CAST(vy AS BIGINT) AS syy_scaled,
           CAST(cxy AS BIGINT) AS sxy_scaled,
           CAST(CASE WHEN vx = 0 THEN 0
                ELSE cxy * 1000000 // vx END AS BIGINT) AS theta_micro,
           CAST(CASE WHEN vx = 0 OR vy = 0 THEN 0
                ELSE (cxy * cxy // vx) * 1000000 // vy END AS BIGINT)
             AS var_reduction_ppm
    FROM m
    """,
    tags=("audit", "abtest", "cuped", "variance"),
)
def q327_cuped_variance_reduction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED, priced exactly: per user, pre-period activity x (events
    before the split day) and post-period metric y; theta = Cov(x,y)
    / Var(x) in micro units and the variance the adjustment
    y − theta·x removes, rho² = Cov²/(Var(x)·Var(y)), in ppm — the
    fraction of metric noise the experiment no longer has to wait
    out (40% reduction ≈ 40% fewer user-days for the same power,
    which is why CUPED is the first thing every experimentation
    platform ships after q310's sizing table). All second moments
    are the integer form n·Σxy − Σx·Σy — no means subtracted, no
    floats — and the two divisions run through HUGEINT /
    DECIMAL(38,0) because Cov² reaches ~10²³.

    Scale: one user-keyed aggregate over events, then one 6-number
    reduce. The covariate is computed from the SAME stream — no
    second source needed."""
    ev = load(spark, sf_dir, "events")
    u = ev.groupBy("user_id").agg(
        F.sum(
            F.when(F.to_date("ts") < F.lit(_SPLIT_DAY).cast("date"), 1)
            .otherwise(0)
        ).alias("x"),
        F.sum(
            F.when(F.to_date("ts") >= F.lit(_SPLIT_DAY).cast("date"), 1)
            .otherwise(0)
        ).alias("y"),
    )
    s = u.agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
        F.sum("x").cast("decimal(38,0)").alias("sx"),
        F.sum("y").cast("decimal(38,0)").alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast("decimal(38,0)").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("decimal(38,0)").alias("syy"),
        F.sum(F.col("x") * F.col("y")).cast("decimal(38,0)").alias("sxy"),
    )
    m = s.select(
        "n",
        (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).alias("vx"),
        (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")).alias("vy"),
        (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).alias("cxy"),
    )
    return m.select(
        F.col("n").cast("bigint").alias("n_users"),
        F.col("vx").cast("bigint").alias("sxx_scaled"),
        F.col("vy").cast("bigint").alias("syy_scaled"),
        F.col("cxy").cast("bigint").alias("sxy_scaled"),
        F.expr(
            "CAST(CASE WHEN vx = 0 THEN 0"
            " ELSE cxy * 1000000 div vx END AS BIGINT)"
        ).alias("theta_micro"),
        F.expr(
            "CAST(CASE WHEN vx = 0 OR vy = 0 THEN 0"
            " ELSE (cxy * cxy div vx) * 1000000 div vy END AS BIGINT)"
        ).alias("var_reduction_ppm"),
    )


# ---------------------------------------------------------------------------
# q328 — jackknife (leave-one-day-out) dispersion of a ratio metric
# ---------------------------------------------------------------------------


@query(
    "q328_jackknife_ratio_dispersion",
    oracle="""
    WITH d AS (
      SELECT CAST(ts AS DATE) AS day,
             SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS p,
             COUNT(*) AS e
      FROM events GROUP BY day
    ),
    tot AS (SELECT SUM(p) AS tp, SUM(e) AS te, COUNT(*) AS nd FROM d),
    loo AS (
      SELECT day,
             (tot.tp - d.p) * 1000000 // (tot.te - d.e) AS r_loo_ppm,
             tot.nd
      FROM d CROSS JOIN tot
    ),
    agg AS (
      SELECT MIN(nd) AS nd,
             SUM(r_loo_ppm) AS s,
             MIN(r_loo_ppm) AS r_min,
             MAX(r_loo_ppm) AS r_max
      FROM loo
    )
    SELECT CAST(tot.tp * 1000000 // tot.te AS BIGINT) AS r_full_ppm,
           CAST(agg.nd AS INT) AS n_days,
           CAST(agg.r_min AS BIGINT) AS loo_min_ppm,
           CAST(agg.r_max AS BIGINT) AS loo_max_ppm,
           CAST((SELECT SUM((agg.nd * l.r_loo_ppm - agg.s)
                            * (agg.nd * l.r_loo_ppm - agg.s))
                 FROM loo l) AS BIGINT) AS jack_ss_scaled
    FROM tot CROSS JOIN agg
    """,
    tags=("audit", "jackknife", "ratio", "variance"),
)
def q328_jackknife_ratio_dispersion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jackknife dispersion of the purchases-per-event ratio: the
    full-data ratio, every leave-one-DAY-out recomputation's range,
    and the scaled squared-deviation sum Σ(n·R_i − ΣR)² — the exact
    integer core of the jackknife variance (a consumer recovers
    Var_jack = (n−1)/n³ · SS with one division, and an SE with one
    sqrt, both on their side). Ratio metrics have no closed-form
    variance — numerator AND denominator move together — and the
    delta method assumes what it should measure; the jackknife just
    recomputes, and because daily (purchases, events) totals are
    ADDITIVE, each leave-out is totals-minus-one-day — 30 integer
    subtractions, not 30 passes over events. Days whose removal
    swings the ratio (r_min/r_max vs r_full) are exactly the days a
    ratio dashboard should annotate.

    Scale: one day-keyed aggregate over events (the only pass);
    everything after operates on |days| rows."""
    ev = load(spark, sf_dir, "events")
    d = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.sum(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).alias("p"),
        F.count(F.lit(1)).alias("e"),
    )
    tot = d.agg(
        F.sum("p").alias("tp"), F.sum("e").alias("te"),
        F.count(F.lit(1)).alias("nd"),
    )
    loo = d.crossJoin(F.broadcast(tot)).select(
        F.expr("(tp - p) * 1000000 div (te - e)").alias("r_loo_ppm"),
        "nd",
        "tp",
        "te",
    )
    # global-window-ok: day-grain jackknife: |days| rows
    wall = W.partitionBy()
    scored = loo.select(
        "r_loo_ppm",
        "nd",
        "tp",
        "te",
        F.sum("r_loo_ppm").over(wall).alias("s"),
    )
    return scored.agg(
        F.expr("CAST(MIN(tp) * 1000000 div MIN(te) AS BIGINT)").alias(
            "r_full_ppm"
        ),
        F.min("nd").cast("int").alias("n_days"),
        F.min("r_loo_ppm").cast("bigint").alias("loo_min_ppm"),
        F.max("r_loo_ppm").cast("bigint").alias("loo_max_ppm"),
        F.sum(
            (F.col("nd") * F.col("r_loo_ppm") - F.col("s"))
            * (F.col("nd") * F.col("r_loo_ppm") - F.col("s"))
        )
        .cast("bigint")
        .alias("jack_ss_scaled"),
    )
