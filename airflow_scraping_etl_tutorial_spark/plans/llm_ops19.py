"""LLM-ops wave 20: experimentation methodology — a deterministic
permutation test, direct standardization (the Simpson's-paradox
guard), and difference-in-differences — completing the inference ring
(q296 asymptotic test, q279/q286/q290 bootstrap) with the three
designs an experimentation platform actually runs.

Output-hardening doctrine (as waves 6-19): md5 gates for every
deterministic draw (q105/q246/q296 doctrine), per-stratum ppm terms
truncated IDENTICALLY on both engines before summation (the
quantization doctrine applied to rates instead of logs), and exact
integer cross-multiplication wherever two rationals are compared
(the permutation test's extremeness check runs entirely on
DECIMAL(38,0)/HUGEINT products — no float p-value machinery).

Reference parity: the reference ships one pipeline variant
(dags/Final_app.py:79-149); the moment a second variant exists, these
three queries are the difference between "B looks higher" and a
defensible launch decision.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.tables import load
from .registry import query

_NPERM = 32


def _sql_gate(key: str, salt: str) -> str:
    """DuckDB 50/50 md5 gate (first hex nibble < '8')."""
    return (
        f"CASE WHEN SUBSTR(MD5(CAST({key} AS VARCHAR) || '{salt}'), 1, 1)"
        " < '8' THEN 1 ELSE 0 END"
    )


def _spark_gate(key: str, salt: str):
    return F.when(
        F.substring(
            F.md5(F.concat(F.col(key).cast("string"), F.lit(salt))), 1, 1
        )
        < "8",
        1,
    ).otherwise(0)


# ---------------------------------------------------------------------------
# q300 — deterministic permutation test for conversion lift
# ---------------------------------------------------------------------------


@query(
    "q300_permutation_test_conversion",
    oracle=f"""
    WITH u AS (
      SELECT user_id,
             {_sql_gate("user_id", ":exp2")} AS t,
             MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv
      FROM events GROUP BY user_id
    ),
    obs AS (
      SELECT CAST(SUM(t * conv) AS HUGEINT) AS x1,
             CAST(SUM(t) AS HUGEINT) AS n1,
             CAST(SUM((1 - t) * conv) AS HUGEINT) AS x2,
             CAST(SUM(1 - t) AS HUGEINT) AS n2
      FROM u
    ),
    perm AS (
      SELECT b,
             CAST(SUM(g * conv) AS HUGEINT) AS y1,
             CAST(SUM(g) AS HUGEINT) AS m1,
             CAST(SUM((1 - g) * conv) AS HUGEINT) AS y2,
             CAST(SUM(1 - g) AS HUGEINT) AS m2
      FROM (
        SELECT u.conv, p0.b,
               CASE WHEN SUBSTR(MD5(CAST(u.user_id AS VARCHAR) || ':perm'
                                   || CAST(p0.b AS VARCHAR)), 1, 1) < '8'
                    THEN 1 ELSE 0 END AS g
        FROM u CROSS JOIN (SELECT UNNEST(RANGE(0, {_NPERM})) AS b) p0
      ) j
      GROUP BY b
    ),
    ext AS (
      SELECT CAST(SUM(CASE WHEN m1 = 0 OR m2 = 0 THEN 1
                      WHEN ABS(y1 * m2 - y2 * m1) * (n1 * n2)
                           >= ABS(x1 * n2 - x2 * n1) * (m1 * m2)
                      THEN 1 ELSE 0 END) AS BIGINT) AS n_extreme,
             CAST(COUNT(*) AS BIGINT) AS n_perms
      FROM perm CROSS JOIN obs
    )
    SELECT CAST(obs.n1 + obs.n2 AS BIGINT) AS n_users,
           CAST(obs.x1 AS BIGINT) AS t_conv,
           CAST(obs.n1 AS BIGINT) AS t_users,
           CAST(obs.x2 AS BIGINT) AS c_conv,
           CAST(obs.n2 AS BIGINT) AS c_users,
           ext.n_extreme,
           ext.n_perms,
           CAST((1000000 * (ext.n_extreme + 1))
                // (ext.n_perms + 1) AS BIGINT) AS p_value_ppm
    FROM obs CROSS JOIN ext
    """,
    tags=("audit", "abtest", "permutation", "inference"),
)
def q300_permutation_test_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The permutation test q296 approximates: re-assign the variant
    label 32 times with independent md5 gates and count how often the
    permuted conversion gap is at least as extreme as the observed
    one — p = (extreme+1)/(perms+1), the add-one form that never
    reports zero. EVERY extremeness comparison is the exact integer
    cross-multiplication |y₁m₂ − y₂m₁|·n₁n₂ ≥ |x₁n₂ − x₂n₁|·m₁m₂ in
    HUGEINT/DECIMAL(38,0) — two rate differences compared with no
    division, no float, no tie ambiguity. Under the null md5 split
    the observed gap IS one more permutation, so the p-value should
    be large — the negative control an experimentation platform runs
    before trusting its pipeline on real treatments.

    Scale: the ×32 relabeling is map-side arithmetic (labels are
    pure functions of (user, b)) into a 32-group reduce; the
    per-user table shuffles once. Constant state downstream."""
    ev = load(spark, sf_dir, "events")
    u = (
        ev.groupBy("user_id")
        .agg(
            F.max(
                F.when(F.col("event_type") == "purchase", 1).otherwise(0)
            ).alias("conv")
        )
        .select("user_id", _spark_gate("user_id", ":exp2").alias("t"), "conv")
    )
    obs = u.agg(
        F.sum(F.col("t") * F.col("conv")).cast("decimal(38,0)").alias("x1"),
        F.sum("t").cast("decimal(38,0)").alias("n1"),
        F.sum((1 - F.col("t")) * F.col("conv"))
        .cast("decimal(38,0)")
        .alias("x2"),
        F.sum(1 - F.col("t")).cast("decimal(38,0)").alias("n2"),
    )
    pt = u.select(
        "conv",
        F.explode(F.sequence(F.lit(0), F.lit(_NPERM - 1))).alias("b"),
        "user_id",
    ).select(
        "b",
        "conv",
        F.when(
            F.substring(
                F.md5(
                    F.concat(
                        F.col("user_id").cast("string"),
                        F.lit(":perm"),
                        F.col("b").cast("string"),
                    )
                ),
                1,
                1,
            )
            < "8",
            1,
        )
        .otherwise(0)
        .alias("g"),
    )
    perm = pt.groupBy("b").agg(
        F.sum(F.col("g") * F.col("conv")).cast("decimal(38,0)").alias("y1"),
        F.sum("g").cast("decimal(38,0)").alias("m1"),
        F.sum((1 - F.col("g")) * F.col("conv"))
        .cast("decimal(38,0)")
        .alias("y2"),
        F.sum(1 - F.col("g")).cast("decimal(38,0)").alias("m2"),
    )
    ext = perm.crossJoin(F.broadcast(obs)).agg(
        F.sum(
            F.when((F.col("m1") == 0) | (F.col("m2") == 0), 1)
            .when(
                F.expr(
                    "ABS(y1 * m2 - y2 * m1) * (n1 * n2)"
                    " >= ABS(x1 * n2 - x2 * n1) * (m1 * m2)"
                ),
                1,
            )
            .otherwise(0)
        )
        .cast("bigint")
        .alias("n_extreme"),
        F.count(F.lit(1)).cast("bigint").alias("n_perms"),
    )
    return (
        obs.crossJoin(F.broadcast(ext))
        .select(
            F.expr("CAST(n1 + n2 AS BIGINT)").alias("n_users"),
            F.col("x1").cast("bigint").alias("t_conv"),
            F.col("n1").cast("bigint").alias("t_users"),
            F.col("x2").cast("bigint").alias("c_conv"),
            F.col("n2").cast("bigint").alias("c_users"),
            "n_extreme",
            "n_perms",
            F.expr(
                "CAST((1000000 * (n_extreme + 1)) div (n_perms + 1) AS BIGINT)"
            ).alias("p_value_ppm"),
        )
    )


# ---------------------------------------------------------------------------
# q301 — direct standardization (Simpson's-paradox guard)
# ---------------------------------------------------------------------------


@query(
    "q301_standardized_conversion",
    oracle=f"""
    WITH u AS (
      SELECT user_id,
             {_sql_gate("user_id", ":exp2")} AS t,
             MIN(EXTRACT(HOUR FROM ts)) AS h,
             MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv
      FROM events GROUP BY user_id
    ),
    strat AS (
      SELECT t, h, COUNT(*) AS n_th,
             SUM(conv) AS x_th
      FROM u GROUP BY t, h
    ),
    wts AS (SELECT h, SUM(n_th) AS n_h FROM strat GROUP BY h),
    tot AS (SELECT SUM(n_th) AS big_n FROM strat),
    terms AS (
      SELECT strat.t,
             (1000000 * wts.n_h * strat.x_th)
               // (tot.big_n * strat.n_th) AS term_ppm
      FROM strat JOIN wts USING (h), tot
    ),
    crude AS (
      SELECT t, CAST(SUM(n_th) AS BIGINT) AS n_users,
             CAST((1000000 * SUM(x_th)) // SUM(n_th) AS BIGINT) AS crude_ppm
      FROM strat GROUP BY t
    )
    SELECT CASE WHEN crude.t = 1 THEN 'treatment' ELSE 'control' END
             AS variant,
           crude.n_users,
           crude.crude_ppm,
           CAST(adj.adjusted_ppm AS BIGINT) AS adjusted_ppm
    FROM crude
    JOIN (SELECT t, SUM(term_ppm) AS adjusted_ppm FROM terms GROUP BY t) adj
      USING (t)
    ORDER BY variant
    """,
    tags=("audit", "abtest", "standardization", "simpson"),
)
def q301_standardized_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Direct standardization — the Simpson's-paradox guard: each
    variant's conversion re-weighted to the POOLED first-active-hour
    mix, so a variant that happened to catch more night-owl users is
    not credited for their different base rate. Crude and adjusted
    rates side by side; when they disagree, the crude comparison was
    confounded and q296/q300's verdicts need the stratified read
    (the classic kidney-stone/Berkeley structure, run as a query).
    Each stratum term 10⁶·N_h·x_th/(N·n_th) is truncated IDENTICALLY
    on both engines before summation (≤24 ppm total truncation,
    deterministic) — the rate analogue of the q271 LN-quantization
    doctrine.

    Scale: one user shuffle (hour and outcome are per-user
    aggregates), then a (2×24)-group table that everything else is
    arithmetic over."""
    ev = load(spark, sf_dir, "events")
    u = (
        ev.groupBy("user_id")
        .agg(
            F.min(F.hour("ts")).alias("h"),
            F.max(
                F.when(F.col("event_type") == "purchase", 1).otherwise(0)
            ).alias("conv"),
        )
        .select("user_id", _spark_gate("user_id", ":exp2").alias("t"), "h", "conv")
    )
    strat = u.groupBy("t", "h").agg(
        F.count(F.lit(1)).alias("n_th"), F.sum("conv").alias("x_th")
    )
    wts = strat.groupBy("h").agg(F.sum("n_th").alias("n_h"))
    tot = strat.agg(F.sum("n_th").alias("big_n"))
    terms = (
        strat.join(F.broadcast(wts), "h")
        .crossJoin(F.broadcast(tot))
        .select(
            "t",
            F.expr(
                "(1000000 * n_h * x_th) div (big_n * n_th)"
            ).alias("term_ppm"),
        )
    )
    adj = terms.groupBy("t").agg(F.sum("term_ppm").alias("adjusted_ppm"))
    crude = strat.groupBy("t").agg(
        F.sum("n_th").cast("bigint").alias("n_users"),
        F.expr("CAST((1000000 * SUM(x_th)) div SUM(n_th) AS BIGINT)").alias(
            "crude_ppm"
        ),
    )
    return (
        crude.join(adj, "t")
        .select(
            F.when(F.col("t") == 1, "treatment")
            .otherwise("control")
            .alias("variant"),
            "n_users",
            "crude_ppm",
            F.col("adjusted_ppm").cast("bigint").alias("adjusted_ppm"),
        )
        .orderBy("variant")
    )


# ---------------------------------------------------------------------------
# q302 — difference-in-differences on purchase rates
# ---------------------------------------------------------------------------


@query(
    "q302_difference_in_differences",
    oracle=f"""
    WITH bounds AS (
      SELECT MIN(CAST(ts AS DATE)) AS lo, MAX(CAST(ts AS DATE)) AS hi
      FROM events
    ),
    mid AS (
      SELECT lo + CAST((hi - lo) // 2 AS INTEGER) AS m FROM bounds
    ),
    up AS (
      SELECT user_id,
             {_sql_gate("user_id", ":exp2")} AS t,
             MAX(CASE WHEN event_type = 'purchase'
                       AND CAST(ts AS DATE) < mid.m
                 THEN 1 ELSE 0 END) AS pre_conv,
             MAX(CASE WHEN event_type = 'purchase'
                       AND CAST(ts AS DATE) >= mid.m
                 THEN 1 ELSE 0 END) AS post_conv
      FROM events CROSS JOIN mid GROUP BY user_id
    ),
    cells AS (
      SELECT t,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST((1000000 * SUM(pre_conv)) // COUNT(*) AS BIGINT)
               AS pre_ppm,
             CAST((1000000 * SUM(post_conv)) // COUNT(*) AS BIGINT)
               AS post_ppm
      FROM up GROUP BY t
    )
    SELECT CAST(tr.n + ct.n AS BIGINT) AS n_users,
           tr.pre_ppm AS treat_pre_ppm,
           tr.post_ppm AS treat_post_ppm,
           ct.pre_ppm AS ctrl_pre_ppm,
           ct.post_ppm AS ctrl_post_ppm,
           CAST((tr.post_ppm - tr.pre_ppm) - (ct.post_ppm - ct.pre_ppm)
                AS BIGINT) AS did_ppm
    FROM (SELECT * FROM cells WHERE t = 1) tr
    CROSS JOIN (SELECT * FROM cells WHERE t = 0) ct
    """,
    tags=("audit", "abtest", "did", "causal"),
)
def q302_difference_in_differences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Difference-in-differences: purchase rates per variant in the
    first and second calendar halves of the stream, and the DiD
    estimate (Δtreatment − Δcontrol) in ppm — the design that
    subtracts out both the groups' baseline difference AND the
    common time trend, which neither q296 (one period) nor a naive
    before/after can do. Under the null md5 split the DiD should
    hover near zero — the parallel-trends negative control. The
    calendar midpoint is derived from exact date arithmetic
    (lo + (hi−lo)/2 in whole days, both engines); each cell rate is
    a truncated ppm; the DiD is a difference of those exact
    integers, deterministic to the last ppm.

    Scale: one user shuffle carrying two per-user bits (pre/post
    conversion, computed in the same aggregate), then a 2-cell
    reduce — the entire design costs one pass over events."""
    ev = load(spark, sf_dir, "events")
    bounds = ev.agg(
        F.min(F.to_date("ts")).alias("lo"), F.max(F.to_date("ts")).alias("hi")
    )
    mid = bounds.select(
        F.expr("date_add(lo, CAST(datediff(hi, lo) div 2 AS INT))").alias("m")
    )
    up = (
        ev.crossJoin(F.broadcast(mid))
        .groupBy("user_id")
        .agg(
            F.max(
                F.when(
                    (F.col("event_type") == "purchase")
                    & (F.to_date("ts") < F.col("m")),
                    1,
                ).otherwise(0)
            ).alias("pre_conv"),
            F.max(
                F.when(
                    (F.col("event_type") == "purchase")
                    & (F.to_date("ts") >= F.col("m")),
                    1,
                ).otherwise(0)
            ).alias("post_conv"),
        )
        .select(
            _spark_gate("user_id", ":exp2").alias("t"),
            "pre_conv",
            "post_conv",
        )
    )
    cells = up.groupBy("t").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.expr("CAST((1000000 * SUM(pre_conv)) div COUNT(*) AS BIGINT)").alias(
            "pre_ppm"
        ),
        F.expr(
            "CAST((1000000 * SUM(post_conv)) div COUNT(*) AS BIGINT)"
        ).alias("post_ppm"),
    )
    tr = cells.filter(F.col("t") == 1).select(
        F.col("n").alias("tn"),
        F.col("pre_ppm").alias("treat_pre_ppm"),
        F.col("post_ppm").alias("treat_post_ppm"),
    )
    ct = cells.filter(F.col("t") == 0).select(
        F.col("n").alias("cn"),
        F.col("pre_ppm").alias("ctrl_pre_ppm"),
        F.col("post_ppm").alias("ctrl_post_ppm"),
    )
    return tr.crossJoin(F.broadcast(ct)).select(
        (F.col("tn") + F.col("cn")).cast("bigint").alias("n_users"),
        "treat_pre_ppm",
        "treat_post_ppm",
        "ctrl_pre_ppm",
        "ctrl_post_ppm",
        (
            (F.col("treat_post_ppm") - F.col("treat_pre_ppm"))
            - (F.col("ctrl_post_ppm") - F.col("ctrl_pre_ppm"))
        )
        .cast("bigint")
        .alias("did_ppm"),
    )
