"""LLM-ops wave 29: the last two members of the exact-inference ring —

- q325: a binned Mann-Whitney / AUC comparison of the md5 cohorts'
  value distributions (the RANK test beside q324's ECDF test: where
  KS finds the largest local gap, U measures global stochastic
  dominance P(treat > control));
- q326: Benjamini-Hochberg FDR control over per-outcome permutation
  p-values — the multiple-testing discipline every platform needs
  the day it tests five metrics at once (q300 produces ONE honest
  p-value; this is what keeps five of them honest TOGETHER).

Output-hardening doctrine (as waves 6-28): the U statistic is carried
DOUBLED (2·U = Σ 2·c1·cum0< + c1·c0, the midrank tie form with no
halves), AUC is one truncating division of integers; p-values are the
q300 add-one permutation form with cross-multiplied extremeness; the
BH step-up compares p·m against rank·alpha_ppm — integers on both
sides of every inequality, no division at all in the decision.

Reference parity: README.md:21's "collect for ML" plan grows into a
metrics platform; rank tests and FDR control are the two guards that
platform acquires before its fifth dashboard ships.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..operators.sketches import fixed_bin
from ..sources.tables import load
from .llm_ops19 import _NPERM, _spark_gate, _sql_gate
from .registry import query

# ---------------------------------------------------------------------------
# q325 — binned Mann-Whitney U / AUC between md5 cohorts
# ---------------------------------------------------------------------------

_MW_BINS = 256
_MW_LO = 0.0
_MW_HI = 1000.0


@query(
    "q325_mann_whitney_binned",
    oracle=f"""
    WITH v AS (
      SELECT {_sql_gate("user_id", ":exp")} AS grp,
             LEAST({_MW_BINS - 1}, GREATEST(0,
               CAST(FLOOR((value - {_MW_LO!r})
                          / {(_MW_HI - _MW_LO) / _MW_BINS!r}) AS INT)))
               AS bin
      FROM events WHERE value IS NOT NULL
    ),
    per AS (
      SELECT bin,
             SUM(CASE WHEN grp = 1 THEN 1 ELSE 0 END) AS c1,
             SUM(CASE WHEN grp = 0 THEN 1 ELSE 0 END) AS c0
      FROM v GROUP BY bin
    ),
    cum AS (
      SELECT bin, c1, c0,
             COALESCE(SUM(c0) OVER (ORDER BY bin
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS cum0_lt,
             SUM(c1) OVER () AS n1,
             SUM(c0) OVER () AS n0
      FROM per
    )
    SELECT CAST(MIN(n1) AS BIGINT) AS n_treat,
           CAST(MIN(n0) AS BIGINT) AS n_control,
           CAST(SUM(2 * c1 * cum0_lt + c1 * c0) AS BIGINT) AS u_times2,
           CAST(SUM(2 * c1 * cum0_lt + c1 * c0) * 1000000
                // (2 * CAST(MIN(n1) AS HUGEINT) * MIN(n0)) AS BIGINT)
             AS auc_ppm
    FROM cum
    """,
    tags=("audit", "mannwhitney", "auc", "abtest", "distribution"),
)
def q325_mann_whitney_binned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binned Mann-Whitney U between the md5 cohorts' event values,
    reported as the stochastic-dominance AUC P(treat > control) +
    half-ties in ppm: U is accumulated DOUBLED over the 256 fixed
    bins (2U = Σ_b 2·c1_b·|control below b| + c1_b·c0_b — the
    midrank tie convention with no fractional arithmetic), and
    AUC = 2U / (2·n1·n0) is the single truncating division in the
    query. Where q324's KS finds the largest LOCAL distribution gap,
    AUC is the GLOBAL rank answer — "if you draw one value from each
    arm, how often does treatment win?" — robust to any monotone
    transform of value, which no mean-based compare is. Under the
    null md5 split AUC sits at 500000 ppm; the staged test asserts
    the envelope.

    Scale: identical shape to q324 — one conditional-count aggregate
    into 256 rows, then 256-row windows. The binning trades exact
    ranks for mergeability; with 256 bins over a bounded domain the
    AUC error is below a ppm-grid step at these sizes."""
    ev = load(spark, sf_dir, "events")
    v = ev.filter(F.col("value").isNotNull()).select(
        _spark_gate("user_id", ":exp").alias("grp"),
        fixed_bin(F.col("value"), _MW_LO, _MW_HI, _MW_BINS).alias("bin"),
    )
    per = v.groupBy("bin").agg(
        F.sum(F.when(F.col("grp") == 1, 1).otherwise(0)).alias("c1"),
        F.sum(F.when(F.col("grp") == 0, 1).otherwise(0)).alias("c0"),
    )
    # global-window-ok: bin-grain: bounded histogram bins
    wlt = W.orderBy("bin").rowsBetween(W.unboundedPreceding, -1)
    # global-window-ok: bin-grain: bounded histogram bins
    wall = W.partitionBy()
    cum = per.select(
        "c1",
        "c0",
        F.coalesce(F.sum("c0").over(wlt), F.lit(0)).alias("cum0_lt"),
        F.sum("c1").over(wall).alias("n1"),
        F.sum("c0").over(wall).alias("n0"),
    )
    return cum.agg(
        F.min("n1").cast("bigint").alias("n_treat"),
        F.min("n0").cast("bigint").alias("n_control"),
        F.sum(
            2 * F.col("c1") * F.col("cum0_lt") + F.col("c1") * F.col("c0")
        )
        .cast("bigint")
        .alias("u_times2"),
        F.expr(
            "CAST(SUM(2 * c1 * cum0_lt + c1 * c0) * 1000000"
            " div (2 * CAST(MIN(n1) AS DECIMAL(38,0)) * MIN(n0))"
            " AS BIGINT)"
        ).alias("auc_ppm"),
    )


# ---------------------------------------------------------------------------
# q326 — Benjamini-Hochberg FDR over per-outcome permutation p-values
# ---------------------------------------------------------------------------

_ALPHA_PPM = 50_000  # FDR level 0.05 in ppm


@query(
    "q326_bh_fdr_control",
    oracle=f"""
    WITH u AS (
      SELECT user_id, event_type,
             {_sql_gate("user_id", ":exp2")} AS t
      FROM events GROUP BY user_id, event_type,
             {_sql_gate("user_id", ":exp2")}
    ),
    obs AS (
      SELECT event_type,
             CAST(SUM(t) AS HUGEINT) AS x1,
             CAST(SUM(1 - t) AS HUGEINT) AS x2
      FROM u GROUP BY event_type
    ),
    tot AS (
      SELECT CAST(SUM(CASE WHEN t = 1 THEN 1 ELSE 0 END) AS HUGEINT) AS n1,
             CAST(SUM(CASE WHEN t = 0 THEN 1 ELSE 0 END) AS HUGEINT) AS n2
      FROM (SELECT user_id, {_sql_gate("user_id", ":exp2")} AS t
            FROM events GROUP BY user_id,
                  {_sql_gate("user_id", ":exp2")})
    ),
    perm AS (
      SELECT event_type, b,
             CAST(SUM(g) AS HUGEINT) AS y1,
             CAST(SUM(1 - g) AS HUGEINT) AS y2,
             CAST(MIN(m1) AS HUGEINT) AS m1,
             CAST(MIN(m2) AS HUGEINT) AS m2
      FROM (
        SELECT uu.event_type, p0.b,
               CASE WHEN SUBSTR(MD5(CAST(uu.user_id AS VARCHAR) || ':perm'
                                   || CAST(p0.b AS VARCHAR)), 1, 1) < '8'
                    THEN 1 ELSE 0 END AS g,
               pm.m1, pm.m2
        FROM u uu
        CROSS JOIN (SELECT UNNEST(RANGE(0, {_NPERM})) AS b) p0
        JOIN (
          SELECT b2 AS b,
                 SUM(gg) AS m1, SUM(1 - gg) AS m2
          FROM (
            SELECT p1.b2,
                   CASE WHEN SUBSTR(MD5(CAST(uid AS VARCHAR) || ':perm'
                                      || CAST(p1.b2 AS VARCHAR)), 1, 1)
                        < '8' THEN 1 ELSE 0 END AS gg
            FROM (SELECT DISTINCT user_id AS uid FROM events)
            CROSS JOIN (SELECT UNNEST(RANGE(0, {_NPERM})) AS b2) p1
          ) GROUP BY b2
        ) pm ON pm.b = p0.b
      ) GROUP BY event_type, b
    ),
    pvals AS (
      SELECT o.event_type,
             CAST((1000000 * (SUM(CASE WHEN p.m1 = 0 OR p.m2 = 0 THEN 1
                    WHEN ABS(p.y1 * p.m2 - p.y2 * p.m1) * (t.n1 * t.n2)
                         >= ABS(o.x1 * t.n2 - o.x2 * t.n1) * (p.m1 * p.m2)
                    THEN 1 ELSE 0 END) + 1))
                  // ({_NPERM} + 1) AS BIGINT) AS p_ppm
      FROM obs o
      JOIN perm p ON p.event_type = o.event_type
      CROSS JOIN tot t
      GROUP BY o.event_type, o.x1, o.x2, t.n1, t.n2
    ),
    ranked AS (
      SELECT event_type, p_ppm,
             ROW_NUMBER() OVER (ORDER BY p_ppm, event_type) AS rk,
             COUNT(*) OVER () AS m
      FROM pvals
    ),
    stepup AS (
      SELECT event_type, p_ppm, rk, m,
             MAX(CASE WHEN p_ppm * m <= rk * {_ALPHA_PPM}
                 THEN rk ELSE 0 END) OVER () AS k_star
      FROM ranked
    )
    SELECT event_type,
           CAST(p_ppm AS BIGINT) AS p_value_ppm,
           CAST(rk AS INT) AS p_rank,
           CAST(rk <= k_star AS BOOLEAN) AS rejected
    FROM stepup ORDER BY p_rank, event_type
    """,
    tags=("audit", "fdr", "multiple-testing", "abtest"),
)
def q326_bh_fdr_control(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benjamini-Hochberg FDR control over five simultaneous
    hypotheses — for each event type, "does the md5 treatment change
    the share of users doing it?", tested with the q300 add-one
    permutation machinery (32 deterministic relabelings, exact
    cross-multiplied extremeness), then the BH step-up: find the
    largest rank k with p_(k)·m ≤ k·alpha (pure integer inequality)
    and reject everything ranked ≤ k. This is the discipline that
    separates a metrics platform from a p-hacking machine: testing 5
    outcomes at alpha=.05 uncorrected expects a false positive every
    fourth experiment. Under the null md5 split the staged test
    asserts zero rejections.

    Scale: the per-(user, type) table is the one events shuffle; the
    x32 relabeling is map-side md5 arithmetic on it (the q300
    doctrine) and the per-permutation arm sizes come from a 32-row
    broadcast; the BH step-up runs over m=5 rows."""
    ev = load(spark, sf_dir, "events")
    u = (
        ev.select("user_id", "event_type")
        .distinct()
        .select(
            "user_id", "event_type", _spark_gate("user_id", ":exp2").alias("t")
        )
        .persist()
    )
    users = u.select("user_id").distinct()
    tot = users.select(_spark_gate("user_id", ":exp2").alias("t")).agg(
        F.sum("t").cast("decimal(38,0)").alias("n1"),
        F.sum(1 - F.col("t")).cast("decimal(38,0)").alias("n2"),
    )
    obs = u.groupBy("event_type").agg(
        F.sum("t").cast("decimal(38,0)").alias("x1"),
        F.sum(1 - F.col("t")).cast("decimal(38,0)").alias("x2"),
    )
    b = spark.range(_NPERM).select(F.col("id").cast("int").alias("b"))
    perm_g = F.when(
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
    ).otherwise(0)
    arm_sizes = (
        users.crossJoin(F.broadcast(b))
        .select("b", perm_g.alias("g"))
        .groupBy("b")
        .agg(
            F.sum("g").cast("decimal(38,0)").alias("m1"),
            F.sum(1 - F.col("g")).cast("decimal(38,0)").alias("m2"),
        )
    )
    perm = (
        u.crossJoin(F.broadcast(b))
        .select("event_type", "b", perm_g.alias("g"))
        .groupBy("event_type", "b")
        .agg(
            F.sum("g").cast("decimal(38,0)").alias("y1"),
            F.sum(1 - F.col("g")).cast("decimal(38,0)").alias("y2"),
        )
        .join(F.broadcast(arm_sizes), "b")
    )
    pvals = (
        perm.join(F.broadcast(obs), "event_type")
        .crossJoin(F.broadcast(tot))
        .groupBy("event_type")
        .agg(
            F.expr(
                f"""CAST((1000000 * (SUM(CASE WHEN m1 = 0 OR m2 = 0 THEN 1
                    WHEN ABS(y1 * m2 - y2 * m1) * (n1 * n2)
                         >= ABS(x1 * n2 - x2 * n1) * (m1 * m2)
                    THEN 1 ELSE 0 END) + 1))
                    div ({_NPERM} + 1) AS BIGINT)"""
            ).alias("p_ppm")
        )
    )
    # global-window-ok: event-type grain: a handful of p-value rows
    wr = W.orderBy("p_ppm", "event_type")
    # global-window-ok: event-type grain: a handful of p-value rows
    wall = W.partitionBy()
    ranked = pvals.select(
        "event_type",
        "p_ppm",
        F.row_number().over(wr).alias("rk"),
        F.count(F.lit(1)).over(wall).alias("m"),
    )
    stepup = ranked.withColumn(
        "k_star",
        F.max(
            F.when(
                F.col("p_ppm") * F.col("m") <= F.col("rk") * _ALPHA_PPM,
                F.col("rk"),
            ).otherwise(0)
        ).over(wall),
    )
    out = stepup.select(
        "event_type",
        F.col("p_ppm").cast("bigint").alias("p_value_ppm"),
        F.col("rk").cast("int").alias("p_rank"),
        (F.col("rk") <= F.col("k_star")).alias("rejected"),
    ).orderBy("p_rank", "event_type")

    return out
