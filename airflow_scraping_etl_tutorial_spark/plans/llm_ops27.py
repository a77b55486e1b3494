"""LLM-ops wave 28: three classical statistics the experimentation
ring still lacked, each re-derived in exact integer arithmetic —

- q322: one-way ANOVA across sources on document length — the
  many-group generalization of the two-cohort tests (q296/q300 ask
  "do these TWO differ"; this asks "do ANY of the twenty");
- q323: the cumulative gains curve for activity-ranked targeting —
  the lift table that says whether ranking users by engagement
  actually concentrates the purchasers;
- q324: a binned two-sample Kolmogorov-Smirnov distance between the
  md5 cohorts' value distributions — the DISTRIBUTION-level test
  where q296 compares one rate and q234 flags single outliers.

Output-hardening doctrine (as waves 6-27): sums of squares are exact
integer sums with per-group truncating divisions applied in ONE
defined order (S_g^2 div n_g, summed, then the grand term — both
engines truncate identically, and the df-weighted F ratio divides the
already-integer SS values); the KS statistic is the integer maximum
of |n1*cum2 - n2*cum1| over fixed histogram bins — no float ECDF
anywhere; every `//`/`div` operand is integer-typed (the wave-26
DECIMAL trap).

Reference parity: the reference collects per-day numbers "for ML"
(README.md:21); whether groups differ, whether a ranking targets, and
whether two samples share a distribution are the three tests that ML
loop runs weekly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..sources.tables import load
from .llm_ops19 import _spark_gate, _sql_gate
from .registry import query

# ---------------------------------------------------------------------------
# q322 — one-way ANOVA on document length across sources
# ---------------------------------------------------------------------------


@query(
    "q322_anova_source_lengths",
    oracle="""
    WITH g AS (
      SELECT source, COUNT(*) AS n_g,
             SUM(n_chars) AS s_g,
             SUM(n_chars * n_chars) AS q_g
      FROM documents GROUP BY source
    ),
    agg AS (
      SELECT COUNT(*) AS k,
             SUM(n_g) AS n,
             SUM(s_g) AS s,
             SUM(q_g) AS q,
             SUM(s_g * s_g // n_g) AS fit
      FROM g
    )
    SELECT CAST(k AS INT) AS k_groups,
           CAST(n AS BIGINT) AS n_docs,
           CAST(fit - s * s // n AS BIGINT) AS ss_between,
           CAST(q - fit AS BIGINT) AS ss_within,
           CAST(CASE WHEN q - s * s // n = 0 THEN 0
                ELSE (fit - s * s // n) * 1000000
                     // (q - s * s // n) END AS BIGINT) AS eta2_ppm,
           CAST(CASE WHEN q - fit = 0 OR k <= 1 THEN 0
                ELSE CAST(fit - s * s // n AS HUGEINT) * (n - k) * 1000000
                     // (CAST(q - fit AS HUGEINT) * (k - 1)) END AS BIGINT)
             AS f_micro
    FROM agg
    """,
    tags=("audit", "anova", "variance", "sources"),
)
def q322_anova_source_lengths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANOVA of document length (n_chars) across sources:
    between-group and within-group sums of squares, the explained
    share eta-squared, and the F statistic in micro units — the
    many-group "do ANY sources differ" test (q296/q300 only compare
    two cohorts; a corpus has twenty sources, and running 190
    pairwise tests is how false positives are farmed). Everything is
    the textbook decomposition SS_b = Σ S_g²/n_g − S²/N and
    SS_w = Q − Σ S_g²/n_g, evaluated with integer truncating
    divisions in one defined order — n_chars is already an exact
    integer, so both engines produce identical SS values down to the
    truncation; F scales by the exact df ratio (N−k)/(k−1). An F in
    the hundreds says source is a massive length factor (it is, by
    construction of any multi-crawl corpus) — the honest use is
    tracking its DRIFT between snapshots.

    Scale: one map-side-combinable (source) aggregate over documents
    then a k-row reduce. Nothing else."""
    docs = load(spark, sf_dir, "documents")
    g = docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_g"),
        F.sum("n_chars").alias("s_g"),
        F.sum(F.col("n_chars") * F.col("n_chars")).alias("q_g"),
    )
    agg = g.agg(
        F.count(F.lit(1)).alias("k"),
        F.sum("n_g").alias("n"),
        F.sum("s_g").alias("s"),
        F.sum("q_g").alias("q"),
        F.sum(F.expr("s_g * s_g div n_g")).alias("fit"),
    )
    return agg.select(
        F.col("k").cast("int").alias("k_groups"),
        F.col("n").cast("bigint").alias("n_docs"),
        F.expr("CAST(fit - s * s div n AS BIGINT)").alias("ss_between"),
        F.expr("CAST(q - fit AS BIGINT)").alias("ss_within"),
        F.expr(
            "CAST(CASE WHEN q - s * s div n = 0 THEN 0"
            " ELSE (fit - s * s div n) * 1000000"
            " div (q - s * s div n) END AS BIGINT)"
        ).alias("eta2_ppm"),
        F.expr(
            "CAST(CASE WHEN q - fit = 0 OR k <= 1 THEN 0"
            " ELSE CAST(fit - s * s div n AS DECIMAL(38,0)) * (n - k)"
            " * 1000000"
            " div (CAST(q - fit AS DECIMAL(38,0)) * (k - 1)) END"
            " AS BIGINT)"
        ).alias("f_micro"),
    )


# ---------------------------------------------------------------------------
# q323 — cumulative gains curve for activity-ranked targeting
# ---------------------------------------------------------------------------


@query(
    "q323_gains_curve",
    oracle="""
    WITH u AS (
      SELECT user_id, COUNT(*) AS activity,
             MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
               AS purchaser
      FROM events GROUP BY user_id
    ),
    ranked AS (
      SELECT activity, purchaser,
             ROW_NUMBER() OVER (ORDER BY activity DESC, user_id) AS rk,
             COUNT(*) OVER () AS n,
             SUM(purchaser) OVER () AS total_p
      FROM u
    ),
    dec AS (
      SELECT (rk - 1) * 10 // n AS decile, purchaser, n, total_p
      FROM ranked
    ),
    per AS (
      SELECT decile, COUNT(*) AS n_users, SUM(purchaser) AS n_purch,
             MIN(total_p) AS total_p
      FROM dec GROUP BY decile
    )
    SELECT CAST(decile AS INT) AS decile,
           CAST(n_users AS BIGINT) AS n_users,
           CAST(n_purch AS BIGINT) AS n_purchasers,
           CAST(CASE WHEN total_p = 0 THEN 0
                ELSE SUM(n_purch) OVER (ORDER BY decile
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                     * 1000000 // total_p END AS BIGINT)
             AS cum_capture_ppm
    FROM per ORDER BY decile
    """,
    tags=("events", "targeting", "gains", "lift"),
)
def q323_gains_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The cumulative gains table: users ranked by raw activity
    (event count, ties on user_id), cut into true deciles by rank
    arithmetic, with the share of ALL purchasers captured by each
    cumulative prefix (ppm). Reading the first rows answers the
    budget question behind every targeting campaign — "if we can
    only contact 20% of users, ranked by engagement, what fraction
    of eventual purchasers do we reach?"; a curve hugging the
    diagonal means the ranking is worthless. All counts exact; the
    capture rate is the one truncating division.

    Scale: one user aggregate over events; the global ROW_NUMBER
    runs over USERS (not events) — at 10^9 users the exact-decile
    rank becomes repartitionByRange on activity + per-partition
    offsets (same result, no single-partition window); the decile
    and capture math is a 10-row window."""
    ev = load(spark, sf_dir, "events")
    u = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("activity"),
        F.max(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).alias("purchaser"),
    )
    # global-window-ok: user-grain rank; 100 TB form = repartitionByRange + per-partition offsets (SCALE.md)
    wr = W.orderBy(F.desc("activity"), "user_id")
    # global-window-ok: user-grain global count; shares the rank's repartitionByRange scale path (SCALE.md)
    wall = W.partitionBy()
    ranked = u.select(
        "purchaser",
        F.row_number().over(wr).alias("rk"),
        F.count(F.lit(1)).over(wall).alias("n"),
        F.sum("purchaser").over(wall).alias("total_p"),
    )
    per = (
        ranked.select(
            F.expr("(rk - 1) * 10 div n").alias("decile"),
            "purchaser",
            "total_p",
        )
        .groupBy("decile")
        .agg(
            F.count(F.lit(1)).alias("n_users"),
            F.sum("purchaser").alias("n_purch"),
            F.min("total_p").alias("total_p"),
        )
    )
    # global-window-ok: decile grain: 10 rows
    wcum = W.orderBy("decile").rowsBetween(W.unboundedPreceding, W.currentRow)
    cum = per.withColumn("cum_p", F.sum("n_purch").over(wcum))
    return cum.select(
        F.col("decile").cast("int"),
        F.col("n_users").cast("bigint"),
        F.col("n_purch").cast("bigint").alias("n_purchasers"),
        F.expr(
            "CAST(CASE WHEN total_p = 0 THEN 0"
            " ELSE cum_p * 1000000 div total_p END AS BIGINT)"
        ).alias("cum_capture_ppm"),
    ).orderBy("decile")


# ---------------------------------------------------------------------------
# q324 — binned two-sample Kolmogorov-Smirnov distance
# ---------------------------------------------------------------------------

_KS_BINS = 256
_KS_LO = 0.0
_KS_HI = 1000.0


@query(
    "q324_ks_two_sample",
    oracle=f"""
    WITH v AS (
      SELECT {_sql_gate("user_id", ":exp")} AS grp,
             LEAST({_KS_BINS - 1}, GREATEST(0,
               CAST(FLOOR((value - {_KS_LO!r})
                          / {(_KS_HI - _KS_LO) / _KS_BINS!r}) AS INT)))
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
      SELECT bin,
             SUM(c1) OVER (ORDER BY bin
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS k1,
             SUM(c0) OVER (ORDER BY bin
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS k0,
             SUM(c1) OVER () AS n1,
             SUM(c0) OVER () AS n0
      FROM per
    ),
    gaps AS (
      SELECT bin, ABS(k1 * n0 - k0 * n1) AS gap, n1, n0 FROM cum
    )
    SELECT CAST(MIN(n1) AS BIGINT) AS n_treat,
           CAST(MIN(n0) AS BIGINT) AS n_control,
           CAST(MAX(gap) AS BIGINT) AS d_scaled,
           CAST(MIN(CASE WHEN gap = mg THEN bin END) AS INT) AS argmax_bin,
           CAST(MAX(gap) * 1000000
                // (CAST(MIN(n1) AS HUGEINT) * MIN(n0)) AS BIGINT)
             AS ks_micro
    FROM (SELECT *, MAX(gap) OVER () AS mg FROM gaps)
    """,
    tags=("audit", "ks", "abtest", "distribution"),
)
def q324_ks_two_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binned two-sample Kolmogorov-Smirnov distance between the md5
    cohorts' event-value distributions: the maximum ECDF gap over
    256 fixed histogram bins, kept exact as the integer
    max |k1·n0 − k0·n1| (the cross-multiplied form — no float ECDF),
    with the bin where the maximum occurs and the classical D in
    micro units. q296 compares the cohorts' conversion RATE and q302
    their trend; this compares the whole SHAPE of the value
    distribution — a treatment that shifts spend from mid to high
    values without moving the mean is invisible to both and shows
    here. Binning uses the q267/q278 fixed-edge IEEE floor (clamped
    edge bins), so the statistic is the KS of the binned
    distributions — deterministic, mergeable, and at 10^9 events
    computable with one aggregate + a 256-row window, where exact KS
    would need a global sort of every value.

    Scale: one conditional-count aggregate over events (map-side
    combinable into 256 rows), then 256-row windows. Under the null
    md5 split, ks_micro should sit near zero — the staged test
    asserts the null envelope."""
    ev = load(spark, sf_dir, "events")
    from ..operators.sketches import fixed_bin

    v = ev.filter(F.col("value").isNotNull()).select(
        _spark_gate("user_id", ":exp").alias("grp"),
        fixed_bin(F.col("value"), _KS_LO, _KS_HI, _KS_BINS).alias("bin"),
    )
    per = v.groupBy("bin").agg(
        F.sum(F.when(F.col("grp") == 1, 1).otherwise(0)).alias("c1"),
        F.sum(F.when(F.col("grp") == 0, 1).otherwise(0)).alias("c0"),
    )
    # global-window-ok: bin-grain: bounded histogram bins
    wcum = W.orderBy("bin").rowsBetween(W.unboundedPreceding, W.currentRow)
    # global-window-ok: bin-grain: bounded histogram bins
    wall = W.partitionBy()
    cum = per.select(
        "bin",
        F.sum("c1").over(wcum).alias("k1"),
        F.sum("c0").over(wcum).alias("k0"),
        F.sum("c1").over(wall).alias("n1"),
        F.sum("c0").over(wall).alias("n0"),
    )
    gaps = cum.select(
        "bin",
        F.abs(F.col("k1") * F.col("n0") - F.col("k0") * F.col("n1")).alias(
            "gap"
        ),
        "n1",
        "n0",
    ).withColumn("mg", F.max("gap").over(wall))
    return gaps.agg(
        F.min("n1").cast("bigint").alias("n_treat"),
        F.min("n0").cast("bigint").alias("n_control"),
        F.max("gap").cast("bigint").alias("d_scaled"),
        F.min(F.when(F.col("gap") == F.col("mg"), F.col("bin")))
        .cast("int")
        .alias("argmax_bin"),
        F.expr(
            "CAST(MAX(gap) * 1000000"
            " div (CAST(MIN(n1) AS DECIMAL(38,0)) * MIN(n0)) AS BIGINT)"
        ).alias("ks_micro"),
    )
