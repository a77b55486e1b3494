"""LLM-ops wave 32: split-conformal prediction — the distribution-free
uncertainty wrapper modern ML serving puts around ANY point predictor,
audited end-to-end with exact integers:

- q331: calibrate a conformal interval radius on one md5 half of the
  users (the ceil((n+1)(1-alpha))-th order statistic of the absolute
  prediction errors), then measure the EMPIRICAL coverage that
  radius actually achieves on the other, disjoint half — the
  marginal-coverage guarantee (>= 1-alpha in expectation) made
  checkable.

Output-hardening doctrine (as waves 6-31): the predictor and the
nonconformity scores are integer event COUNTS (first-half daily-mean
vs second-half daily-mean, both micro-scaled by truncating division
before the absolute difference); the conformal quantile is an exact
ORDER STATISTIC (rank ceil((n+1)(1-alpha)), unique tiebreak), and
coverage is a plain conditional count — no float anywhere.

Reference parity: the reference's daily rows feed forecasts
(README.md:21); "tomorrow's value will be within +/- q of the
prediction, 90% of the time, no matter how bad the model is" is the
conformal promise, and this audit is how you verify the machinery
delivers it before trusting it on anything.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..sources.tables import load
from .llm_ops19 import _spark_gate, _sql_gate
from .registry import query

_SPLIT_DAY = "2024-01-16"
_ALPHA_PCT = 10  # target miscoverage: 10% -> 90% nominal coverage


@query(
    "q331_conformal_coverage",
    oracle=f"""
    WITH u AS (
      SELECT user_id,
             {_sql_gate("user_id", ":conf")} AS is_cal,
             SUM(CASE WHEN CAST(ts AS DATE) < DATE '{_SPLIT_DAY}'
                 THEN 1 ELSE 0 END) * 1000000 // 15 AS pred_micro,
             SUM(CASE WHEN CAST(ts AS DATE) >= DATE '{_SPLIT_DAY}'
                 THEN 1 ELSE 0 END) * 1000000 // 15 AS actual_micro
      FROM events GROUP BY user_id
    ),
    scored AS (
      SELECT user_id, is_cal,
             ABS(actual_micro - pred_micro) AS score
      FROM u
    ),
    cal AS (
      SELECT score,
             ROW_NUMBER() OVER (ORDER BY score, user_id) AS rk,
             COUNT(*) OVER () AS n_cal
      FROM scored WHERE is_cal = 1
    ),
    qhat AS (
      SELECT score AS q_micro, n_cal
      FROM cal
      WHERE rk = LEAST(((n_cal + 1) * (100 - {_ALPHA_PCT}) + 99) // 100,
                       n_cal)
    ),
    test_ AS (
      SELECT COUNT(*) AS n_test,
             SUM(CASE WHEN s.score <= q.q_micro THEN 1 ELSE 0 END)
               AS n_covered
      FROM scored s CROSS JOIN qhat q
      WHERE s.is_cal = 0
    )
    SELECT CAST(q.n_cal AS BIGINT) AS n_cal,
           CAST(t.n_test AS BIGINT) AS n_test,
           CAST(q.q_micro AS BIGINT) AS q_micro,
           CAST(t.n_covered AS BIGINT) AS n_covered,
           CAST(t.n_covered * 1000000 // t.n_test AS BIGINT)
             AS coverage_ppm,
           CAST({(100 - _ALPHA_PCT) * 10000} AS BIGINT) AS nominal_ppm
    FROM qhat q CROSS JOIN test_ t
    """,
    tags=("audit", "conformal", "uncertainty", "coverage"),
)
def q331_conformal_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-conformal coverage audit: the predictor is the most
    naive one imaginable (a user's first-half daily event rate
    predicts their second-half daily rate — both micro-scaled
    integer divisions by the 15-day half), the nonconformity score
    is the absolute error, the conformal radius q_hat is the exact
    ceil((n+1)·0.9)-th order statistic of the CALIBRATION users'
    scores (md5 half ':conf'; the rank clamps to n_cal when
    ceil((n+1)·0.9) exceeds it — the standard small-n convention,
    where theory says the honest radius is infinite), and the
    output is the EMPIRICAL
    coverage that radius achieves on the disjoint TEST half. The
    conformal theorem promises marginal coverage >= 90% in
    expectation REGARDLESS of how bad the predictor is — exactly
    the property worth auditing with data, because it is the whole
    reason serving stacks wrap models in conformal layers instead
    of trusting variance formulas. The staged test asserts the
    coverage lands near nominal (exchangeability holds by the md5
    split).

    Scale: one user aggregate over events; the exact order
    statistic over CALIBRATION users is the q267 histogram-guided
    selection — a 256-bin integer-width histogram (one map-side-
    combined aggregate) locates the single bin containing the
    target rank, the calibration frame is semi-joined down to that
    bin (~1/256 slice at uniform scores), and ROW_NUMBER runs
    partitioned BY BIN, so no unpartitioned window ever sees the
    per-user frame (the only global window is the 256-row bin
    cumsum); the 1-row q_hat broadcasts to the test side's
    conditional count."""
    ev = load(spark, sf_dir, "events")
    u = ev.groupBy("user_id").agg(
        F.expr(
            f"SUM(CASE WHEN to_date(ts) < DATE '{_SPLIT_DAY}'"
            " THEN 1 ELSE 0 END) * 1000000 div 15"
        ).alias("pred_micro"),
        F.expr(
            f"SUM(CASE WHEN to_date(ts) >= DATE '{_SPLIT_DAY}'"
            " THEN 1 ELSE 0 END) * 1000000 div 15"
        ).alias("actual_micro"),
    ).select(
        "user_id",
        _spark_gate("user_id", ":conf").alias("is_cal"),
        F.abs(F.col("actual_micro") - F.col("pred_micro")).alias("score"),
    ).localCheckpoint(eager=True)
    # u (and stats below) are localCheckpointed (disk-backed, lineage-
    # TRUNCATED) rather than persist()ed: u feeds the calibration
    # branch 3x and the test branch once, and with full lineage a
    # memory-pressure eviction re-scans events per consumer — the
    # round-11 driver box turned this 2 s query into 18 s exactly that
    # way (x64 events re-reads in the retained-lineage plan). With the
    # checkpoint the degraded mode is a local-disk re-read — linear,
    # not multiplicative (operators/cluster.py doctrine).
    cal = u.filter(F.col("is_cal") == 1).select("score", "user_id")
    # Integer-width 256-bin histogram over calibration scores; bin is a
    # monotone function of score, so within-bin (score, user_id) order is
    # the global order restricted to the bin (q267 doctrine). Width is
    # pure integer arithmetic ((hi-lo) div 256 + 1 >= 1), so no
    # divide-by-zero when all scores coincide and no float anywhere.
    stats = cal.agg(
        F.min("score").alias("lo"),
        F.max("score").alias("hi"),
        F.count(F.lit(1)).alias("n_cal"),
    ).localCheckpoint(eager=True)
    binned = cal.crossJoin(F.broadcast(stats)).select(
        "score",
        "user_id",
        "n_cal",
        F.expr("(score - lo) div ((hi - lo) div 256 + 1)").alias("bin"),
    )
    hist = binned.groupBy("bin").agg(F.count(F.lit(1)).alias("cnt"))
    # The cumsum frame is <= 256 rows (reduced), so the running sum is a
    # broadcast triangular self-join (<= 256x256 pairs) instead of an
    # unpartitioned window — zero WindowExec single-partition warnings
    # anywhere in this plan (a foldable partitionBy(lit) does NOT work:
    # Catalyst constant-folds it back to an empty partition spec).
    a, b = hist.alias("a"), hist.alias("b")
    cum = (
        a.join(F.broadcast(b), F.col("b.bin") <= F.col("a.bin"))
        .groupBy(F.col("a.bin").alias("bin"))
        .agg(
            F.sum("b.cnt").alias("cum"),
            F.sum(
                F.when(F.col("b.bin") < F.col("a.bin"), F.col("b.cnt")).otherwise(
                    0
                )
            ).alias("prev_cum"),
        )
        # r15 (guide §3.3 plan size / §2.4): cum is <= 256 rows but its
        # UNtruncated lineage (hist self-join -> binned -> u + broadcast
        # stats) was re-inlined at every consumer — tbin reads cum
        # twice and qhat reads tbin twice, so the binned subtree
        # appeared ~8x and the physical plan ran to ~900 lines; plan
        # ANALYSIS was a measurable slice of the query. Checkpointing
        # the tiny cumsum executes binned once and collapses every
        # downstream read to a 256-row scan (same eviction-hardening
        # rationale as u/stats above).
        .localCheckpoint(eager=True)
    )
    k_expr = (
        f"LEAST(((n_cal + 1) * (100 - {_ALPHA_PCT}) + 99) div 100, n_cal)"
    )
    target = stats.select(F.expr(k_expr).alias("k"))
    tbin = (
        target.join(F.broadcast(cum), F.col("cum") >= F.col("k"))
        .groupBy("k")
        .agg(F.min("bin").alias("bin"))
        .join(F.broadcast(cum), "bin")
        .select("bin", (F.col("k") - F.col("prev_cum")).alias("k_in_bin"))
    )
    qhat = (
        binned.join(F.broadcast(tbin.select("bin")), "bin", "left_semi")
        .withColumn(
            "rn_in_bin",
            F.row_number().over(W.partitionBy("bin").orderBy("score", "user_id")),
        )
        .join(F.broadcast(tbin), "bin")
        .where(F.col("rn_in_bin") == F.col("k_in_bin"))
        .select(F.col("score").alias("q_micro"), "n_cal")
    )
    test_ = (
        u.filter(F.col("is_cal") == 0)
        .crossJoin(F.broadcast(qhat))
        .agg(
            F.count(F.lit(1)).alias("n_test"),
            F.sum(
                F.when(F.col("score") <= F.col("q_micro"), 1).otherwise(0)
            ).alias("n_covered"),
            F.min("q_micro").alias("q_micro"),
            F.min("n_cal").alias("n_cal"),
        )
    )
    out = test_.select(
        F.col("n_cal").cast("bigint"),
        F.col("n_test").cast("bigint"),
        F.col("q_micro").cast("bigint"),
        F.col("n_covered").cast("bigint"),
        F.expr(
            "CAST(n_covered * 1000000 div n_test AS BIGINT)"
        ).alias("coverage_ppm"),
        F.lit((100 - _ALPHA_PCT) * 10000).cast("bigint").alias("nominal_ppm"),
    )
    return out
