"""LLM-ops wave 17: estimator stability for quantiles, offline
changepoint location, and CUSUM drift detection — the monitoring ring
that closes round 7's sketch-and-uncertainty arc (q267/q278 built the
histogram, q279/q286 the bootstrap; this wave composes them and adds
the two classic control-chart primitives the catalog still lacked).

Output-hardening doctrine (as waves 6-16): BIGINT-cast integer
aggregates, q253-doctrine truncating division on made-nonnegative
operands, the wave-15 integer-threshold Poisson weights, and integer
closed forms for every score (squared sums, prefix deviations) so no
float exists to diverge — int64 bounds documented per query with the
DECIMAL(38,0) escape hatch.

Reference parity: the reference's feed is one daily number per task
run (dags/Final_app.py:79-149); the operational questions about such
a series are exactly these three — how stable is its typical value
(q290), did its level SHIFT and when (q291), and is it drifting away
from its mean cumulatively (q292).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..sources.tables import load
from .llm_ops14 import _pois_case
from .registry import query

_B = 32
_BINS = 256


# ---------------------------------------------------------------------------
# q290 — quantile stability under Poisson resampling
# ---------------------------------------------------------------------------


@query(
    "q290_quantile_stability_bootstrap",
    oracle=f"""
    WITH s AS (
      SELECT MIN(o_totalprice) AS lo, MAX(o_totalprice) AS hi
      FROM orders
    ),
    base AS (
      SELECT o_orderkey,
             LEAST({_BINS - 1},
                   CAST(FLOOR((o_totalprice - lo)
                              / ((hi - lo) / {_BINS}.0)) AS INTEGER)) AS bin
      FROM orders CROSS JOIN s
    ),
    pt AS (
      SELECT b, bin,
             {_pois_case("(CAST('0x' || SUBSTR(MD5(CAST(o_orderkey AS VARCHAR)"
                         " || '_' || CAST(b AS VARCHAR)), 1, 8) AS BIGINT))")}
               AS w
      FROM base CROSS JOIN (SELECT UNNEST(RANGE(0, {_B})) AS b)
    ),
    wb AS (
      SELECT b, bin, SUM(w) AS wc FROM pt GROUP BY b, bin
    ),
    cum AS (
      SELECT b, bin,
             SUM(wc) OVER (PARTITION BY b ORDER BY bin
                           ROWS BETWEEN UNBOUNDED PRECEDING
                           AND CURRENT ROW) AS c,
             SUM(wc) OVER (PARTITION BY b) AS tot
      FROM wb
    ),
    med AS (
      SELECT b, MIN(bin) AS p50_bin
      FROM cum WHERE c * 2 >= tot + 1 GROUP BY b
    ),
    point AS (
      SELECT MIN(bin) AS point_p50_bin FROM (
        SELECT bin,
               SUM(COUNT(*)) OVER (ORDER BY bin
                                   ROWS BETWEEN UNBOUNDED PRECEDING
                                   AND CURRENT ROW) AS c,
               SUM(COUNT(*)) OVER () AS tot
        FROM base GROUP BY bin
      ) WHERE c * 2 >= tot + 1
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_resamples,
           CAST(COUNT(DISTINCT p50_bin) AS BIGINT) AS n_distinct_p50_bins,
           CAST(MIN(p50_bin) AS INT) AS min_p50_bin,
           CAST(MAX(p50_bin) AS INT) AS max_p50_bin,
           CAST((SELECT point_p50_bin FROM point) AS INT) AS point_p50_bin
    FROM med
    """,
    tags=("audit", "bootstrap", "quantile", "stability"),
)
def q290_quantile_stability_bootstrap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Is the median stable? The p50 BIN of order value (256-bin
    histogram, q267's estimator) recomputed under 32 Poisson
    resamples (q279's weights): how many distinct bins the median
    visits, its envelope, and the unweighted point estimate. One
    distinct bin across 32 resamples means the reported median is
    solid to histogram resolution; a wide envelope means the
    distribution is flat around the middle and any single-number
    median over-claims. Composes three proven machines — integer
    Poisson weights, fixed-bin histogram, cumulative-rank bin
    location — with no new numerics: the median rank test is the
    integer cross-multiplication c·2 ≥ tot+1.

    Scale: the ×32 fan-out is map-side arithmetic into a
    (32×256)-group aggregate; cumulative windows run per resample
    over ≤256 rows (q267 bounded-window doctrine); nothing
    downstream of the one fact scan exceeds 32·256 rows."""
    o = load(spark, sf_dir, "orders")
    s = o.agg(
        F.min("o_totalprice").alias("lo"), F.max("o_totalprice").alias("hi")
    )
    width = (F.col("hi") - F.col("lo")) / F.lit(float(_BINS))
    base = o.crossJoin(F.broadcast(s)).select(
        "o_orderkey",
        F.least(
            F.lit(_BINS - 1),
            F.floor((F.col("o_totalprice") - F.col("lo")) / width).cast("int"),
        ).alias("bin"),
    )
    pt = base.select(
        "bin",
        F.explode(F.sequence(F.lit(0), F.lit(_B - 1))).alias("b"),
        "o_orderkey",
    ).select(
        "b",
        "bin",
        F.expr(
            _pois_case(
                "CAST(CONV(SUBSTRING(MD5(CONCAT(CAST(o_orderkey AS STRING),"
                " '_', CAST(b AS STRING))), 1, 8), 16, 10) AS BIGINT)"
            )
        ).alias("w"),
    )
    wb = pt.groupBy("b", "bin").agg(F.sum("w").alias("wc"))
    wcum = W.partitionBy("b").orderBy("bin")
    cum = wb.select(
        "b",
        "bin",
        F.sum("wc")
        .over(wcum.rowsBetween(W.unboundedPreceding, W.currentRow))
        .alias("c"),
        F.sum("wc").over(W.partitionBy("b")).alias("tot"),
    )
    med = (
        cum.filter(F.col("c") * 2 >= F.col("tot") + 1)
        .groupBy("b")
        .agg(F.min("bin").alias("p50_bin"))
    )
    h = base.groupBy("bin").agg(F.count(F.lit(1)).alias("cnt"))
    # global-window-ok: bin-grain: bounded histogram bins
    wp = W.orderBy("bin")
    point = (
        h.select(
            "bin",
            F.sum("cnt")
            .over(wp.rowsBetween(W.unboundedPreceding, W.currentRow))
            .alias("c"),
            F.sum("cnt").over(
                wp.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
            ).alias("tot"),
        )
        .filter(F.col("c") * 2 >= F.col("tot") + 1)
        .agg(F.min("bin").alias("point_p50_bin"))
    )
    return (
        med.agg(
            F.count(F.lit(1)).cast("bigint").alias("n_resamples"),
            F.countDistinct("p50_bin").cast("bigint").alias("n_distinct_p50_bins"),
            F.min("p50_bin").cast("int").alias("min_p50_bin"),
            F.max("p50_bin").cast("int").alias("max_p50_bin"),
        )
        .crossJoin(F.broadcast(point))
        .select(
            "n_resamples",
            "n_distinct_p50_bins",
            "min_p50_bin",
            "max_p50_bin",
            F.col("point_p50_bin").cast("int").alias("point_p50_bin"),
        )
    )


# ---------------------------------------------------------------------------
# q291 — step changepoint per feed (best single level shift)
# ---------------------------------------------------------------------------


@query(
    "q291_step_changepoint",
    oracle="""
    WITH d AS (
      SELECT event_type, CAST(ts AS DATE) AS day, COUNT(*) AS y
      FROM events GROUP BY event_type, CAST(ts AS DATE)
    ),
    r AS (
      SELECT event_type, day, y,
             ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY day) AS k,
             SUM(y) OVER (PARTITION BY event_type ORDER BY day
                          ROWS BETWEEN UNBOUNDED PRECEDING
                          AND CURRENT ROW) AS sk,
             COUNT(*) OVER (PARTITION BY event_type) AS n,
             SUM(y) OVER (PARTITION BY event_type) AS sn
      FROM d
    ),
    scored AS (
      SELECT event_type, day, k, n, sk, sn,
             ((sk * n - k * sn) * (sk * n - k * sn)) // (k * (n - k)) AS q
      FROM r WHERE k < n
    ),
    best AS (
      SELECT event_type, day, k, n, sk, sn, q,
             ROW_NUMBER() OVER (PARTITION BY event_type
                                ORDER BY q DESC, k) AS pick
      FROM scored
    )
    SELECT event_type,
           CAST(n AS BIGINT) AS n_days,
           day AS split_day,
           CAST(k AS BIGINT) AS split_k,
           CAST(q AS BIGINT) AS shift_score,
           CAST((1000000 * sk) // k AS BIGINT) AS mean_before_ppm,
           CAST((1000000 * (sn - sk)) // (n - k) AS BIGINT) AS mean_after_ppm
    FROM best WHERE pick = 1 ORDER BY event_type
    """,
    tags=("streaming", "events", "changepoint", "monitoring"),
)
def q291_step_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Offline changepoint location per feed: the single split of the
    daily-count series that maximizes the between-segment sum of
    squares — with prefix sums S_k, the score collapses to the
    integer closed form (S_k·n − k·S_n)² / (k·(n−k)), so the argmax
    needs no candidate means, no floats, and ONE window pass (q253
    fits a LINE through the whole series; q240 flags single-day
    bursts; this locates the LEVEL SHIFT and reports the before/after
    means in event-ppm — the "did the upstream crawler change on the
    14th?" answer). Ties break on the earliest split, making the
    location deterministic on both engines. int64 bound: (S_n·n)² —
    safe while S_n·n < 3·10⁹ (comfortable for daily counts over
    years); past that the score moves to DECIMAL(38,0) unchanged.

    Scale: events collapse to O(feeds × days) rows before any
    window; scoring and argmax are feed-partitioned windows over
    that daily table."""
    ev = load(spark, sf_dir, "events")
    d = (
        ev.select("event_type", F.to_date("ts").alias("day"))
        .groupBy("event_type", "day")
        .agg(F.count(F.lit(1)).alias("y"))
    )
    wo = W.partitionBy("event_type").orderBy("day")
    wa = W.partitionBy("event_type")
    r = d.select(
        "event_type",
        "day",
        F.row_number().over(wo).alias("k"),
        F.sum("y")
        .over(wo.rowsBetween(W.unboundedPreceding, W.currentRow))
        .alias("sk"),
        F.count(F.lit(1)).over(wa).alias("n"),
        F.sum("y").over(wa).alias("sn"),
    )
    scored = r.filter(F.col("k") < F.col("n")).withColumn(
        "q",
        F.expr("((sk * n - k * sn) * (sk * n - k * sn)) div (k * (n - k))"),
    )
    best = scored.withColumn(
        "pick",
        F.row_number().over(
            W.partitionBy("event_type").orderBy(F.desc("q"), "k")
        ),
    ).filter(F.col("pick") == 1)
    return best.select(
        "event_type",
        F.col("n").cast("bigint").alias("n_days"),
        F.col("day").alias("split_day"),
        F.col("k").cast("bigint").alias("split_k"),
        F.col("q").cast("bigint").alias("shift_score"),
        F.expr("CAST((1000000 * sk) div k AS BIGINT)").alias("mean_before_ppm"),
        F.expr(
            "CAST((1000000 * (sn - sk)) div (n - k) AS BIGINT)"
        ).alias("mean_after_ppm"),
    ).orderBy("event_type")


# ---------------------------------------------------------------------------
# q292 — CUSUM drift detection per feed
# ---------------------------------------------------------------------------


@query(
    "q292_cusum_drift",
    oracle="""
    WITH d AS (
      SELECT event_type, CAST(ts AS DATE) AS day, COUNT(*) AS y
      FROM events GROUP BY event_type, CAST(ts AS DATE)
    ),
    r AS (
      SELECT event_type, day, y,
             ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY day) AS k,
             SUM(y) OVER (PARTITION BY event_type ORDER BY day
                          ROWS BETWEEN UNBOUNDED PRECEDING
                          AND CURRENT ROW) AS sk,
             COUNT(*) OVER (PARTITION BY event_type) AS n,
             SUM(y) OVER (PARTITION BY event_type) AS sn
      FROM d
    ),
    dev AS (
      SELECT event_type, day, k, n, sn,
             sk * n - k * sn AS num  -- n * (S_k - k*mean), exact
      FROM r
    ),
    peak AS (
      SELECT event_type, day, k, n, sn, num,
             ROW_NUMBER() OVER (PARTITION BY event_type
                                ORDER BY ABS(num) DESC, k) AS pick
      FROM dev
    )
    SELECT event_type,
           CAST(n AS BIGINT) AS n_days,
           CAST(sn AS BIGINT) AS total_events,
           day AS peak_day,
           CAST(ABS(num) // n AS BIGINT) AS max_abs_drift,
           CAST(CASE WHEN num >= 0 THEN 1 ELSE -1 END AS INT) AS drift_sign
    FROM peak WHERE pick = 1 ORDER BY event_type
    """,
    tags=("streaming", "events", "cusum", "monitoring"),
)
def q292_cusum_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM control chart per feed: the cumulative deviation of
    daily counts from the series mean, its peak magnitude (in
    events) and the day it peaks — the classic "has the process
    drifted?" statistic (a random walk around a stable mean keeps
    the CUSUM near zero; a sustained rate change makes it ramp, and
    the PEAK DAY is the natural changepoint estimate that q291
    scores by sum-of-squares). Exactness trick: S_k − k·mean is
    fractional, but n·(S_k − k·mean) = S_k·n − k·S_n is an exact
    integer, so the peak is located on exact integers and only the
    reported magnitude divides back by n (truncating, nonneg).
    Ties break on the earliest day. int64 bound: S_n·n — same
    envelope as q291.

    Scale: identical shape to q291 — one map-side daily
    pre-aggregation, then feed-partitioned windows over
    O(feeds × days) rows."""
    ev = load(spark, sf_dir, "events")
    d = (
        ev.select("event_type", F.to_date("ts").alias("day"))
        .groupBy("event_type", "day")
        .agg(F.count(F.lit(1)).alias("y"))
    )
    wo = W.partitionBy("event_type").orderBy("day")
    wa = W.partitionBy("event_type")
    r = d.select(
        "event_type",
        "day",
        F.row_number().over(wo).alias("k"),
        F.sum("y")
        .over(wo.rowsBetween(W.unboundedPreceding, W.currentRow))
        .alias("sk"),
        F.count(F.lit(1)).over(wa).alias("n"),
        F.sum("y").over(wa).alias("sn"),
    )
    dev = r.withColumn("num", F.col("sk") * F.col("n") - F.col("k") * F.col("sn"))
    peak = dev.withColumn(
        "pick",
        F.row_number().over(
            W.partitionBy("event_type").orderBy(F.abs(F.col("num")).desc(), "k")
        ),
    ).filter(F.col("pick") == 1)
    return peak.select(
        "event_type",
        F.col("n").cast("bigint").alias("n_days"),
        F.col("sn").cast("bigint").alias("total_events"),
        F.col("day").alias("peak_day"),
        F.expr("CAST(ABS(num) div n AS BIGINT)").alias("max_abs_drift"),
        F.when(F.col("num") >= 0, 1).otherwise(-1).cast("int").alias("drift_sign"),
    ).orderBy("event_type")
