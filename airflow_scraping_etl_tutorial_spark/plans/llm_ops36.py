"""LLM-ops wave 37: a local-DP mechanism actually executed end-to-end,
another physical-layout pricing audit, and time-window funnel
semantics:

- q349: randomized-response frequency estimation — the classic
  local-DP mechanism (report truth with p=1/2, else a uniform type)
  run with DETERMINISTIC md5 coins so both engines reproduce the
  noised stream bit-for-bit, then debiased in closed form and
  audited against the true counts (q336 plans a central-DP release;
  this EXECUTES a local-DP one).
- q350: frame-of-reference bit-packing benefit for the order-key
  column — per-block delta widths via LENGTH(BIN(max-min)), the
  third leg of the encoding-pricing tripod (q305 varint postings,
  q313 RLE run lengths).
- q351: conversion-window funnel — q108's strict-order funnel with
  the industry-standard "within N days" constraint per stage
  transition, swept over three window widths in one pass.

Output-hardening doctrine (as waves 6-36): the RR mechanism's coins
are md5-derived integers (no RNG anywhere); debiasing and error are
truncating integer arithmetic in micro units; bit widths come from
LENGTH(BIN(x)) (identical in both engines, verified incl. BIN(0));
funnel stage times compare as timestamps with day-interval bounds
expressed as identical date arithmetic; all integer-sum oracle
outputs CAST to BIGINT.

Reference parity: the reference publishes per-day aggregate counts
(README.md:21) — q349 is how such counts get published under a local
privacy budget, q350 prices their storage encoding, q351 is the
product question ("did the user convert within a week?") asked of the
same event stream.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..sources.tables import load
from .registry import query

# ---------------------------------------------------------------------------
# q349 — randomized-response frequency estimation, executed + debiased
# ---------------------------------------------------------------------------


@query(
    "q349_randomized_response_debias",
    oracle="""
    WITH types AS (
      SELECT event_type,
             CAST(ROW_NUMBER() OVER (ORDER BY event_type) - 1 AS BIGINT)
               AS idx
      FROM (SELECT DISTINCT event_type FROM events)
    ),
    k AS (SELECT CAST(COUNT(*) AS BIGINT) AS k FROM types),
    coined AS (
      SELECT e.event_type AS true_type,
             CASE WHEN SUBSTR(MD5(CAST(e.event_id AS VARCHAR) || ':rr1'),
                              1, 1) < '8'
                  THEN e.event_type
                  ELSE (SELECT t.event_type FROM types t, k
                        WHERE t.idx = CAST('0x' ||
                              SUBSTR(MD5(CAST(e.event_id AS VARCHAR)
                                         || ':rr2'), 1, 15) AS BIGINT) % k.k)
             END AS reported_type
      FROM events e
    ),
    n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM events),
    true_c AS (
      SELECT true_type AS event_type, CAST(COUNT(*) AS BIGINT) AS n_true
      FROM coined GROUP BY true_type
    ),
    obs_c AS (
      SELECT reported_type AS event_type, CAST(COUNT(*) AS BIGINT) AS n_obs
      FROM coined GROUP BY reported_type
    )
    SELECT t.event_type,
           tc.n_true,
           oc.n_obs,
           CAST(2 * oc.n_obs * 1000000 - n.n * 1000000 // k.k AS BIGINT)
             AS est_micro,
           CAST(ABS(2 * oc.n_obs * 1000000 - n.n * 1000000 // k.k
                    - tc.n_true * 1000000) // n.n AS BIGINT)
             AS abs_err_ppm_of_total
    FROM types t
    JOIN true_c tc ON tc.event_type = t.event_type
    JOIN obs_c oc ON oc.event_type = t.event_type
    CROSS JOIN n CROSS JOIN k
    ORDER BY t.event_type
    """,
    tags=("llm", "privacy", "randomized-response", "local-dp"),
)
def q349_randomized_response_debias(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Randomized response (Warner's mechanism), executed: each event
    reports its true type with probability 1/2 (md5 coin 1) and a
    uniformly-drawn type otherwise (md5 coin 2 mod k) — the local-DP
    scheme where the collector NEVER sees honest data, with
    epsilon = ln((1/2 + 1/(2k)) / (1/(2k))) = ln(k+1). The unbiased
    estimator est_t = 2*obs_t - n/k is then computed in micro units
    and audited against the true counts the simulation still knows —
    the calibration run a platform does before trusting the
    mechanism on data it will never see in the clear (q336 PLANS a
    central-DP release; this EXECUTES a local one). Deterministic
    md5 coins make the whole noised stream bit-identical across
    engines, so the audit is exact, not statistical.

    Scale: two map-side-combined count aggregates over events plus a
    k-row broadcast of the type-index table; the per-event coin is
    pure codegen hashing."""
    ev = load(spark, sf_dir, "events")
    types = (
        ev.select("event_type")
        .distinct()
        .select(
            "event_type",
            (
                F.row_number()
                # global-window-ok: distinct-event-type frame: a handful of rows
                .over(W.orderBy("event_type"))
                - 1
            ).cast("bigint").alias("idx"),
        )
        .persist()
    )
    k = types.agg(F.count(F.lit(1)).cast("bigint").alias("k"))
    h1 = F.substring(
        F.md5(F.concat(F.col("event_id").cast("string"), F.lit(":rr1"))), 1, 1
    )
    h2 = F.conv(
        F.substring(
            F.md5(F.concat(F.col("event_id").cast("string"), F.lit(":rr2"))),
            1,
            15,
        ),
        16,
        10,
    ).cast("long")
    coined = (
        ev.select(
            F.col("event_type").alias("true_type"),
            h1.alias("c1"),
            h2.alias("c2"),
        )
        .crossJoin(F.broadcast(k))
        .join(
            F.broadcast(types.select(F.col("event_type").alias("rand_type"), "idx")),
            F.expr("c2 % k = idx"),
        )
        .select(
            "true_type",
            F.when(F.col("c1") < "8", F.col("true_type"))
            .otherwise(F.col("rand_type"))
            .alias("reported_type"),
        )
        .persist()
    )
    n = coined.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    true_c = coined.groupBy(F.col("true_type").alias("event_type")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_true")
    )
    obs_c = coined.groupBy(F.col("reported_type").alias("event_type")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_obs")
    )
    out = (
        true_c.join(obs_c, "event_type")
        .crossJoin(F.broadcast(n))
        .crossJoin(F.broadcast(k))
        .select(
            "event_type",
            "n_true",
            "n_obs",
            F.expr(
                "CAST(2 * n_obs * 1000000 - n * 1000000 div k AS BIGINT)"
            ).alias("est_micro"),
            F.expr(
                "CAST(ABS(2 * n_obs * 1000000 - n * 1000000 div k"
                " - n_true * 1000000) div n AS BIGINT)"
            ).alias("abs_err_ppm_of_total"),
        )
        .orderBy("event_type")
    )
    return out


# ---------------------------------------------------------------------------
# q350 — frame-of-reference bit-packing benefit
# ---------------------------------------------------------------------------

_FOR_BLOCK = 512  # order keys per frame-of-reference block (by key range)


@query(
    "q350_bitpacking_benefit",
    oracle=f"""
    WITH b AS (
      SELECT o_orderkey // {_FOR_BLOCK} AS blk,
             CAST(COUNT(*) AS BIGINT) AS cnt,
             CAST(MAX(o_orderkey) - MIN(o_orderkey) AS BIGINT) AS delta
      FROM orders GROUP BY o_orderkey // {_FOR_BLOCK}
    ),
    w AS (
      SELECT blk, cnt,
             CAST(CASE WHEN delta = 0 THEN 0
                  ELSE LENGTH(BIN(delta)) END AS BIGINT) AS bits
      FROM b
    )
    SELECT bits,
           CAST(COUNT(*) AS BIGINT) AS n_blocks,
           CAST(SUM(cnt) AS BIGINT) AS n_values,
           CAST(SUM(cnt) * 64 AS BIGINT) AS raw_bits,
           CAST(SUM(cnt * bits) + COUNT(*) * 72 AS BIGINT) AS packed_bits,
           CAST((SUM(cnt) * 64 - (SUM(cnt * bits) + COUNT(*) * 72))
                * 1000000 // (SUM(cnt) * 64) AS BIGINT) AS savings_ppm
    FROM w GROUP BY bits ORDER BY bits
    """,
    tags=("relational", "storage", "encoding", "bitpacking"),
)
def q350_bitpacking_benefit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-of-reference bit-packing benefit for the order-key
    column: keys are grouped into {_FOR_BLOCK}-wide key-range blocks
    (the on-disk layout of a key-sorted file), each block stores a
    64-bit reference + 8-bit width + (max-min)-width packed deltas,
    and the audit prices packed vs raw bits PER WIDTH CLASS — the
    third leg of the encoding tripod (q305 varint postings, q313 RLE
    runs, q288 dictionary) and the arithmetic behind Parquet's
    DELTA_BINARY_PACKED choice. Bit widths come from
    LENGTH(BIN(delta)) — verified identical in both engines
    including the BIN(0) edge (width 0 blocks are single-value
    frames).

    Scale: one map-side-combined aggregate to block grain, then a
    width-class rollup; nothing else moves."""
    o = load(spark, sf_dir, "orders")
    b = o.groupBy(
        F.expr(f"o_orderkey div {_FOR_BLOCK}").alias("blk")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt"),
        (F.max("o_orderkey") - F.min("o_orderkey"))
        .cast("bigint")
        .alias("delta"),
    )
    w = b.select(
        "blk",
        "cnt",
        F.when(F.col("delta") == 0, 0)
        .otherwise(F.length(F.bin(F.col("delta"))))
        .cast("bigint")
        .alias("bits"),
    )
    return (
        w.groupBy("bits")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_blocks"),
            F.sum("cnt").cast("bigint").alias("n_values"),
            F.sum(F.col("cnt") * F.col("bits"))
            .cast("bigint")
            .alias("_packed_data"),
        )
        .select(
            "bits",
            "n_blocks",
            "n_values",
            (F.col("n_values") * 64).cast("bigint").alias("raw_bits"),
            (F.col("_packed_data") + F.col("n_blocks") * 72)
            .cast("bigint")
            .alias("packed_bits"),
            F.expr(
                "CAST((n_values * 64 - (_packed_data + n_blocks * 72))"
                " * 1000000 div (n_values * 64) AS BIGINT)"
            ).alias("savings_ppm"),
        )
        .orderBy("bits")
    )


# ---------------------------------------------------------------------------
# q351 — conversion-window funnel sweep
# ---------------------------------------------------------------------------


@query(
    "q351_windowed_funnel_sweep",
    oracle="""
    WITH stages AS (
      SELECT user_id,
             MIN(CASE WHEN event_type = 'view' THEN ts END) AS t_view,
             MIN(CASE WHEN event_type = 'click' THEN ts END) AS t_click,
             MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS t_buy
      FROM events GROUP BY user_id
    ),
    win(days) AS (VALUES (1), (3), (7)),
    flags AS (
      SELECT w.days,
             CASE WHEN s.t_view IS NOT NULL THEN 1 ELSE 0 END AS f1,
             CASE WHEN s.t_view IS NOT NULL AND s.t_click > s.t_view
                   AND s.t_click <= s.t_view + (w.days * INTERVAL 1 DAY)
                  THEN 1 ELSE 0 END AS f2,
             CASE WHEN s.t_view IS NOT NULL AND s.t_click > s.t_view
                   AND s.t_click <= s.t_view + (w.days * INTERVAL 1 DAY)
                   AND s.t_buy > s.t_click
                   AND s.t_buy <= s.t_click + (w.days * INTERVAL 1 DAY)
                  THEN 1 ELSE 0 END AS f3
      FROM stages s CROSS JOIN win w
    )
    SELECT CAST(days AS INT) AS window_days,
           CAST(SUM(f1) AS BIGINT) AS n_viewed,
           CAST(SUM(f2) AS BIGINT) AS n_clicked_in_window,
           CAST(SUM(f3) AS BIGINT) AS n_converted_in_window,
           CAST(SUM(f3) * 1000000 // SUM(f1) AS BIGINT)
             AS conversion_ppm
    FROM flags GROUP BY days ORDER BY days
    """,
    tags=("relational", "events", "funnel", "window"),
)
def q351_windowed_funnel_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversion-window funnel (view -> click -> purchase), swept
    over 1/3/7-day per-transition windows in one pass: q108 counts a
    user who converts EVER; product analytics counts one who clicks
    within N days of the first view and buys within N days of that
    click — the windowed semantics every funnel dashboard defaults
    to. Implemented on the same conditional-MIN first-touch
    aggregate as q108 (NULL ordering drops missing stages in both
    engines), with the window bound as identical day-interval
    timestamp arithmetic, then a 3-row width grid.

    Scale: ONE map-side-combined aggregate by user collapses the
    event stream to three timestamps per user; the sweep multiplies
    the collapsed frame by 3, not the events."""
    ev = load(spark, sf_dir, "events")
    stages = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).alias(
            "t_view"
        ),
        F.min(F.when(F.col("event_type") == "click", F.col("ts"))).alias(
            "t_click"
        ),
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias(
            "t_buy"
        ),
    )
    win = spark.createDataFrame([(1,), (3,), (7,)], "days int")
    in_click = (
        F.col("t_view").isNotNull()
        & (F.col("t_click") > F.col("t_view"))
        & (
            F.col("t_click")
            <= F.col("t_view") + F.expr("days * INTERVAL 1 DAY")
        )
    )
    in_buy = (
        in_click
        & (F.col("t_buy") > F.col("t_click"))
        & (
            F.col("t_buy")
            <= F.col("t_click") + F.expr("days * INTERVAL 1 DAY")
        )
    )
    flags = stages.crossJoin(F.broadcast(win)).select(
        "days",
        F.when(F.col("t_view").isNotNull(), 1).otherwise(0).alias("f1"),
        F.when(in_click, 1).otherwise(0).alias("f2"),
        F.when(in_buy, 1).otherwise(0).alias("f3"),
    )
    return (
        flags.groupBy("days")
        .agg(
            F.sum("f1").cast("bigint").alias("n_viewed"),
            F.sum("f2").cast("bigint").alias("n_clicked_in_window"),
            F.sum("f3").cast("bigint").alias("n_converted_in_window"),
        )
        .select(
            F.col("days").cast("int").alias("window_days"),
            "n_viewed",
            "n_clicked_in_window",
            "n_converted_in_window",
            F.expr(
                "CAST(n_converted_in_window * 1000000 div n_viewed"
                " AS BIGINT)"
            ).alias("conversion_ppm"),
        )
        .orderBy("window_days")
    )
