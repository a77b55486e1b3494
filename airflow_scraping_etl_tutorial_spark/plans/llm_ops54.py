"""LLM-ops wave 55: optimizer statistics, string-layout pricing, and
customer lifetime value —

- q405: histogram selectivity error — a 32-bucket equi-width
  histogram's range-predicate selectivity estimates (half-bucket
  boundary convention) vs the true selectivity at seven thresholds;
  the error table that says whether the optimizer's stats are good
  enough to trust its join order.
- q406: front-coding benefit — bytes saved by prefix-compressing
  customer names in 16-row key blocks (the dictionary-page trick
  every columnar string encoding uses), with the exact per-pair LCP
  computed as a prefix-equality count.
- q407: LTV curve — censoring-aware cumulative revenue per customer
  by account-age week (each week's mean divides only by customers
  OLD ENOUGH to be observed at that age); the number a growth team
  multiplies CAC against.

Output-hardening doctrine (as waves 6-54): histogram buckets,
thresholds and the half-bucket estimator are pure integer arithmetic
on cents; LCP is SIZE(FILTER(sequence, prefix-equality)) — exact
because prefix matching is monotone in the prefix length; LTV means
are truncating micro divisions summed over a week-grain frame (the
truncation order is the documented semantics).

Reference parity: the reference's table is the input to exactly
these: its query planner needs q405's stats, its string columns
price like q406, and its account dashboard draws q407.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..sources.tables import load
from .registry import query

# ---------------------------------------------------------------------------
# q405 — histogram selectivity error
# ---------------------------------------------------------------------------

_N_BUCKETS = 32


@query(
    "q405_histogram_selectivity_error",
    oracle=f"""
    WITH v AS (
      SELECT CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) AS c FROM orders
    ),
    stats AS (
      SELECT CAST(MIN(c) AS BIGINT) AS lo, CAST(MAX(c) AS BIGINT) AS hi,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM v
    ),
    hist AS (
      SELECT LEAST((v.c - s.lo) * {_N_BUCKETS} // (s.hi - s.lo),
                   {_N_BUCKETS} - 1) AS b,
             CAST(COUNT(*) AS BIGINT) AS cnt
      FROM v CROSS JOIN stats s GROUP BY 1
    ),
    ks(k) AS (VALUES (1), (2), (3), (4), (5), (6), (7)),
    thr AS (
      SELECT k, s.lo + k * (s.hi - s.lo) // 8 AS t,
             LEAST((s.lo + k * (s.hi - s.lo) // 8 - s.lo) * {_N_BUCKETS}
                   // (s.hi - s.lo), {_N_BUCKETS} - 1) AS tb,
             s.n
      FROM ks CROSS JOIN stats s
    ),
    est AS (
      SELECT t.k, t.t, t.n,
             CAST(COALESCE(SUM(CASE WHEN h.b > t.tb THEN h.cnt ELSE 0 END), 0)
                  + COALESCE(SUM(CASE WHEN h.b = t.tb THEN h.cnt ELSE 0 END), 0)
                    // 2 AS BIGINT) AS est_cnt
      FROM thr t LEFT JOIN hist h ON TRUE
      GROUP BY t.k, t.t, t.n
    ),
    act AS (
      SELECT t.k, CAST(COUNT(*) AS BIGINT) AS act_cnt
      FROM thr t JOIN v ON v.c > t.t GROUP BY t.k
    )
    SELECT e.k, e.t AS threshold_c,
           CAST(e.est_cnt * 1000000 // e.n AS BIGINT) AS est_ppm,
           CAST(COALESCE(a.act_cnt, 0) * 1000000 // e.n AS BIGINT) AS act_ppm,
           CAST(ABS(e.est_cnt * 1000000 // e.n
                    - COALESCE(a.act_cnt, 0) * 1000000 // e.n) AS BIGINT)
             AS abs_err_ppm
    FROM est e LEFT JOIN act a ON a.k = e.k
    ORDER BY e.k
    """,
    tags=("llm", "planner", "statistics", "selectivity"),
)
def q405_histogram_selectivity_error(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Optimizer-statistics audit: a {_N_BUCKETS}-bucket equi-width
    histogram over order totals (cents) estimates the selectivity of
    `o_totalprice > T` at the seven range-octile thresholds using the
    HALF-BUCKET boundary convention (full buckets above count whole,
    the threshold's own bucket counts half — the coarsest estimator a
    planner actually ships), compared against the exact selectivity.
    Everything is integer: bucket = (c-lo)*{_N_BUCKETS} // (hi-lo)
    clamped, thresholds lo + k*(hi-lo)//8, shares in truncating ppm.
    A uniform column should show only boundary error (~1/64); a
    skewed one shows why planners upgrade to equi-DEPTH stats — the
    audit quantifies the upgrade's worth before anyone pays for it.

    Scale: one scan to build the histogram (1-row min/max broadcast),
    a 7-row threshold grid against the {_N_BUCKETS}-row histogram,
    and one exact-count pass for ground truth."""
    orders = load(spark, sf_dir, "orders")
    v = orders.select(
        F.expr("CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)").alias("c")
    ).persist()
    stats = v.agg(
        F.min("c").cast("bigint").alias("lo"),
        F.max("c").cast("bigint").alias("hi"),
        F.count(F.lit(1)).cast("bigint").alias("n"),
    )
    hist = (
        v.crossJoin(F.broadcast(stats))
        .select(
            F.expr(
                f"LEAST((c - lo) * {_N_BUCKETS} div (hi - lo),"
                f" {_N_BUCKETS} - 1)"
            ).alias("b")
        )
        .groupBy("b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    )
    ks = spark.createDataFrame([(k,) for k in range(1, 8)], "k int")
    thr = F.broadcast(ks).crossJoin(F.broadcast(stats)).select(
        "k",
        F.expr("lo + k * (hi - lo) div 8").alias("t"),
        F.expr(
            f"LEAST((lo + k * (hi - lo) div 8 - lo) * {_N_BUCKETS}"
            f" div (hi - lo), {_N_BUCKETS} - 1)"
        ).alias("tb"),
        "n",
    )
    est = (
        thr.crossJoin(F.broadcast(hist))
        .groupBy("k", "t", "n")
        .agg(
            F.expr(
                "CAST(COALESCE(SUM(CASE WHEN b > tb THEN cnt ELSE 0 END), 0)"
                " + COALESCE(SUM(CASE WHEN b = tb THEN cnt ELSE 0 END), 0)"
                " div 2 AS BIGINT)"
            ).alias("est_cnt")
        )
    )
    act = (
        thr.select("k", "t")
        .join(v, v["c"] > F.col("t"))
        .groupBy("k")
        .agg(F.count(F.lit(1)).cast("bigint").alias("act_cnt"))
    )
    out = (
        est.join(act, "k", "left")
        .select(
            "k",
            F.col("t").alias("threshold_c"),
            F.expr("CAST(est_cnt * 1000000 div n AS BIGINT)").alias("est_ppm"),
            F.expr(
                "CAST(COALESCE(act_cnt, 0) * 1000000 div n AS BIGINT)"
            ).alias("act_ppm"),
            F.expr(
                "CAST(ABS(est_cnt * 1000000 div n"
                " - COALESCE(act_cnt, 0) * 1000000 div n) AS BIGINT)"
            ).alias("abs_err_ppm"),
        )
        .orderBy("k")
    )
    return out


# ---------------------------------------------------------------------------
# q406 — front-coding benefit
# ---------------------------------------------------------------------------

_FC_BLOCK = 16


@query(
    "q406_front_coding_benefit",
    oracle=f"""
    WITH named AS (
      SELECT c_custkey AS k, c_name AS nm,
             c_custkey // {_FC_BLOCK} AS blk
      FROM customer
    ),
    paired AS (
      SELECT blk, nm,
             LAG(nm) OVER (PARTITION BY blk ORDER BY nm, k) AS prev
      FROM named
    ),
    lcp AS (
      SELECT blk, nm, prev,
             CASE WHEN prev IS NULL THEN 0
                  ELSE LENGTH(LIST_FILTER(
                         RANGE(1, LEAST(LENGTH(nm), LENGTH(prev)) + 1),
                         i -> SUBSTR(nm, 1, CAST(i AS INT))
                              = SUBSTR(prev, 1, CAST(i AS INT))))
                  END AS l
      FROM paired
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_strings,
           CAST(COUNT(DISTINCT blk) AS BIGINT) AS n_blocks,
           CAST(SUM(LENGTH(nm)) AS BIGINT) AS raw_bytes,
           CAST(SUM(LENGTH(nm) - l + 1) AS BIGINT) AS fc_bytes,
           CAST((SUM(LENGTH(nm)) - SUM(LENGTH(nm) - l + 1)) * 1000000
                // SUM(LENGTH(nm)) AS BIGINT) AS savings_ppm,
           CAST(SUM(l) * 1000 // COUNT(*) AS BIGINT) AS mean_lcp_milli
    FROM lcp
    """,
    tags=("llm", "layout", "front-coding", "strings"),
)
def q406_front_coding_benefit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Front-coding (prefix-compression) pricer for the customer-name
    column: names are grouped into {_FC_BLOCK}-row key blocks (the
    zero-padded fixture names sort identically by key and by name, so
    key blocks ARE name-sorted blocks — exactly a dictionary page),
    each non-head string stores only (lcp-length byte + suffix), and
    the single summary row prices raw vs front-coded bytes. The LCP
    is SIZE(FILTER(1..min-len, prefix-equality)) — exact because
    prefix equality is monotone in the length, so the count IS the
    longest match (no loop, no UDF). Completes the encoding-pricer
    family: dictionary (q288), z-order (q312), RLE (q313), FOR
    (wave 37), delta varint (q377) — this one prices SORTED STRINGS.

    Scale: the window partitions by block ({_FC_BLOCK} rows each —
    bounded by construction, like q377's day blocks); the LCP
    expression is whole-stage codegen over ~18-char strings."""
    cust = load(spark, sf_dir, "customer")
    named = cust.select(
        F.col("c_custkey").alias("k"),
        F.col("c_name").alias("nm"),
        F.expr(f"c_custkey div {_FC_BLOCK}").alias("blk"),
    )
    wb = W.partitionBy("blk").orderBy("nm", "k")
    paired = named.select("blk", "nm", F.lag("nm").over(wb).alias("prev"))
    lcp = paired.select(
        "blk",
        "nm",
        F.expr(
            "CASE WHEN prev IS NULL THEN 0"
            " ELSE SIZE(FILTER(SEQUENCE(1, LEAST(LENGTH(nm), LENGTH(prev))),"
            " i -> SUBSTR(nm, 1, i) = SUBSTR(prev, 1, i))) END"
        ).alias("l"),
    )
    return lcp.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_strings"),
        F.countDistinct("blk").cast("bigint").alias("n_blocks"),
        F.sum(F.length("nm")).cast("bigint").alias("raw_bytes"),
        F.sum(F.expr("LENGTH(nm) - l + 1")).cast("bigint").alias("fc_bytes"),
        F.expr(
            "CAST((SUM(LENGTH(nm)) - SUM(LENGTH(nm) - l + 1)) * 1000000"
            " div SUM(LENGTH(nm)) AS BIGINT)"
        ).alias("savings_ppm"),
        F.expr("CAST(SUM(l) * 1000 div COUNT(1) AS BIGINT)").alias(
            "mean_lcp_milli"
        ),
    )


# ---------------------------------------------------------------------------
# q407 — censoring-aware LTV curve
# ---------------------------------------------------------------------------


@query(
    "q407_ltv_curve",
    oracle="""
    WITH o AS (
      SELECT o_custkey AS k,
             DATEDIFF('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
               AS day,
             CAST(CAST(o_totalprice AS DECIMAL(18,6)) * 1000000 AS BIGINT)
               AS rev_u
      FROM orders
    ),
    first_o AS (SELECT k, MIN(day) AS d0 FROM o GROUP BY k),
    horizon AS (SELECT MAX(day) AS dmax FROM o),
    aged AS (
      SELECT o.k, (o.day - f.d0) // 7 AS w, o.rev_u
      FROM o JOIN first_o f ON f.k = o.k
    ),
    eligible AS (
      SELECT w.w,
             CAST(COUNT(*) AS BIGINT) AS n_eligible
      FROM (SELECT DISTINCT w FROM aged) w
      JOIN first_o f ON TRUE
      CROSS JOIN horizon h
      WHERE (h.dmax - f.d0) // 7 >= w.w
      GROUP BY w.w
    ),
    weekly AS (
      SELECT w, CAST(SUM(rev_u) AS BIGINT) AS rev_u,
             CAST(COUNT(*) AS BIGINT) AS n_orders
      FROM aged GROUP BY w
    ),
    inc AS (
      SELECT wk.w, wk.n_orders, wk.rev_u, e.n_eligible,
             CAST(wk.rev_u // e.n_eligible AS BIGINT) AS inc_ltv_u
      FROM weekly wk JOIN eligible e ON e.w = wk.w
    )
    SELECT CAST(w AS BIGINT) AS age_weeks, n_orders, rev_u, n_eligible,
           inc_ltv_u,
           CAST(SUM(inc_ltv_u) OVER (ORDER BY w) AS BIGINT) AS cum_ltv_u
    FROM inc ORDER BY age_weeks
    """,
    tags=("llm", "product-analytics", "ltv", "censoring"),
)
def q407_ltv_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Censoring-aware lifetime-value curve: revenue is binned by
    ACCOUNT AGE (weeks since the customer's first order), and each
    age week's mean revenue divides only by the customers old enough
    to be observable at that age ((dmax - d0) // 7 >= w) — the
    correction without which the LTV tail collapses purely because
    recent cohorts haven't lived that long (q387's retention matrix
    is the count view of the same censoring). Revenue rides the
    exact micro-currency lanes (q01 money path); the cumulative LTV
    sums the truncated weekly means over the O(weeks) frame — the
    documented truncation order.

    Scale: order-grain scan -> customer-grain first-order MIN ->
    age-week grain; the eligibility count is a week-grid vs the
    customer-grain d0 table collapsed by map-side combine."""
    orders = load(spark, sf_dir, "orders")
    epoch = F.lit("1970-01-01").cast("date")
    o = orders.select(
        F.col("o_custkey").alias("k"),
        F.datediff(F.col("o_orderdate").cast("date"), epoch)
        .cast("bigint")
        .alias("day"),
        F.expr(
            "CAST(CAST(o_totalprice AS DECIMAL(18,6)) * 1000000 AS BIGINT)"
        ).alias("rev_u"),
    ).persist()
    first_o = o.groupBy("k").agg(F.min("day").alias("d0")).persist()
    horizon = o.agg(F.max("day").alias("dmax"))
    aged = o.join(first_o, "k").select(
        F.expr("(day - d0) div 7").alias("w"), "rev_u"
    )
    weeks = aged.select("w").distinct()
    eligible = (
        weeks.crossJoin(F.broadcast(horizon))
        .join(first_o, F.expr("(dmax - d0) div 7") >= F.col("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_eligible"))
    )
    weekly = aged.groupBy("w").agg(
        F.sum("rev_u").cast("bigint").alias("rev_u"),
        F.count(F.lit(1)).cast("bigint").alias("n_orders"),
    )
    inc = weekly.join(eligible, "w").select(
        "w",
        "n_orders",
        "rev_u",
        "n_eligible",
        F.expr("CAST(rev_u div n_eligible AS BIGINT)").alias("inc_ltv_u"),
    )
    # global-window-ok: age-week grain, O(weeks) rows
    ww = W.orderBy("w")
    out = inc.select(
        F.col("w").cast("bigint").alias("age_weeks"),
        "n_orders",
        "rev_u",
        "n_eligible",
        "inc_ltv_u",
        F.sum("inc_ltv_u").over(ww).cast("bigint").alias("cum_ltv_u"),
    ).orderBy("age_weeks")
    return out
