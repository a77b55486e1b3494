"""LLM-ops wave 51: business decompositions and compliance economics —

- q393: month-over-month growth decomposition — each month's revenue
  change split EXACTLY into volume, price and interaction effects
  (plus the explicit truncation residual); the growth-accounting
  table that says whether revenue moved because more orders came or
  because orders got bigger.
- q394: discount-quantity elasticity — per part brand, the exact
  OLS slope of line quantity on discount percent (sign-split ppm,
  the q273 rational-slope lanes); the pricing-signal scan, honest
  about its null on a fixture whose discounts are random.
- q395: deletion cascade impact — for an md5-selected 1/256 cohort
  of customers, the rows a right-to-be-forgotten request touches in
  every table, following the real FK cascade (customer -> orders ->
  lineitem, plus the event stream); the compliance cost estimate a
  DPO asks for before approving a retention policy.

Output-hardening doctrine (as waves 6-50): money enters the integer
lanes through the attested DOUBLE -> DECIMAL(18,6) cast (the q01/q04
engine-parity fact) scaled to exact micro-units; the growth
decomposition's only truncations are the two per-order means, and the
residual column carries the (tiny) truncation residue so the identity
d_rev = volume + price + interaction + residual holds EXACTLY;
slopes are sign-split rationals (Spark div vs DuckDB // disagree on
negatives); discount/quantity doubles become integers via
ROUND(x*100)/ROUND(x) (values sit on integers ± 1 ulp, never on .5).

Reference parity: the reference tracks institutional buy/sell value
daily; q393 is the decomposition its monthly review runs, q395 the
deletion-cost audit its data-retention policy needs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..sources.tables import load
from .registry import query

# ---------------------------------------------------------------------------
# q393 — month-over-month growth decomposition
# ---------------------------------------------------------------------------


@query(
    "q393_growth_decomposition",
    oracle="""
    WITH monthly AS (
      SELECT (EXTRACT(YEAR FROM o_orderdate) - 1970) * 12
               + EXTRACT(MONTH FROM o_orderdate) - 1 AS month,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) * 1000000
                  AS BIGINT) AS rev_u
      FROM orders GROUP BY 1
    ),
    seq AS (
      SELECT month, n, rev_u,
             LAG(n) OVER (ORDER BY month) AS n_p,
             LAG(rev_u) OVER (ORDER BY month) AS rev_p
      FROM monthly
    ),
    d AS (
      SELECT month, n, rev_u, n_p, rev_p,
             rev_u // n AS v_t, rev_p // n_p AS v_p
      FROM seq WHERE n_p IS NOT NULL
    )
    SELECT CAST(month AS BIGINT) AS month, n, rev_u,
           CAST(rev_u - rev_p AS BIGINT) AS d_rev_u,
           CAST((n - n_p) * v_p AS BIGINT) AS volume_effect_u,
           CAST(n_p * (v_t - v_p) AS BIGINT) AS price_effect_u,
           CAST((n - n_p) * (v_t - v_p) AS BIGINT) AS interaction_u,
           CAST(rev_u - rev_p - (n - n_p) * v_p - n_p * (v_t - v_p)
                - (n - n_p) * (v_t - v_p) AS BIGINT) AS residual_u
    FROM d ORDER BY month
    """,
    tags=("llm", "business", "growth-accounting", "decomposition"),
)
def q393_growth_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Growth accounting: revenue R = n * avg-order-value, so each
    month's change decomposes as dR = dn*v_prev + n_prev*dv + dn*dv —
    volume, price and interaction effects — computed in EXACT
    micro-currency lanes (DOUBLE -> DECIMAL(18,6) -> *1e6 BIGINT, the
    attested q01 money path). The only truncations are the two
    per-order means (rev div n); the residual column carries exactly
    that truncation residue, so every row satisfies
    d_rev = volume + price + interaction + residual bit-for-bit —
    the identity the test asserts. The review question "did we grow
    because of more orders or bigger orders" gets an exact answer.

    Scale: one scan to month grain; the lag window runs over the
    O(months) frame."""
    orders = load(spark, sf_dir, "orders")
    monthly = orders.groupBy(
        F.expr(
            "CAST((EXTRACT(YEAR FROM o_orderdate) - 1970) * 12"
            " + EXTRACT(MONTH FROM o_orderdate) - 1 AS BIGINT)"
        ).alias("month")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.expr(
            "CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) * 1000000"
            " AS BIGINT)"
        ).alias("rev_u"),
    )
    # global lag over the O(months) frame
    # global-window-ok: month-grain frame (tens of rows)
    wm = W.orderBy("month")
    seq = monthly.select(
        "month",
        "n",
        "rev_u",
        F.lag("n").over(wm).alias("n_p"),
        F.lag("rev_u").over(wm).alias("rev_p"),
    ).filter(F.col("n_p").isNotNull())
    d = seq.select(
        "*",
        F.expr("rev_u div n").alias("v_t"),
        F.expr("rev_p div n_p").alias("v_p"),
    )
    return d.select(
        F.col("month").cast("bigint").alias("month"),
        "n",
        "rev_u",
        F.expr("CAST(rev_u - rev_p AS BIGINT)").alias("d_rev_u"),
        F.expr("CAST((n - n_p) * v_p AS BIGINT)").alias("volume_effect_u"),
        F.expr("CAST(n_p * (v_t - v_p) AS BIGINT)").alias("price_effect_u"),
        F.expr("CAST((n - n_p) * (v_t - v_p) AS BIGINT)").alias(
            "interaction_u"
        ),
        F.expr(
            "CAST(rev_u - rev_p - (n - n_p) * v_p - n_p * (v_t - v_p)"
            " - (n - n_p) * (v_t - v_p) AS BIGINT)"
        ).alias("residual_u"),
    ).orderBy("month")


# ---------------------------------------------------------------------------
# q394 — discount-quantity elasticity per brand
# ---------------------------------------------------------------------------


@query(
    "q394_discount_quantity_elasticity",
    oracle="""
    WITH li AS (
      SELECT p.p_brand AS brand,
             CAST(ROUND(l.l_discount * 100, 0) AS BIGINT) AS x,
             CAST(ROUND(l.l_quantity, 0) AS BIGINT) AS y
      FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    ),
    mom AS (
      SELECT brand,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(x) AS BIGINT) AS sx,
             CAST(SUM(y) AS BIGINT) AS sy,
             CAST(SUM(x * x) AS BIGINT) AS sxx,
             CAST(SUM(x * y) AS BIGINT) AS sxy
      FROM li GROUP BY brand
    )
    SELECT brand, n,
           CAST(sy * 1000000 // n AS BIGINT) AS mean_qty_micro,
           CAST(sx * 1000000 // n AS BIGINT) AS mean_disc_pct_micro,
           CAST(CASE WHEN n * sxy - sx * sy > 0 THEN 1
                     WHEN n * sxy - sx * sy < 0 THEN -1 ELSE 0 END AS INT)
             AS slope_sign,
           CAST(CASE WHEN n * sxx - sx * sx = 0 THEN 0
                ELSE ABS(CAST(n AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * sy)
                     * 1000000
                     // (CAST(n AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx)
                END AS BIGINT) AS slope_abs_ppm
    FROM mom ORDER BY brand
    """,
    tags=("llm", "business", "elasticity", "regression"),
)
def q394_discount_quantity_elasticity(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Pricing-signal scan: per part brand, the exact OLS slope of
    line quantity on discount PERCENT — (n*Sxy - Sx*Sy) /
    (n*Sxx - Sx^2) as a sign-split rational in HUGEINT/DECIMAL(38,0)
    lanes (the q273 slope pattern; sign split because the engines'
    integer divisions disagree on negatives). Discounts/quantities
    enter as exact integers via ROUND(x*100)/ROUND(x) — the doubles
    sit on integers +/- 1 ulp, never on .5. A real store would see
    negative demand slopes; the fixture's discounts are independent
    draws, so slopes hover near zero — and the scan proving that
    null IS the audit.

    Scale: one fact scan joined to the part dimension (broadcast),
    collapsed to brand-grain moment sums — five integers per brand;
    the slope arithmetic runs on ~|brands| rows."""
    li = load(spark, sf_dir, "lineitem").select("l_partkey", "l_discount", "l_quantity")
    p = load(spark, sf_dir, "part").select("p_partkey", "p_brand")
    joined = li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"]).select(
        F.col("p_brand").alias("brand"),
        F.expr("CAST(ROUND(l_discount * 100, 0) AS BIGINT)").alias("x"),
        F.expr("CAST(ROUND(l_quantity, 0) AS BIGINT)").alias("y"),
    )
    mom = joined.groupBy("brand").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.expr("x * x")).cast("bigint").alias("sxx"),
        F.sum(F.expr("x * y")).cast("bigint").alias("sxy"),
    )
    return mom.select(
        "brand",
        "n",
        F.expr("CAST(sy * 1000000 div n AS BIGINT)").alias("mean_qty_micro"),
        F.expr("CAST(sx * 1000000 div n AS BIGINT)").alias(
            "mean_disc_pct_micro"
        ),
        F.expr(
            "CAST(CASE WHEN n * sxy - sx * sy > 0 THEN 1"
            " WHEN n * sxy - sx * sy < 0 THEN -1 ELSE 0 END AS INT)"
        ).alias("slope_sign"),
        F.expr(
            "CAST(CASE WHEN n * sxx - sx * sx = 0 THEN 0"
            " ELSE ABS(CAST(n AS DECIMAL(38,0)) * sxy"
            " - CAST(sx AS DECIMAL(38,0)) * sy) * 1000000"
            " div (CAST(n AS DECIMAL(38,0)) * sxx"
            " - CAST(sx AS DECIMAL(38,0)) * sx) END AS BIGINT)"
        ).alias("slope_abs_ppm"),
    ).orderBy("brand")


# ---------------------------------------------------------------------------
# q395 — deletion cascade impact
# ---------------------------------------------------------------------------


@query(
    "q395_deletion_cascade_impact",
    oracle="""
    WITH victims AS (
      SELECT c_custkey FROM customer
      WHERE SUBSTR(MD5(CAST(c_custkey AS VARCHAR) || ':gdpr'), 1, 2) = '00'
    ),
    vorders AS (
      SELECT o_orderkey FROM orders
      WHERE o_custkey IN (SELECT c_custkey FROM victims)
    ),
    impact AS (
      SELECT 'customer' AS tbl, 0 AS cascade_depth,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM customer) AS n_rows,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM victims) AS n_deleted
      UNION ALL
      SELECT 'orders', 1,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM orders),
             (SELECT CAST(COUNT(*) AS BIGINT) FROM vorders)
      UNION ALL
      SELECT 'events', 1,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM events),
             (SELECT CAST(COUNT(*) AS BIGINT) FROM events
              WHERE user_id IN (SELECT c_custkey FROM victims))
      UNION ALL
      SELECT 'lineitem', 2,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM lineitem),
             (SELECT CAST(COUNT(*) AS BIGINT) FROM lineitem
              WHERE l_orderkey IN (SELECT o_orderkey FROM vorders))
    )
    SELECT tbl, CAST(cascade_depth AS INT) AS cascade_depth,
           n_rows, n_deleted,
           CAST(n_deleted * 1000000 // n_rows AS BIGINT) AS deleted_ppm
    FROM impact ORDER BY tbl
    """,
    tags=("llm", "compliance", "deletion", "cascade"),
)
def q395_deletion_cascade_impact(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Right-to-be-forgotten cost estimate: an md5-selected 1/256
    cohort of customers (SUBSTR(md5(key || ':gdpr'), 1, 2) = '00' —
    deterministic, reproducible, uncorrelated with behavior) is
    traced through the real FK cascade — customer (depth 0), their
    orders and their event stream (depth 1), the orders' line items
    (depth 2) — reporting rows touched and the deleted share in ppm
    per table. The depth-2 row is the one that surprises retention
    reviews: deleting 0.4%% of customers rewrites every lineitem
    file their orders landed in, which is why erasure batches
    (and why z-order by custkey, q312, changes the bill).

    Scale: the victim set is customer-dimension-sized * 1/256 —
    BROADCAST it; every impact count is then a broadcast semi-join
    collapsed to a 1-row aggregate, and the order-key set for depth
    2 is victims' orders only (still broadcastable at real scale)."""
    customer = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders")
    events = load(spark, sf_dir, "events")
    lineitem = load(spark, sf_dir, "lineitem")
    victims = customer.filter(
        F.substring(
            F.md5(F.concat(F.col("c_custkey").cast("string"), F.lit(":gdpr"))),
            1,
            2,
        )
        == "00"
    ).select("c_custkey").persist()
    vorders = orders.join(
        F.broadcast(victims),
        orders["o_custkey"] == victims["c_custkey"],
        "left_semi",
    ).select("o_orderkey").persist()

    def impact(tbl: str, depth: int, full: DataFrame, hit: DataFrame) -> DataFrame:
        return (
            full.agg(F.count(F.lit(1)).cast("bigint").alias("n_rows"))
            .crossJoin(
                hit.agg(F.count(F.lit(1)).cast("bigint").alias("n_deleted"))
            )
            .select(
                F.lit(tbl).alias("tbl"),
                F.lit(depth).cast("int").alias("cascade_depth"),
                "n_rows",
                "n_deleted",
            )
        )

    rows = [
        impact("customer", 0, customer, victims),
        impact(
            "orders",
            1,
            orders,
            orders.join(
                F.broadcast(victims),
                orders["o_custkey"] == victims["c_custkey"],
                "left_semi",
            ),
        ),
        impact(
            "events",
            1,
            events,
            events.join(
                F.broadcast(victims),
                events["user_id"] == victims["c_custkey"],
                "left_semi",
            ),
        ),
        impact(
            "lineitem",
            2,
            lineitem,
            lineitem.join(
                F.broadcast(vorders),
                lineitem["l_orderkey"] == vorders["o_orderkey"],
                "left_semi",
            ),
        ),
    ]
    stacked = rows[0]
    for r in rows[1:]:
        stacked = stacked.unionByName(r)
    out = stacked.select(
        "tbl",
        "cascade_depth",
        "n_rows",
        "n_deleted",
        F.expr("CAST(n_deleted * 1000000 div n_rows AS BIGINT)").alias(
            "deleted_ppm"
        ),
    ).orderBy("tbl")
    return out
