"""LLM-ops wave 25: the cost-estimation layer a query optimizer runs
on — each entry prices an estimate the planner needs against the exact
ground truth:

- q314: the AMS (Alon-Matias-Szegedy) F2 sketch estimating self-join
  size from ±1 md5 sign hashes, each estimator vs the exact Σf²;
- q315: exact intermediate-cardinality costing of the four left-deep
  join orders of the lineitem-orders-customer-nation chain — the
  join-reordering decision, priced with real counts;
- q316: predicate-correlation audit — how far the independence
  assumption (selectivity product) is from the true conjunctive
  selectivity for concrete predicate pairs.

Output-hardening doctrine (as waves 6-24): AMS signs come from md5
parity (the operators/dedup.py hash doctrine) so both engines build
the identical sketch; estimates, counts, and totals are exact
BIGINTs; error and correlation ratios are integer truncating micro
divisions (signed values are safe — both engines' integer division
truncates toward zero, verified in NOTES.md).

Reference parity: the reference's read-back path hands Postgres a
query and trusts its planner (dags/insert_data.py:53-61); at 100 TB
the planner's cardinality model IS the runtime, and these are the
audits that tell you when to stop trusting it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.tables import load
from .registry import query

# ---------------------------------------------------------------------------
# q314 — AMS F2 sketch vs exact self-join size
# ---------------------------------------------------------------------------

_N_EST = 8  # independent ±1 estimators


def _sql_sign(j: int) -> str:
    """±1 sign hash for estimator j: parity of md5's first hex char."""
    return (
        "(CASE WHEN CAST('0x' || SUBSTR(MD5(CAST(user_id AS VARCHAR)"
        f" || ':ams{j}'), 1, 1) AS INT) % 2 = 0 THEN 1 ELSE -1 END)"
    )


# Spark-side sign comes from the shared sketch operator so the batch
# catalog, a stream's state (operators/sketches.ams_sums run on the
# stream), and this oracle SQL cannot drift apart.


@query(
    "q314_ams_selfjoin_estimate",
    oracle=f"""
    WITH f AS (
      SELECT user_id, COUNT(*) AS fk FROM events GROUP BY user_id
    ),
    sums AS (
      SELECT SUM(fk * fk) AS f2,
             {", ".join(f"SUM(fk * {_sql_sign(j)}) AS s{j}" for j in range(_N_EST))}
      FROM f
    )
    SELECT CAST(estimator AS INT) AS estimator,
           CAST(estimate AS BIGINT) AS estimate,
           CAST(f2 AS BIGINT) AS exact_f2,
           CAST((estimate - f2) * 1000000 // f2 AS BIGINT) AS err_ppm
    FROM (
      {" UNION ALL ".join(f"SELECT {j} AS estimator, s{j} * s{j} AS estimate, f2 FROM sums" for j in range(_N_EST))}
    ) ORDER BY estimator
    """,
    tags=("sketch", "ams", "cardinality", "planning"),
)
def q314_ams_selfjoin_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The AMS second-moment sketch, audited: eight independent ±1
    estimators of the events self-join size F2 = Σ_k f_k² over
    user_id (the quantity a join planner needs before it picks a
    strategy for a self-join or a skewed key), each reported against
    the EXACT F2 with its signed error in ppm. Every estimator is
    (Σ_k s_j(k)·f_k)² with s_j a ±1 md5-parity hash — E[est] = F2
    exactly, and the sketch is one counter per estimator, mergeable
    across partitions/streams like the HLL/count-min family
    (q215/q216). Unlike those, AMS answers a JOIN-size question, and
    the per-estimator spread visible in the output is the variance
    story every median-of-means treatment starts from.

    Scale: one shuffle to per-key frequencies, then a single
    map-side-combinable aggregate computes the exact F2 and all
    eight signed sums in one pass; output is 8 rows."""
    from ..operators.sketches import ams_sign

    ev = load(spark, sf_dir, "events")
    f = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("fk"))
    aggs = [F.sum(F.col("fk") * F.col("fk")).alias("f2")] + [
        F.sum(F.col("fk") * ams_sign(F.col("user_id"), j)).alias(f"s{j}")
        for j in range(_N_EST)
    ]
    sums = f.agg(*aggs)
    stack = ", ".join(f"{j}, s{j} * s{j}" for j in range(_N_EST))
    return (
        sums.selectExpr(
            f"stack({_N_EST}, {stack}) AS (estimator, estimate)", "f2"
        )
        .select(
            F.col("estimator").cast("int"),
            F.col("estimate").cast("bigint"),
            F.col("f2").cast("bigint").alias("exact_f2"),
            F.expr(
                "CAST((estimate - f2) * 1000000 div f2 AS BIGINT)"
            ).alias("err_ppm"),
        )
        .orderBy("estimator")
    )


# ---------------------------------------------------------------------------
# q315 — exact join-order costing (left-deep chain plans)
# ---------------------------------------------------------------------------

_ODATE = "1995-01-01"  # orders filter: the knob that differentiates plans


@query(
    "q315_join_order_cost_audit",
    oracle=f"""
    WITH o AS (
      SELECT o_orderkey, o_custkey FROM orders
      WHERE CAST(o_orderdate AS DATE) < DATE '{_ODATE}'
    ),
    lo AS (SELECT COUNT(*) AS n FROM lineitem l
           JOIN o ON l.l_orderkey = o.o_orderkey),
    oc AS (SELECT COUNT(*) AS n FROM o
           JOIN customer c ON o.o_custkey = c.c_custkey),
    cn AS (SELECT COUNT(*) AS n FROM customer c
           JOIN nation n ON c.c_nationkey = n.n_nationkey),
    loc AS (SELECT COUNT(*) AS n FROM lineitem l
            JOIN o ON l.l_orderkey = o.o_orderkey
            JOIN customer c ON o.o_custkey = c.c_custkey),
    ocn AS (SELECT COUNT(*) AS n FROM o
            JOIN customer c ON o.o_custkey = c.c_custkey
            JOIN nation n ON c.c_nationkey = n.n_nationkey)
    SELECT plan,
           CAST(j1 AS BIGINT) AS first_join_rows,
           CAST(j2 AS BIGINT) AS second_join_rows,
           CAST(j1 + j2 AS BIGINT) AS total_intermediate,
           CAST(RANK() OVER (ORDER BY j1 + j2, plan) AS INT) AS cost_rank
    FROM (
      SELECT 'L-O.C.N' AS plan, lo.n AS j1, loc.n AS j2 FROM lo, loc
      UNION ALL
      SELECT 'O-C.N.L', oc.n, ocn.n FROM oc, ocn
      UNION ALL
      SELECT 'O-C.L.N', oc.n, loc.n FROM oc, loc
      UNION ALL
      SELECT 'C-N.O.L', cn.n, ocn.n FROM cn, ocn
    ) ORDER BY plan
    """,
    tags=("planning", "join-order", "cardinality", "optimizer"),
)
def q315_join_order_cost_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-order costing with EXACT numbers: the four left-deep
    orders of the lineitem-orders(filtered)-customer-nation chain,
    each priced by its two intermediate cardinalities and ranked by
    total intermediate rows — the decision a cost-based optimizer
    makes from ESTIMATES, here audited with ground truth (q227
    audits one join's estimate; this prices the ORDERING decision
    built on top of them). The date filter on orders is what makes
    the orders differ: plans that join the filtered side early carry
    small intermediates; starting from customer x nation carries the
    unfiltered dimension product. Only 5 distinct subchain counts
    exist across the 4 plans — each is computed once and reused.

    Scale: the five counts are ordinary broadcast/shuffle joins that
    collapse to 1-row aggregates before any plan arithmetic; the
    plan table is 4 rows and the rank window runs over those 4."""
    o = load(spark, sf_dir, "orders").filter(
        F.to_date("o_orderdate") < F.lit(_ODATE).cast("date")
    ).select("o_orderkey", "o_custkey")
    li = load(spark, sf_dir, "lineitem").select("l_orderkey")
    cu = load(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    na = load(spark, sf_dir, "nation").select("n_nationkey")
    lo_df = li.join(o, li.l_orderkey == o.o_orderkey)
    oc_df = o.join(cu, o.o_custkey == cu.c_custkey)
    cn_df = cu.join(na, cu.c_nationkey == na.n_nationkey)
    loc_df = lo_df.join(cu, o.o_custkey == cu.c_custkey)
    ocn_df = oc_df.join(na, cu.c_nationkey == na.n_nationkey)

    def cnt(df: DataFrame, name: str) -> DataFrame:
        return df.agg(F.count(F.lit(1)).alias(name))

    sums = (
        cnt(lo_df, "lo")
        .crossJoin(F.broadcast(cnt(oc_df, "oc")))
        .crossJoin(F.broadcast(cnt(cn_df, "cn")))
        .crossJoin(F.broadcast(cnt(loc_df, "loc")))
        .crossJoin(F.broadcast(cnt(ocn_df, "ocn")))
    )
    plans = sums.selectExpr(
        "stack(4,"
        " 'L-O.C.N', lo, loc,"
        " 'O-C.N.L', oc, ocn,"
        " 'O-C.L.N', oc, loc,"
        " 'C-N.O.L', cn, ocn) AS (plan, j1, j2)"
    )
    from pyspark.sql import Window as W

    # global-window-ok: 4-row join-plan frame
    wr = W.orderBy(F.col("j1") + F.col("j2"), "plan")
    return plans.select(
        "plan",
        F.col("j1").cast("bigint").alias("first_join_rows"),
        F.col("j2").cast("bigint").alias("second_join_rows"),
        (F.col("j1") + F.col("j2")).cast("bigint").alias("total_intermediate"),
        F.rank().over(wr).cast("int").alias("cost_rank"),
    ).orderBy("plan")


# ---------------------------------------------------------------------------
# q316 — predicate-correlation audit (independence vs truth)
# ---------------------------------------------------------------------------

_PAIRS = (
    # (label, predicate A, predicate B) on events
    ("purchase_x_weekend",
     "event_type = 'purchase'",
     "DAYOFWEEK_SAT_SUN"),
    ("purchase_x_highvalue",
     "event_type = 'purchase'",
     "value > 100"),
    ("click_x_firstweek",
     "event_type = 'click'",
     "CAST(ts AS DATE) < DATE '2024-01-08'"),
)


def _sql_pred(p: str) -> str:
    if p == "DAYOFWEEK_SAT_SUN":
        # ISO day-of-week via integer date arithmetic: 2024-01-01 is a
        # Monday, so (date - anchor) % 7 in (5, 6) means Sat/Sun —
        # avoids engine-specific DOW numbering conventions entirely.
        return "((CAST(ts AS DATE) - DATE '2024-01-01') % 7) IN (5, 6)"
    return p


def _spark_pred(p: str) -> str:
    if p == "DAYOFWEEK_SAT_SUN":
        return "(datediff(to_date(ts), DATE '2024-01-01') % 7) IN (5, 6)"
    if p.startswith("CAST(ts AS DATE)"):
        return p.replace("CAST(ts AS DATE)", "to_date(ts)")
    return p


def _sql_pair_row(label: str, pa: str, pb: str) -> str:
    a, b = _sql_pred(pa), _sql_pred(pb)
    return f"""
      SELECT '{label}' AS pair,
             SUM(CASE WHEN {a} THEN 1 ELSE 0 END) AS na,
             SUM(CASE WHEN {b} THEN 1 ELSE 0 END) AS nb,
             SUM(CASE WHEN ({a}) AND ({b}) THEN 1 ELSE 0 END) AS nab,
             COUNT(*) AS n
      FROM events
    """


@query(
    "q316_predicate_correlation_audit",
    oracle=f"""
    WITH pairs AS (
      {" UNION ALL ".join(_sql_pair_row(*p) for p in _PAIRS)}
    )
    SELECT pair,
           CAST(na * 1000000 // n AS BIGINT) AS sel_a_ppm,
           CAST(nb * 1000000 // n AS BIGINT) AS sel_b_ppm,
           CAST(CAST(na AS HUGEINT) * nb * 1000000
                // (CAST(n AS HUGEINT) * n) AS BIGINT)
             AS independent_ppm,
           CAST(nab * 1000000 // n AS BIGINT) AS actual_ppm,
           CAST(CASE WHEN na * nb = 0 THEN 0
                ELSE CAST(nab AS HUGEINT) * n * 1000000
                     // (CAST(na AS HUGEINT) * nb) END AS BIGINT)
             AS correlation_micro
    FROM pairs ORDER BY pair
    """,
    tags=("planning", "selectivity", "correlation", "optimizer"),
)
def q316_predicate_correlation_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """How wrong is the independence assumption? For three concrete
    predicate pairs on events, the exact marginal selectivities, the
    independence-model estimate sel(A)·sel(B), the true conjunctive
    selectivity, and the correlation factor actual/(independent) in
    micro units (1,000,000 = independent; above = positively
    correlated, the case where every naive optimizer underestimates
    the conjunction and picks the wrong join order — which is
    exactly the failure q315 would then price). The weekend
    predicate uses anchored integer date arithmetic ((date − Monday
    anchor) % 7 in (5, 6)) so no engine-specific day-of-week
    numbering is involved anywhere.

    Scale: ALL pairs come out of ONE map-side-combinable
    conditional-count aggregate (a single pass over events, no
    shuffle but the final 1-row combine), then unstack to 3 rows."""
    ev = load(spark, sf_dir, "events")
    aggs = [F.count(F.lit(1)).alias("n")]
    for i, (_, pa, pb) in enumerate(_PAIRS):
        a, b = _spark_pred(pa), _spark_pred(pb)
        aggs.append(
            F.sum(F.expr(f"CASE WHEN {a} THEN 1 ELSE 0 END")).alias(f"na{i}")
        )
        aggs.append(
            F.sum(F.expr(f"CASE WHEN {b} THEN 1 ELSE 0 END")).alias(f"nb{i}")
        )
        aggs.append(
            F.sum(
                F.expr(f"CASE WHEN ({a}) AND ({b}) THEN 1 ELSE 0 END")
            ).alias(f"nab{i}")
        )
    one = ev.agg(*aggs)
    stack = ", ".join(
        f"'{label}', na{i}, nb{i}, nab{i}"
        for i, (label, _, _) in enumerate(_PAIRS)
    )
    pairs = one.selectExpr(
        f"stack({len(_PAIRS)}, {stack}) AS (pair, na, nb, nab)", "n"
    )
    return pairs.select(
        "pair",
        F.expr("CAST(na * 1000000 div n AS BIGINT)").alias("sel_a_ppm"),
        F.expr("CAST(nb * 1000000 div n AS BIGINT)").alias("sel_b_ppm"),
        F.expr(
            "CAST(CAST(na AS DECIMAL(38,0)) * nb * 1000000"
            " div (CAST(n AS DECIMAL(38,0)) * n) AS BIGINT)"
        ).alias("independent_ppm"),
        F.expr("CAST(nab * 1000000 div n AS BIGINT)").alias("actual_ppm"),
        F.expr(
            "CAST(CASE WHEN na * nb = 0 THEN 0"
            " ELSE CAST(nab AS DECIMAL(38,0)) * n * 1000000"
            " div (CAST(na AS DECIMAL(38,0)) * nb) END AS BIGINT)"
        ).alias("correlation_micro"),
    ).orderBy("pair")
