"""LLM-ops wave 27: two audits of "is the cheap model good enough?"
over the event stream —

- q320: 7-day rolling distinct users, EXACT (the day-expansion trick
  that makes a non-decomposable distinct map-reduce-able) side by
  side with the per-window HLL estimate built from the q215 register
  machinery — the sliding-cardinality dashboard with its own error
  bars;
- q321: is user behavior really first-order Markov? Empirical
  P(next | last TWO events) against the chain's P(next | last one)
  for the heaviest two-event contexts — the model-order audit q217
  and q317 silently assume away.

Output-hardening doctrine (as waves 6-26): counts exact BIGINTs,
rates integer truncating micro-divisions with integer-typed operands
on BOTH sides of `//`/`div` (the wave-26 DECIMAL-operand trap), and
the HLL estimate is the proven q215 formula — shared double literal,
exact-integer harmonic denominator, quantized-LN linear counting.

Reference parity: the reference's table keys on one row per day
(dags/Final_app.py:106-128, create_table.sql); "how many distinct
actors this trailing week" and "does yesterday predict today" are
the first two questions asked of any such daily feed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..operators.sketches import (
    HLL_M,
    SQL_HLL_EST,
    hll_estimate_agg,
    hll_register_max,
)
from ..sources.tables import load
from .registry import query

# ---------------------------------------------------------------------------
# q320 — exact 7-day rolling distinct users vs per-window HLL
# ---------------------------------------------------------------------------

_WIN = 7


@query(
    "q320_rolling_distinct_audit",
    oracle=f"""
    WITH act AS (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
    ),
    mx AS (SELECT MAX(day) AS max_day FROM act),
    expanded AS (
      SELECT DISTINCT user_id, day + CAST(o AS INT) AS window_end
      FROM act CROSS JOIN (SELECT UNNEST(RANGE(0, {_WIN})) AS o)
      CROSS JOIN mx
      WHERE day + CAST(o AS INT) <= mx.max_day
    ),
    exact_ AS (
      SELECT window_end, COUNT(*) AS exact_users
      FROM expanded GROUP BY window_end
    ),
    h AS (
      SELECT window_end,
             CAST('0x' || SUBSTR(MD5(CAST(user_id AS VARCHAR)), 1, 15)
                  AS BIGINT) AS hv
      FROM expanded
    ),
    r AS (
      SELECT window_end, hv % {HLL_M} AS bucket,
             CASE WHEN hv // {HLL_M} = 0 THEN 53
                  ELSE 52 - LENGTH(BIN(hv // {HLL_M})) + 1 END AS rho
      FROM h
    ),
    regs AS (
      SELECT window_end, bucket, MAX(rho) AS reg
      FROM r GROUP BY window_end, bucket
    ),
    est AS (
      SELECT window_end, ROUND({SQL_HLL_EST}, 4) AS hll_estimate
      FROM regs GROUP BY window_end
    )
    SELECT e.window_end,
           CAST(x.exact_users AS BIGINT) AS exact_users,
           e.hll_estimate
    FROM est e JOIN exact_ x USING (window_end)
    ORDER BY e.window_end
    """,
    tags=("events", "rolling", "cardinality", "hll", "sketch"),
)
def q320_rolling_distinct_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-7-day distinct active users per day, exact AND
    HLL-estimated in one result. COUNT(DISTINCT) over a sliding
    window is famously non-decomposable; the exact side uses the
    day-expansion trick — each (user, active-day) pair, already
    deduplicated, is replicated to the <= 7 window-ends it
    contributes to, turning the sliding distinct into a plain
    groupBy over 7x the DISTINCT pairs (not 7x the events). The HLL
    side reuses the q215 register machinery per window-end, so the
    result carries its own approximation audit: at 10^9 users/day
    the expansion's shuffle is the cost, the registers are 256 ints
    per window, and this query is the evidence for when the sketch
    column is close enough to drop the exact one.

    Scale: one distinct on (user, day) over raw events; the x7
    expansion is map-only on the deduplicated pairs; both aggregates
    are map-side combinable. Partial leading windows are reported
    as-is (window_end < min_day + 6 covers fewer days — real
    dashboards show them too)."""
    ev = load(spark, sf_dir, "events")
    act = ev.select("user_id", F.to_date("ts").alias("day")).distinct()
    mx = act.agg(F.max("day").alias("max_day"))
    expanded = (
        act.crossJoin(F.broadcast(mx))
        .select(
            "user_id",
            F.explode(
                F.sequence(F.lit(0), F.lit(_WIN - 1))
            ).alias("o"),
            "day",
            "max_day",
        )
        .select(
            "user_id",
            F.date_add(F.col("day"), F.col("o")).alias("window_end"),
            "max_day",
        )
        .filter(F.col("window_end") <= F.col("max_day"))
        .select("user_id", "window_end")
        .distinct()
        .persist()
    )
    exact_ = expanded.groupBy("window_end").agg(
        F.count(F.lit(1)).alias("exact_users")
    )
    toks = expanded.select(
        "window_end", F.col("user_id").cast("string").alias("tok")
    )
    # expanded is already distinct on (user, window_end), so no second
    # distinct (a shuffle of the query's largest intermediate) precedes
    # the register MAX
    regs = hll_register_max(toks, "window_end")
    est = regs.groupBy("window_end").agg(
        F.round(hll_estimate_agg(), 4).alias("hll_estimate")
    )
    out = (
        est.join(exact_, "window_end")
        .select(
            "window_end",
            F.col("exact_users").cast("bigint"),
            "hll_estimate",
        )
        .orderBy("window_end")
    )
    return out


# ---------------------------------------------------------------------------
# q321 — Markov order audit: P(c | a,b) vs P(c | b)
# ---------------------------------------------------------------------------

_TOP_CTX = 5


@query(
    "q321_markov_order_audit",
    oracle=f"""
    WITH seq AS (
      SELECT event_type AS a,
             LEAD(event_type, 1) OVER w AS b,
             LEAD(event_type, 2) OVER w AS c
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    tri AS (
      SELECT a, b, c, COUNT(*) AS n_abc
      FROM seq WHERE c IS NOT NULL GROUP BY a, b, c
    ),
    ctx AS (SELECT a, b, SUM(n_abc) AS n_ab FROM tri GROUP BY a, b),
    top_ctx AS (
      SELECT a, b, n_ab FROM ctx
      ORDER BY n_ab DESC, a, b LIMIT {_TOP_CTX}
    ),
    bi AS (
      SELECT b, c, SUM(n_abc) AS n_bc FROM tri GROUP BY b, c
    ),
    btot AS (SELECT b, SUM(n_bc) AS n_b FROM bi GROUP BY b)
    SELECT t.a, t.b, t.c,
           CAST(t.n_abc AS BIGINT) AS n_abc,
           CAST(t.n_abc * 1000000 // k.n_ab AS BIGINT) AS emp_ppm,
           CAST(bi.n_bc * 1000000 // btot.n_b AS BIGINT) AS chain_ppm,
           CAST(CASE WHEN bi.n_bc * 1000000 // btot.n_b = 0 THEN 0
                ELSE (t.n_abc * 1000000 // k.n_ab) * 1000000
                     // (bi.n_bc * 1000000 // btot.n_b) END AS BIGINT)
             AS ratio_micro
    FROM tri t
    JOIN top_ctx k ON k.a = t.a AND k.b = t.b
    JOIN bi ON bi.b = t.b AND bi.c = t.c
    JOIN btot ON btot.b = t.b
    ORDER BY t.a, t.b, t.c
    """,
    tags=("events", "markov", "model-order", "audit"),
)
def q321_markov_order_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Is first-order Markov enough? For the 5 heaviest
    two-event contexts (a, b), the empirical second-order
    P(c | a, b) against the first-order chain's P(c | b) — reported
    per continuation c with the ratio in micro units (10^6 = the
    chain got it right; far from 10^6 = the PREVIOUS event carries
    real signal the chain throws away, and q217/q317's conclusions
    inherit that bias). Both conditionals are integer truncating
    micro-divisions of exact counts; the ratio divides the two ppm
    integers (integer-typed on both sides — the wave-26 `//` trap),
    so engines agree bit-for-bit. Both first- and second-order
    counts come from the SAME trigram table (the bigram marginal is
    a reaggregation), so no second pass over events exists.

    Scale: one user-keyed window pass (two LEADs in one window spec)
    builds trigrams; everything downstream is a <= |types|^3-row
    (~125) aggregate with a 5-row broadcast context probe."""
    ev = load(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        F.col("event_type").alias("a"),
        F.lead("event_type", 1).over(w).alias("b"),
        F.lead("event_type", 2).over(w).alias("c"),
    ).filter(F.col("c").isNotNull())
    tri = seq.groupBy("a", "b", "c").agg(F.count(F.lit(1)).alias("n_abc")).persist()
    ctx = tri.groupBy("a", "b").agg(F.sum("n_abc").alias("n_ab"))
    top_ctx = ctx.orderBy(F.desc("n_ab"), "a", "b").limit(_TOP_CTX)
    bi = tri.groupBy("b", "c").agg(F.sum("n_abc").alias("n_bc"))
    btot = bi.groupBy("b").agg(F.sum("n_bc").alias("n_b"))
    out = (
        tri.join(F.broadcast(top_ctx), ["a", "b"])
        .join(bi, ["b", "c"])
        .join(btot, "b")
        .select(
            "a",
            "b",
            "c",
            F.col("n_abc").cast("bigint"),
            F.expr("CAST(n_abc * 1000000 div n_ab AS BIGINT)").alias(
                "emp_ppm"
            ),
            F.expr("CAST(n_bc * 1000000 div n_b AS BIGINT)").alias(
                "chain_ppm"
            ),
            F.expr(
                "CAST(CASE WHEN n_bc * 1000000 div n_b = 0 THEN 0"
                " ELSE (n_abc * 1000000 div n_ab) * 1000000"
                " div (n_bc * 1000000 div n_b) END AS BIGINT)"
            ).alias("ratio_micro"),
        )
        .orderBy("a", "b", "c")
    )
    return out
