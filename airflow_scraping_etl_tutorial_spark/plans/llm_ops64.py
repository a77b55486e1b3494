"""LLM-ops wave 65: flow identities, sampling-design audits, and
temporal data contracts —

- q435: Little's law flow identity — per order priority, the
  time-averaged work-in-progress computed by an endpoint-delta sweep
  must EXACTLY equal the summed order durations (L*T = sum(W), the
  queueing identity), cross-validating two genuinely different plans
  the way q425 cross-validates pre-aggregation pushdown; the row also
  reports lambda (arrival rate), W (mean time in system) and L in
  exact integer micro/milli units.
- q436: systematic-sampling bias audit — every-k-th sampling by
  o_orderkey % 10 (the keyspace q430 certifies DENSE, which is what
  makes modulo a valid systematic design): per interleave offset, the
  sample mean of order value vs the population mean, with the
  relative bias in ppm. The spread ACROSS offsets is the
  design-effect evidence a sampling plan is judged by.
- q437: temporal integrity audit — the orderdate <= shipdate contract
  checked per order status: violation counts, ppm, and the lead-day
  range. On this fixture the audit CATCHES a real generator anomaly
  (~47% of lineitems ship strictly before their order date) — like
  q401's composite-key finding, the audit is the contract, not the
  assumption.

Output-hardening doctrine (as waves 6-64): epoch-day arithmetic via
DATEDIFF from 1970-01-01 on DATE casts (the q431 lane); money enters
through the attested DOUBLE -> DECIMAL(18,2) lane before exact integer
cents; rates are single truncating integer divisions (micro/milli/ppm)
on nonnegative operands; BIGINT casts everywhere.

Reference parity: the reference loads one day per DAG run
(dags/Final_app.py:79-149); q435 is the backlog/latency identity of
that pipeline's own run ledger, q436 the cheapest valid sample of its
history, q437 the cross-column contract its rows should satisfy.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..sources.tables import load
from .registry import query

_EPOCH = "1970-01-01"


def _day(col: str) -> F.Column:
    return F.datediff(F.col(col).cast("date"), F.lit(_EPOCH).cast("date")).cast(
        "bigint"
    )


# ---------------------------------------------------------------------------
# q435 — Little's law flow identity
# ---------------------------------------------------------------------------


@query(
    "q435_littles_law_flow_identity",
    oracle="""
    WITH iv AS (
      SELECT o.o_orderpriority AS pri,
             DATEDIFF('day', DATE '1970-01-01', CAST(o.o_orderdate AS DATE))
               AS s_day,
             GREATEST(
               1 + MAX(DATEDIFF('day', DATE '1970-01-01',
                                CAST(l.l_shipdate AS DATE))),
               1 + DATEDIFF('day', DATE '1970-01-01',
                            CAST(o.o_orderdate AS DATE))) AS e_day
      FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      GROUP BY o.o_orderkey, o.o_orderpriority, o.o_orderdate
    ),
    deltas AS (
      SELECT pri, s_day AS d, 1 AS dl FROM iv
      UNION ALL
      SELECT pri, e_day AS d, -1 AS dl FROM iv
    ),
    dd AS (SELECT pri, d, SUM(dl) AS dl FROM deltas GROUP BY pri, d),
    seg AS (
      SELECT pri, d,
             SUM(dl) OVER (PARTITION BY pri ORDER BY d) AS wip,
             LEAD(d) OVER (PARTITION BY pri ORDER BY d) AS nxt
      FROM dd
    ),
    sweep AS (
      SELECT pri, CAST(SUM(wip * (nxt - d)) AS BIGINT) AS wip_day_units
      FROM seg WHERE nxt IS NOT NULL GROUP BY pri
    ),
    stats AS (
      SELECT pri,
             CAST(COUNT(*) AS BIGINT) AS n_orders,
             CAST(SUM(e_day - s_day) AS BIGINT) AS sum_duration_days,
             CAST(MAX(e_day) - MIN(s_day) AS BIGINT) AS horizon_days
      FROM iv GROUP BY pri
    )
    SELECT s.pri AS priority, s.n_orders, s.horizon_days,
           w.wip_day_units, s.sum_duration_days,
           CAST(CASE WHEN w.wip_day_units = s.sum_duration_days
                THEN 1 ELSE 0 END AS INT) AS identity_ok,
           CAST(s.n_orders * 1000000 // s.horizon_days AS BIGINT)
             AS lambda_micro,
           CAST(s.sum_duration_days * 1000 // s.n_orders AS BIGINT)
             AS w_milli,
           CAST(w.wip_day_units * 1000 // s.horizon_days AS BIGINT)
             AS l_milli
    FROM stats s JOIN sweep w ON w.pri = s.pri
    ORDER BY priority
    """,
    tags=("ops", "queueing", "littles-law", "plan-equivalence"),
)
def q435_littles_law_flow_identity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Little's law as an exact cross-plan identity: each order is an
    interval [order day, 1 + last ship day) (clamped to >= 1 day);
    the endpoint-delta sweep (q399's shape) integrates WIP over the
    class horizon, the order-grain aggregate sums durations, and the
    two MUST agree integer-for-integer (L*T = sum of time-in-system).
    A disagreement means one of the plans — not the data — is wrong,
    which is what makes the identity a regression tripwire; the row
    also reports lambda = n/T in micro, W = sum/n in milli, and
    L = WIP-area/T in milli, the three numbers every backlog
    dashboard quotes.

    Scale: order-grain interval build (one join + max), endpoint
    deltas collapse to (priority x day) grain before the only
    windows, which are day-grain per priority class (the q413
    doctrine); everything else is class-grain."""
    o = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_orderdate"
    )
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    iv = (
        o.join(li, o["o_orderkey"] == li["l_orderkey"])
        .groupBy("o_orderkey", "o_orderpriority", "o_orderdate")
        .agg(F.max(_day("l_shipdate")).alias("max_ship"))
        .select(
            F.col("o_orderpriority").alias("pri"),
            _day("o_orderdate").alias("s_day"),
            F.greatest(
                F.col("max_ship") + 1, _day("o_orderdate") + 1
            ).alias("e_day"),
        )
        .persist()
    )
    deltas = iv.select("pri", F.col("s_day").alias("d"), F.lit(1).alias("dl")).unionAll(
        iv.select("pri", F.col("e_day").alias("d"), F.lit(-1).alias("dl"))
    )
    dd = deltas.groupBy("pri", "d").agg(F.sum("dl").alias("dl"))
    wd = W.partitionBy("pri").orderBy("d")
    seg = dd.select(
        "pri",
        "d",
        F.sum("dl").over(wd).alias("wip"),
        F.lead("d").over(wd).alias("nxt"),
    )
    sweep = (
        seg.filter(F.col("nxt").isNotNull())
        .groupBy("pri")
        .agg(
            F.sum(F.col("wip") * (F.col("nxt") - F.col("d")))
            .cast("bigint")
            .alias("wip_day_units")
        )
    )
    stats = iv.groupBy("pri").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_orders"),
        F.sum(F.col("e_day") - F.col("s_day"))
        .cast("bigint")
        .alias("sum_duration_days"),
        (F.max("e_day") - F.min("s_day")).cast("bigint").alias("horizon_days"),
    )

    out = (
        stats.join(sweep, "pri")
        .select(
            F.col("pri").alias("priority"),
            "n_orders",
            "horizon_days",
            "wip_day_units",
            "sum_duration_days",
            F.when(F.col("wip_day_units") == F.col("sum_duration_days"), 1)
            .otherwise(0)
            .cast("int")
            .alias("identity_ok"),
            F.expr("CAST(n_orders * 1000000 div horizon_days AS BIGINT)").alias(
                "lambda_micro"
            ),
            F.expr(
                "CAST(sum_duration_days * 1000 div n_orders AS BIGINT)"
            ).alias("w_milli"),
            F.expr(
                "CAST(wip_day_units * 1000 div horizon_days AS BIGINT)"
            ).alias("l_milli"),
        )
        .orderBy("priority")
    )
    return out


# ---------------------------------------------------------------------------
# q436 — systematic-sampling bias audit
# ---------------------------------------------------------------------------

_SYS_K = 10


@query(
    "q436_systematic_sample_bias",
    oracle=f"""
    WITH c AS (
      SELECT o_orderkey % {_SYS_K} AS off,
             CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
               AS cents
      FROM orders
    ),
    per AS (
      SELECT off,
             CAST(COUNT(*) AS BIGINT) AS n_sample,
             CAST(SUM(cents) AS BIGINT) AS sum_cents
      FROM c GROUP BY off
    ),
    pop AS (
      SELECT CAST(SUM(n_sample) AS BIGINT) AS n_pop,
             CAST(SUM(sum_cents) AS BIGINT) AS pop_sum
      FROM per
    ),
    m AS (
      SELECT per.off,
             per.n_sample,
             (per.sum_cents // per.n_sample) * 1000
               + (per.sum_cents % per.n_sample) * 1000 // per.n_sample
               AS samp_mean_milli,
             (pop.pop_sum // pop.n_pop) * 1000
               + (pop.pop_sum % pop.n_pop) * 1000 // pop.n_pop
               AS pop_mean_milli
      FROM per CROSS JOIN pop
    )
    SELECT off AS sample_offset,
           n_sample,
           CAST(samp_mean_milli AS BIGINT) AS samp_mean_milli,
           CAST(pop_mean_milli AS BIGINT) AS pop_mean_milli,
           CAST(ABS(samp_mean_milli - pop_mean_milli) * 1000000
                // pop_mean_milli AS BIGINT) AS bias_ppm
    FROM m ORDER BY sample_offset
    """,
    tags=("sampling", "systematic", "design-audit", "bias"),
)
def q436_systematic_sample_bias(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Systematic (every-k-th) sampling audit: o_orderkey % 10 splits
    the order stream into 10 interleaved samples — a valid design
    exactly because q430 certifies the keyspace dense and gap-free.
    Each offset row compares its sample mean order value (exact
    integer milli-cents through the attested DOUBLE -> DECIMAL(18,2)
    money lane) against the population mean, with the relative bias
    in truncating ppm; the spread across the 10 offsets is the
    empirical design effect — tight spread certifies modulo sampling
    for cheap dashboards, one hot offset reveals keyspace
    periodicity that would silently bias them. Means use the
    split-division identity (sum div n)*1000 + (sum mod n)*1000 div n
    == sum*1000 div n, so no intermediate ever exceeds the cent sums
    themselves — BIGINT-safe past 10^9 orders, where a naive
    sum*1000 product would wrap.

    Scale: ONE scan (the offset-grain aggregate persists; the 10-row
    population re-aggregate and the final projection read the cache),
    map-side combine, a 10-row broadcast back. No windows, no shuffle
    beyond the 10-key exchange."""
    per = (
        load(spark, sf_dir, "orders")
        .select(
            (F.col("o_orderkey") % _SYS_K).alias("sample_offset"),
            (F.col("o_totalprice").cast("decimal(18,2)") * 100)
            .cast("bigint")
            .alias("cents"),
        )
        .groupBy("sample_offset")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_sample"),
            F.sum("cents").cast("bigint").alias("sum_cents"),
        )
        .persist()
    )
    pop = per.agg(
        F.sum("n_sample").cast("bigint").alias("n_pop"),
        F.sum("sum_cents").cast("bigint").alias("pop_sum"),
    )

    out = (
        per.crossJoin(F.broadcast(pop))
        .select(
            "sample_offset",
            "n_sample",
            F.expr(
                "(sum_cents div n_sample) * 1000"
                " + (sum_cents % n_sample) * 1000 div n_sample"
            )
            .cast("bigint")
            .alias("samp_mean_milli"),
            F.expr(
                "(pop_sum div n_pop) * 1000"
                " + (pop_sum % n_pop) * 1000 div n_pop"
            )
            .cast("bigint")
            .alias("pop_mean_milli"),
        )
        .select(
            "sample_offset",
            "n_sample",
            "samp_mean_milli",
            "pop_mean_milli",
            F.expr(
                "CAST(ABS(samp_mean_milli - pop_mean_milli) * 1000000"
                " div pop_mean_milli AS BIGINT)"
            ).alias("bias_ppm"),
        )
        .orderBy("sample_offset")
    )
    return out


# ---------------------------------------------------------------------------
# q437 — temporal integrity audit (orderdate <= shipdate contract)
# ---------------------------------------------------------------------------


@query(
    "q437_temporal_integrity_audit",
    oracle="""
    WITH t AS (
      SELECT o.o_orderstatus AS st,
             DATEDIFF('day', CAST(o.o_orderdate AS DATE),
                      CAST(l.l_shipdate AS DATE)) AS lead_days
      FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
    )
    SELECT st AS o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n_items,
           CAST(SUM(CASE WHEN lead_days < 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_ship_before_order,
           CAST(SUM(CASE WHEN lead_days < 0 THEN 1 ELSE 0 END) * 1000000
                // COUNT(*) AS BIGINT) AS violation_ppm,
           CAST(MIN(lead_days) AS BIGINT) AS min_lead_days,
           CAST(MAX(lead_days) AS BIGINT) AS max_lead_days
    FROM t GROUP BY st ORDER BY o_orderstatus
    """,
    tags=("quality", "data-contract", "temporal", "audit"),
)
def q437_temporal_integrity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-column temporal contract: a lineitem must not ship before
    its order exists. Per order status: item counts, violations of
    orderdate <= shipdate, the violation share in ppm, and the
    lead-day range. On this fixture the audit CATCHES a real
    generator anomaly — roughly half of all lineitems ship strictly
    before their order date (the q401 lesson again: run the audit,
    don't assume the invariant; a real pipeline would quarantine
    these rows or fix the generator upstream of training).

    Scale: one key join (orders side pruned to two columns,
    broadcastable), map-side CASE counting, status-grain output."""
    o = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_orderdate"
    )
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    t = li.join(o, li["l_orderkey"] == o["o_orderkey"]).select(
        F.col("o_orderstatus"),
        F.datediff(
            F.col("l_shipdate").cast("date"), F.col("o_orderdate").cast("date")
        )
        .cast("bigint")
        .alias("lead_days"),
    )
    return (
        t.groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_items"),
            F.sum(F.when(F.col("lead_days") < 0, 1).otherwise(0))
            .cast("bigint")
            .alias("n_ship_before_order"),
            F.min("lead_days").cast("bigint").alias("min_lead_days"),
            F.max("lead_days").cast("bigint").alias("max_lead_days"),
        )
        .select(
            "o_orderstatus",
            "n_items",
            "n_ship_before_order",
            F.expr(
                "CAST(n_ship_before_order * 1000000 div n_items AS BIGINT)"
            ).alias("violation_ppm"),
            "min_lead_days",
            "max_lead_days",
        )
        .orderBy("o_orderstatus")
    )
