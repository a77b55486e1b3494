"""LLM-ops wave 67: driver stamps for four Spark-4-native SQL engine
surfaces no existing entry covers —

- q440: RECURSIVE CTE (SPARK-24497, new in Spark 4) — an exact-decimal
  amortization schedule: the anchor seeds a principal aggregated from
  the orders fixture, each recursion level accrues interest and
  subtracts a fixed payment until the balance crosses zero. Iteration
  as a DECLARATIVE plan (UnionLoop), not a driver-side Python loop —
  the engine surface the q90/q226/q250 contraction loops deliberately
  do NOT use (their oracle side always was WITH RECURSIVE; this entry
  closes the loop by running the same construct on the Spark side).
- q441: SQL PIPE syntax (SPARK-49555, |> operators) — the q04-family
  filter -> AGGREGATE ... GROUP BY -> ORDER BY pricing shape written
  in pipe form; the oracle is the classic ANSI equivalent, so the
  entry proves the pipe parser lowers to the identical semantics.
- q442: listagg(...) WITHIN GROUP (ORDER BY ...) (SPARK-42746) — the
  ANSI ordered string aggregation, vs DuckDB's string_agg(x, sep ORDER
  BY x). Determinism comes from the mandated WITHIN GROUP order plus a
  pre-DISTINCT subquery (no reliance on input order).
- q443: SQL SCRIPTING (SPARK-48338, BEGIN/DECLARE/WHILE) — an
  iterative doubling threshold search (smallest power-of-two price
  cutoff with fewer than 100 orders above it) where the WHILE
  condition is a scalar subquery over the fixture; the oracle computes
  the same fixpoint closed-form over a bit-shifted power ladder.
  Control flow executes ENGINE-side per statement — no Python between
  iterations.

Output-hardening doctrine (as waves 6-66): money stays in the decimal
lane end-to-end (DECIMAL(18,2) balances, explicit CAST after every
arithmetic step so the recursion's column types equal the anchor's);
every aggregate cast on BOTH sides (DuckDB SUM(BIGINT) is HUGEINT);
no POW anywhere (the power ladder is a bit shift on the oracle side
and engine-side doubling on the Spark side); recursion depth is
bounded far under spark.sql.cteRecursionLevelLimit (default 100).

Reference parity: the reference's only iteration is Airflow's daily
re-run of the whole DAG (dags/Final_app.py schedule_interval) — it has
no in-query iteration at all. These entries are the engine-native
iteration/composition surfaces a user outgrowing that one-row-a-day
loop reaches for first.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..sources.tables import load
from .registry import query

_PRINCIPAL_KEY_CAP = 64  # orders slice whose revenue seeds the principal

# ROUND-13 HARDENING (the r12 driver hash-FAIL, rows+schema green,
# strict-local green — the environment-fragility signature): the loop
# previously carried CAST(ROUND(balance*0.005, 2) AS DECIMAL(18,2))
# through ~38 recursion levels, so ONE half-cent rounding-tie or
# decimal-precision-rule difference between engine versions compounds
# level-over-level. The recursion now runs entirely in the BIGINT
# integer-cents lane (the round-6 doctrine): interest is half-up
# integer rounding via (bal*5 + 500) integer-div 1000 — floor division
# on always-positive operands, identical in both engines — and NO
# engine ROUND/CAST-to-decimal sits inside the loop. The only dialect
# difference is the integer-division spelling (Spark `DIV`, DuckDB
# `//`), hence two texts built from one template.
_AMORT_SQL = """
WITH RECURSIVE p AS (
  SELECT CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT))
              AS BIGINT) AS principal_cents
  FROM orders
  WHERE o_orderkey <= {cap}
),
pay AS (
  SELECT principal_cents,
         CAST((principal_cents * 3 + 50) {idiv} 100 AS BIGINT) AS payment_cents
  FROM p
),
sched(n, balance_cents) AS (
  SELECT CAST(0 AS INT), principal_cents FROM pay
  UNION ALL
  SELECT s.n + 1,
         CAST(s.balance_cents
              + (s.balance_cents * 5 + 500) {idiv} 1000
              - pay.payment_cents AS BIGINT)
  FROM sched s CROSS JOIN pay
  WHERE s.n < 60 AND s.balance_cents > 0
)
SELECT CAST(n AS INT) AS n, CAST(balance_cents AS BIGINT) AS balance_cents
FROM sched ORDER BY n
"""


@query(
    "q440_recursive_cte_amortization",
    oracle=_AMORT_SQL.format(cap=_PRINCIPAL_KEY_CAP, idiv="//"),
    tags=("recursive-cte", "integer-cents", "iteration"),
)
def q440_recursive_cte_amortization(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Exact integer-cents amortization as a Spark-native WITH
    RECURSIVE: the principal is the BIGINT-cents revenue of a bounded
    orderkey slice, the payment is 3% of it, interest accrues at 0.5%
    per period (half-up integer rounding: (bal*5+500) div 1000, floor
    division on positive operands — bit-identical in every engine),
    and the recursion stops when the balance crosses zero (~38 levels
    — payment/interest are proportional to the principal, so the depth
    is scale-invariant and sits far under the engine's level limit of
    100). The loop contains NO decimal ROUND/CAST (the r12 driver
    divergence: per-level decimal rounding compounds any cross-version
    tie-break difference); money enters the attested DOUBLE ->
    DECIMAL(18,2) -> BIGINT-cents lane once, outside the loop. Scale
    note: each level is one tiny self-union over the previous level's
    rows — the expensive part (the principal aggregate) runs once,
    outside the loop."""
    load(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(_AMORT_SQL.format(cap=_PRINCIPAL_KEY_CAP, idiv="DIV"))


_PIPE_KEY_CAP = 4096


@query(
    "q441_pipe_syntax_pricing",
    oracle=f"""
    SELECT o_orderstatus AS status,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(38,2))
             AS revenue,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(MAX(o_orderdate) AS DATE) AS last_order
    FROM orders
    WHERE o_orderkey <= {_PIPE_KEY_CAP}
    GROUP BY o_orderstatus
    ORDER BY status
    """,
    tags=("pipe-syntax", "aggregation", "decimal"),
)
def q441_pipe_syntax_pricing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The filter -> aggregate -> order pricing shape in Spark 4's SQL
    pipe syntax: each |> stage is one logical operator in reading
    order. The oracle is the classic ANSI form, so a pipe-parser
    lowering that reordered/renamed anything would hash-mismatch.
    Same plan economics as q04 — pruned scan, partial aggregation,
    single shuffle on the group key."""
    load(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(f"""
        FROM orders
        |> WHERE o_orderkey <= {_PIPE_KEY_CAP}
        |> AGGREGATE
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(38,2))
               AS revenue,
             CAST(COUNT(*) AS BIGINT) AS n_orders,
             CAST(MAX(o_orderdate) AS DATE) AS last_order
           GROUP BY o_orderstatus AS status
        |> ORDER BY status
        """)


@query(
    "q442_listagg_ordered_csv",
    oracle="""
    SELECT status,
           string_agg(p, ',' ORDER BY p) AS prios,
           CAST(COUNT(*) AS BIGINT) AS n_prios
    FROM (SELECT DISTINCT o_orderstatus AS status, o_orderpriority AS p
          FROM orders) t
    GROUP BY status
    ORDER BY status
    """,
    tags=("listagg", "string", "aggregation"),
)
def q442_listagg_ordered_csv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANSI listagg WITHIN GROUP: the distinct order priorities seen
    per status as one deterministic comma-joined string. DISTINCT is a
    subquery (not inside the aggregate) so both engines aggregate the
    identical row set, and WITHIN GROUP (ORDER BY p) pins the
    concatenation order — input order can never leak into the result.
    Covers the surface collect_list+concat_ws entries do NOT: the
    ordered ANSI aggregate itself."""
    load(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql("""
        SELECT status,
               listagg(p, ',') WITHIN GROUP (ORDER BY p) AS prios,
               CAST(COUNT(*) AS BIGINT) AS n_prios
        FROM (SELECT DISTINCT o_orderstatus AS status, o_orderpriority AS p
              FROM orders)
        GROUP BY status
        ORDER BY status
        """)


_SCRIPT_TARGET = 100  # loop until fewer than this many orders remain above k


@query(
    "q443_sql_scripting_threshold_search",
    oracle=f"""
    WITH ks AS (
      SELECT (CAST(1 AS BIGINT) << i) AS k FROM generate_series(0, 40) t(i)
    ),
    cand AS (
      SELECT k FROM ks
      WHERE (SELECT count(*) FROM orders WHERE o_totalprice > ks.k)
            < {_SCRIPT_TARGET}
    )
    SELECT CAST(min(k) AS BIGINT) AS threshold,
           CAST((SELECT count(*) FROM orders
                 WHERE o_totalprice > (SELECT min(k) FROM cand))
                AS BIGINT) AS n_above
    FROM cand
    """,
    tags=("sql-scripting", "iteration", "control-flow"),
)
def q443_sql_scripting_threshold_search(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Iterative threshold search in Spark 4 SQL SCRIPTING: DECLARE a
    cursor k=1 and WHILE more than {_SCRIPT_TARGET} orders price above
    it, double it — the first power of two that caps the tail is the
    answer, found by ENGINE-side control flow (each loop iteration is
    one scalar-subquery count job; no Python between iterations). The
    oracle computes the same fixpoint closed-form: the doubling ladder
    is monotone in k, so the loop's exit value equals the MINIMUM
    power-of-two with a sub-target count (bit-shift ladder, no POW —
    the lint-barred function). ~18 iterations at any SF (depth is
    log2(max price), not data volume)."""
    load(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    # Scripting needs a session flag; restore the caller's value after
    # the script has run (spark.sql executes the whole script eagerly
    # and hands back the last statement's already-computed result) so
    # this entry — uniquely conf-dependent — cannot leak session state
    # into whatever query a shared harness session runs next
    # (round-11 review finding).
    prev = spark.conf.get("spark.sql.scripting.enabled", None)
    spark.conf.set("spark.sql.scripting.enabled", "true")
    try:
        return spark.sql(f"""
            BEGIN
              DECLARE k BIGINT DEFAULT 1;
              WHILE (SELECT count(*) FROM orders WHERE o_totalprice > k)
                    >= {_SCRIPT_TARGET} DO
                SET k = k * 2;
              END WHILE;
              SELECT CAST(k AS BIGINT) AS threshold,
                     CAST((SELECT count(*) FROM orders WHERE o_totalprice > k)
                          AS BIGINT) AS n_above;
            END
            """)
    finally:
        if prev is None:
            spark.conf.unset("spark.sql.scripting.enabled")
        else:
            spark.conf.set("spark.sql.scripting.enabled", prev)
