"""Wave-67 catalog entries (plans/llm_ops66.py — the four Spark-4 SQL
engine surfaces: recursive CTE, pipe syntax, listagg WITHIN GROUP, SQL
scripting): full pure-Python replays — the amortization schedule
replayed with decimal.Decimal, the threshold search replayed with a
python while-loop over the fetched price list."""

from __future__ import annotations

from decimal import Decimal

from airflow_scraping_etl_tutorial_spark.plans import llm_ops66  # noqa: F401  (registers)
from airflow_scraping_etl_tutorial_spark.plans.llm_ops66 import (
    _PIPE_KEY_CAP,
    _PRINCIPAL_KEY_CAP,
    _SCRIPT_TARGET,
)
from airflow_scraping_etl_tutorial_spark.plans.registry import _REGISTRY

SF_DIR = "/root/testdata/sf0.001"


# ---------------------------------------------------------------------------
# Replays and invariants
# ---------------------------------------------------------------------------


def test_recursive_amortization_python_replay(spark, duck):
    """Replay the whole schedule in pure python INTEGER CENTS (the r13
    rebuild: no decimal ROUND/CAST inside the loop — half-up interest
    is (bal*5 + 500)//1000 on always-positive balances): principal from
    the same bounded slice, 0.5% interest, 3% payment, stop when the
    balance crosses zero. Every (n, balance_cents) row must match
    exactly, including the final negative-balance row."""
    (principal_cents,) = duck.sql(
        f"SELECT CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 "
        f"AS BIGINT)) AS BIGINT) "
        f"FROM orders WHERE o_orderkey <= {_PRINCIPAL_KEY_CAP}"
    ).fetchone()
    payment = (principal_cents * 3 + 50) // 100
    want = [(0, principal_cents)]
    n, bal = 0, principal_cents
    while n < 60 and bal > 0:
        interest = (bal * 5 + 500) // 1000
        n, bal = n + 1, bal + interest - payment
        want.append((n, bal))
    got = [
        (r.n, r.balance_cents)
        for r in _REGISTRY["q440_recursive_cte_amortization"]
        .fn(spark, SF_DIR)
        .collect()
    ]
    assert got == want
    assert want[-1][1] <= 0 < want[-2][1]  # loop exits ON the crossing
    assert len(want) < 61  # far under the engine level limit of 100


def test_pipe_syntax_python_replay(spark, duck):
    """Revenue per status re-summed row-by-row in python Decimal from
    the same bounded base slice — proves the pipe AGGREGATE stage is
    the plain grouped aggregation, not a lowering artifact."""
    base = duck.sql(
        f"SELECT o_orderstatus, CAST(o_totalprice AS DECIMAL(18,2)), "
        f"CAST(o_orderdate AS DATE) "
        f"FROM orders WHERE o_orderkey <= {_PIPE_KEY_CAP}"
    ).fetchall()
    want: dict[str, list] = {}
    for status, price, day in base:
        want.setdefault(status, [Decimal(0), 0, None])
        acc = want[status]
        acc[0] += Decimal(price)
        acc[1] += 1
        acc[2] = day if acc[2] is None else max(acc[2], day)
    got = {
        r.status: (r.revenue, r.n_orders, r.last_order)
        for r in _REGISTRY["q441_pipe_syntax_pricing"].fn(spark, SF_DIR).collect()
    }
    assert got == {s: (a[0], a[1], a[2]) for s, a in want.items()}


def test_listagg_python_replay(spark, duck):
    """The ordered CSV rebuilt with sorted()/','.join over the distinct
    pairs — WITHIN GROUP's order (and nothing else) determines the
    string."""
    pairs = set(
        duck.sql("SELECT DISTINCT o_orderstatus, o_orderpriority FROM orders").fetchall()
    )
    want: dict[str, list[str]] = {}
    for status, prio in pairs:
        want.setdefault(status, []).append(prio)
    got = {
        r.status: (r.prios, r.n_prios)
        for r in _REGISTRY["q442_listagg_ordered_csv"].fn(spark, SF_DIR).collect()
    }
    assert got == {s: (",".join(sorted(v)), len(v)) for s, v in want.items()}


def test_scripting_threshold_python_replay(spark, duck):
    """The WHILE loop replayed in python over the fetched price list:
    double k while >= target orders price above it; the script's exit
    (threshold, n_above) must equal the replay's."""
    prices = [p for (p,) in duck.sql("SELECT o_totalprice FROM orders").fetchall()]
    k = 1
    while sum(1 for p in prices if p > k) >= _SCRIPT_TARGET:
        k *= 2
    row = (
        _REGISTRY["q443_sql_scripting_threshold_search"]
        .fn(spark, SF_DIR)
        .collect()[0]
    )
    assert (row.threshold, row.n_above) == (k, sum(1 for p in prices if p > k))
    assert row.n_above < _SCRIPT_TARGET


def test_recursive_plan_is_union_loop_not_unrolled(spark):
    """The q383 lesson as a positive check: the recursion must plan as
    the engine's loop operator (one UnionLoop node), NOT as 60 unrolled
    self-unions — an unrolled plan would grow with the depth constant
    and blow up at a production depth."""
    df = _REGISTRY["q440_recursive_cte_amortization"].fn(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "UnionLoop" in plan
    assert plan.count("FileScan") <= 2  # principal scan once, not per level


def test_scripting_result_survives_noop_write(spark):
    """The staged-plan gate (and the driver's noop-sink bench) writes
    every entry with format('noop') — the scripting result DataFrame
    must be writable like any other."""
    df = _REGISTRY["q443_sql_scripting_threshold_search"].fn(spark, SF_DIR)
    df.write.format("noop").mode("overwrite").save()
