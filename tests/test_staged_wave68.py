"""Wave-68 catalog entries (plans/llm_ops67.py — six Spark-4 engine
surfaces: GROUP BY ALL, IDENTIFIER() parameterized identifiers,
TABLESAMPLE REPEATABLE, df.observe() single-pass metrics, native
Datasketches HLL, and the try_* error-safe arithmetic lane):
pure-Python replays for the value-exact entries and invariant probes
for the audited (RNG-backed) ones."""

from __future__ import annotations

from decimal import Decimal

from airflow_scraping_etl_tutorial_spark.plans import llm_ops67  # noqa: F401  (registers)
from airflow_scraping_etl_tutorial_spark.plans.llm_ops67 import (
    _HLL_REL_BOUND,
    _TRY_KEY_CAP,
)
from airflow_scraping_etl_tutorial_spark.plans.registry import _REGISTRY

SF_DIR = "/root/testdata/sf0.001"

STAGED = [
    "q444_group_by_all_pricing",
    "q445_identifier_parameterized_scan",
    "q446_tablesample_repeatable_audit",
    "q447_observe_metrics_single_pass",
    "q448_hll_sketch_native_agg",
    "q449_try_arithmetic_safe_lane",
]


# ---------------------------------------------------------------------------
# Replays and invariants
# ---------------------------------------------------------------------------


def test_group_by_all_python_replay(spark, duck):
    """The inferred (status, prio) grain re-grouped row-by-row in
    python Decimal — proves GROUP BY ALL picked exactly the two
    non-aggregate SELECT items as keys."""
    base = duck.sql(
        "SELECT o_orderstatus, o_orderpriority, "
        "CAST(o_totalprice AS DECIMAL(18,2)) FROM orders"
    ).fetchall()
    want: dict[tuple[str, str], list] = {}
    for status, prio, price in base:
        acc = want.setdefault((status, prio), [0, 0])
        acc[0] += int(Decimal(price) * 100)  # exact integer cents (r13 lane)
        acc[1] += 1
    got = {
        (r.status, r.prio): (r.revenue_cents, r.n_orders)
        for r in _REGISTRY["q444_group_by_all_pricing"].fn(spark, SF_DIR).collect()
    }
    assert got == {k: (a[0], a[1]) for k, a in want.items()}


def test_identifier_binds_the_named_column_not_a_literal(spark):
    """IDENTIFIER(:grp) must resolve to the COLUMN o_orderstatus — a
    binding that degraded to a string literal would collapse every
    group into one 'o_orderstatus' row."""
    rows = (
        _REGISTRY["q445_identifier_parameterized_scan"].fn(spark, SF_DIR).collect()
    )
    statuses = {r.status for r in rows}
    assert statuses == {"F", "O", "P"}
    assert sum(r.n_orders for r in rows) == 1500


def test_tablesample_audit_booleans_all_true(spark):
    row = (
        _REGISTRY["q446_tablesample_repeatable_audit"].fn(spark, SF_DIR).collect()[0]
    )
    assert row.n_source == 1500
    assert row.within_binomial_bounds
    assert row.seed_repeatable
    assert row.sample_no_duplicates


def test_observe_metrics_equal_direct_aggregation(spark, duck):
    """The observed (count, decimal sum, max date) of the single noop
    pass must equal a direct re-aggregation — an observation placed
    after a dropped stage or double-counted under retry would differ."""
    want = duck.sql(
        "SELECT CAST(COUNT(*) AS BIGINT), "
        "CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(28,2)), "
        "CAST(MAX(o_orderdate) AS DATE) FROM orders"
    ).fetchone()
    row = (
        _REGISTRY["q447_observe_metrics_single_pass"].fn(spark, SF_DIR).collect()[0]
    )
    assert (row.n_rows, row.total, row.last_day) == (
        want[0],
        Decimal(want[1]),
        want[2],
    )


def test_hll_native_estimate_vs_exact(spark, duck):
    """Both audit booleans true, and the exact count matches DuckDB's
    — the 5% bound leaves lgK=12's ~1.6% std error a 3-sigma margin."""
    (want_exact,) = duck.sql(
        "SELECT CAST(COUNT(DISTINCT o_custkey) AS BIGINT) FROM orders"
    ).fetchone()
    row = _REGISTRY["q448_hll_sketch_native_agg"].fn(spark, SF_DIR).collect()[0]
    assert row.exact_distinct == want_exact
    assert row.est_within_5pct
    assert row.merged_within_5pct
    assert 0 < _HLL_REL_BOUND < 0.1


def test_try_lane_python_replay(spark, duck):
    """NULL placement replayed row-by-row: cents_per_k is NULL exactly
    on orderkey%3==0, overflow_guard NULL exactly on custkey>0, the
    de-comma round-trip returns the original exact integer cents (r13:
    locale-free grouping, never format_number), and the
    format-mismatch column is NULL everywhere."""
    base = duck.sql(
        f"SELECT o_orderkey, o_custkey, CAST(o_totalprice AS DECIMAL(18,2)) "
        f"FROM orders WHERE o_orderkey <= {_TRY_KEY_CAP} ORDER BY o_orderkey"
    ).fetchall()
    want = []
    for key, ck, price in base:
        k = key % 3
        cents = int(Decimal(price) * 100)
        want.append(
            (
                key,
                None if k == 0 else cents / k,  # halves: exact in binary
                None if ck > 0 else 9223372036854775807,
                cents,
                None,
            )
        )
    got = [
        (r.o_orderkey, r.cents_per_k, r.overflow_guard, r.decomma_cents,
         r.mismatch_is_null)
        for r in _REGISTRY["q449_try_arithmetic_safe_lane"].fn(spark, SF_DIR).collect()
    ]
    assert got == want
    assert any(v[1] is None for v in want)  # the zero-divisor rows exist
    assert any(v[1] is not None for v in want)


def test_audited_rows_present_for_wave68():
    """Staging protocol: every wave-68 entry carries an explain-audit
    row so PLANS.md regeneration covers it."""
    from staged_oracle import load_explain_audit

    assert set(STAGED) <= set(load_explain_audit().AUDITED)
