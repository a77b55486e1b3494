"""Wave-71 entries (plans/llm_ops70.py — regr_* audit, str_to_map,
interval arithmetic, array mutations, try_cast, collated grouping):
pure-Python replays — least-squares from exact integer sums, month-add
with manual end-of-month clamping, list edits with python lists, and
the case-insensitive regroup with str.lower()."""

from __future__ import annotations

import calendar
import datetime as dt

from airflow_scraping_etl_tutorial_spark.plans import llm_ops70  # noqa: F401
from airflow_scraping_etl_tutorial_spark.plans.llm_ops70 import (
    _COLL_KEY_CAP,
    _IVL_KEY_CAP,
    _REGR_KEY_CAP,
)
from airflow_scraping_etl_tutorial_spark.plans.registry import _REGISTRY

SF_DIR = "/root/testdata/sf0.001"

STAGED = [
    "q457_regr_linear_family",
    "q458_str_to_map_kv_extraction",
    "q459_interval_date_arithmetic",
    "q460_array_mutation_functions",
    "q461_try_cast_quarantine",
    "q462_collated_case_insensitive_grouping",
]


def test_audited_rows_present_for_wave71():
    from staged_oracle import load_explain_audit

    assert set(STAGED) <= set(load_explain_audit().AUDITED)


# ---------------------------------------------------------------------------
# Replays
# ---------------------------------------------------------------------------


def test_regr_family_python_replay(spark, duck):
    """Least-squares replayed from exact integer sums in pure python
    (fractions-free: the audit's own closed form) — the integer
    payload must match exactly and every audit boolean must be
    True."""
    base = duck.sql(
        f"SELECT o_orderstatus, CAST(o_orderkey AS BIGINT), "
        f"CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) // 100 "
        f"FROM orders WHERE o_orderkey <= {_REGR_KEY_CAP}"
    ).fetchall()
    want: dict[str, list[int]] = {}
    for status, x, y in base:
        acc = want.setdefault(status, [0, 0, 0])
        acc[0] += 1
        acc[1] += x
        acc[2] += y
    rows = _REGISTRY["q457_regr_linear_family"].fn(spark, SF_DIR).collect()
    got = {r.status: r for r in rows}
    assert set(got) == set(want)
    for status, (n, sx, sy) in want.items():
        r = got[status]
        assert (r.n, r.sx, r.sy) == (n, sx, sy)
        assert r.slope_ok and r.intercept_ok and r.r2_ok and r.avg_ok


def test_str_to_map_grammar_edge(spark):
    """'4-NOT SPECIFIED' carries a space and a dash but neither
    delimiter — the parsed value must round-trip verbatim, and every
    document must parse to exactly 3 keys."""
    rows = _REGISTRY["q458_str_to_map_kv_extraction"].fn(spark, SF_DIR).collect()
    assert rows and all(r.n_keys == 3 for r in rows)
    specials = [r for r in rows if r.p_val == "4-NOT SPECIFIED"]
    assert specials, "fixture should contain the spaced priority"


def _add_months_clamped(d: dt.date, months: int) -> dt.date:
    y = d.year + (d.month - 1 + months) // 12
    m = (d.month - 1 + months) % 12 + 1
    return dt.date(y, m, min(d.day, calendar.monthrange(y, m)[1]))


def test_interval_arithmetic_python_replay(spark, duck):
    """Month-add with manual end-of-month clamping, plain day-add,
    last_day, and quarter-start replayed in datetime arithmetic."""
    base = duck.sql(
        f"SELECT o_orderkey, o_orderdate FROM orders "
        f"WHERE o_orderkey <= {_IVL_KEY_CAP} ORDER BY o_orderkey"
    ).fetchall()
    got = {
        r.o_orderkey: r
        for r in _REGISTRY["q459_interval_date_arithmetic"]
        .fn(spark, SF_DIR)
        .collect()
    }
    assert len(got) == len(base)
    for key, d in base:
        if isinstance(d, dt.datetime):  # duckdb may hand back midnight ts
            d = d.date()
        r = got[key]
        pm = _add_months_clamped(d, key % 13)
        assert r.plus_months == pm
        assert r.plus_days == d + dt.timedelta(days=key % 29)
        assert r.month_end == dt.date(
            pm.year, pm.month, calendar.monthrange(pm.year, pm.month)[1]
        )
        q_start_month = 3 * ((d.month - 1) // 3) + 1
        assert r.quarter_start == dt.date(d.year, q_start_month, 1)


def test_array_mutations_python_replay(spark, duck):
    """Every edit replayed with python lists over the same split."""
    base = duck.sql(
        "SELECT o_orderkey, o_orderstatus, o_orderpriority FROM orders "
        f"WHERE o_orderkey <= {_IVL_KEY_CAP} ORDER BY o_orderkey"
    ).fetchall()
    got = {
        r.o_orderkey: r
        for r in _REGISTRY["q460_array_mutation_functions"]
        .fn(spark, SF_DIR)
        .collect()
    }
    for key, s, prio in base:
        parts = prio.split("-")
        r = got[key]
        assert r.inserted == "|".join([parts[0], s, parts[1]])
        assert r.prepended == "|".join([s] + parts)
        compact_src = [None if s == "F" else s, parts[0]]
        assert r.compacted == "|".join(v for v in compact_src if v is not None)
        assert r.removed == parts[1]
        assert r.distincted == "|".join(dict.fromkeys(parts + [parts[0]]))
        assert r.n_inserted == 3


def test_try_cast_null_placement(spark):
    """NULL exactly where the grammar fails; originals round-trip."""
    rows = _REGISTRY["q461_try_cast_quarantine"].fn(spark, SF_DIR).collect()
    assert rows
    for r in rows:
        assert r.full_prio_is_null is None
        assert r.bad_month_is_null is None
        assert 1 <= r.prio_digit <= 5
        assert r.key_roundtrip == r.o_orderkey
        assert r.date_roundtrip is not None


def test_collation_merges_case_variants(spark, duck):
    """The CI regroup replayed with str.lower(): same grain/counts,
    and the groups where both case forms occur report 2 binary
    variants — the collation, not the data, did the merging."""
    base = duck.sql(
        f"SELECT o_orderkey, o_orderpriority FROM orders "
        f"WHERE o_orderkey <= {_COLL_KEY_CAP}"
    ).fetchall()
    want: dict[str, list] = {}
    for key, prio in base:
        kv = prio.upper() if key % 2 == 0 else prio.lower()
        acc = want.setdefault(prio.lower(), [0, set()])
        acc[0] += 1
        acc[1].add(kv)
    rows = (
        _REGISTRY["q462_collated_case_insensitive_grouping"]
        .fn(spark, SF_DIR)
        .collect()
    )
    got = {r.prio_ci: r for r in rows}
    assert set(got) == set(want)
    for k, (n, variants) in want.items():
        assert got[k].n_orders == n
        assert got[k].n_case_variants == len(variants)
    assert any(r.n_case_variants == 2 for r in rows), (
        "at least one group must contain both case forms"
    )
