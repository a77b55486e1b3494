"""Wave-53 catalog entries (plans/llm_ops52.py): python replays of the
sweep line, the running balance, and the uniqueness arithmetic."""

from __future__ import annotations

from airflow_scraping_etl_tutorial_spark.plans import llm_ops52  # noqa: F401  (registers)
from airflow_scraping_etl_tutorial_spark.plans.llm_ops52 import PK_SPECS
from airflow_scraping_etl_tutorial_spark.plans.registry import _REGISTRY

SF_DIR = "/root/testdata/sf0.001"


# ---------------------------------------------------------------------------
# Replays and invariants
# ---------------------------------------------------------------------------


def test_concurrency_python_replay(spark, duck):
    """Replay the sweep in python day by day — the per-day open count
    is the number of intervals containing the day, checked for every
    calendar day, then rolled up per year."""
    import datetime

    spans = [
        (min(a, b), max(a, b))
        for a, b in duck.sql(
            """
        SELECT DATEDIFF('day', DATE '1970-01-01', CAST(o.o_orderdate AS DATE)),
               MAX(DATEDIFF('day', DATE '1970-01-01', CAST(l.l_shipdate AS DATE)))
        FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        GROUP BY o.o_orderkey, o.o_orderdate
        """
        ).fetchall()
    ]
    lo = min(d0 for d0, _ in spans)
    hi = max(max(d0, d1) for d0, d1 in spans)
    per_year: dict[int, list] = {}
    for day in range(lo, hi + 1):
        open_n = sum(1 for d0, d1 in spans if d0 <= day <= d1)
        year = (datetime.date(1970, 1, 1) + datetime.timedelta(days=day)).year
        per_year.setdefault(year, []).append((day, open_n))
    out = {r.year: r for r in _REGISTRY["q399_open_order_concurrency"].fn(spark, SF_DIR).collect()}
    assert set(out) == set(per_year)
    for year, days in per_year.items():
        mx = max(c for _, c in days)
        peak = min(d for d, c in days if c == mx)
        s = sum(c for _, c in days)
        r = out[year]
        assert (r.n_days, r.max_open, r.peak_day) == (len(days), mx, peak)
        assert r.mean_open_micro == s * 1_000_000 // len(days)


def test_stockout_python_replay(spark, duck):
    rows = duck.sql(
        """
        SELECT l_partkey,
               DATEDIFF('day', DATE '1970-01-01', CAST(l_shipdate AS DATE)),
               l_orderkey, l_linenumber,
               CAST(ROUND(l_quantity, 0) AS BIGINT)
                 * (CASE WHEN l_returnflag = 'R' THEN -1 ELSE 1 END)
        FROM lineitem
        """
    ).fetchall()
    per: dict[int, list] = {}
    for pk, day, ok, ln, qty in rows:
        per.setdefault(pk, []).append((day, ok, ln, qty))
    stats = []
    for pk, moves in per.items():
        moves.sort()
        bal = 0
        mn, mn_day = None, None
        for day, _, _, qty in moves:
            bal += qty
            if mn is None or bal < mn:
                mn, mn_day = bal, day
        stats.append((mn, pk, len(moves), bal, mn_day))
    stats.sort()
    out = _REGISTRY["q400_stockout_running_balance"].fn(spark, SF_DIR).collect()
    assert len(out) == min(20, len(stats))
    for r, (mn, pk, n, final, mn_day) in zip(out, stats[:20]):
        assert (r.part, r.n_moves, r.final_net) == (pk, n, final)
        assert (r.min_balance, r.min_day) == (mn, mn_day)
    # returns exist in the fixture, so some part's trough is negative
    assert out[0].min_balance < 0


def test_pk_uniqueness_python_replay(spark, duck):
    out = {r.tbl: r for r in _REGISTRY["q401_primary_key_uniqueness"].fn(spark, SF_DIR).collect()}
    assert set(out) == {t for t, _ in PK_SPECS}
    for tbl, pk in PK_SPECS:
        n_rows, n_keys, mx = duck.sql(
            f"SELECT SUM(mult), COUNT(*), MAX(mult) FROM"
            f" (SELECT {pk} AS pk, COUNT(*) AS mult FROM {tbl} GROUP BY 1)"
        ).fetchone()
        r = out[tbl]
        assert (r.n_rows, r.n_keys, r.max_multiplicity) == (n_rows, n_keys, mx)
        assert r.n_dup_rows == n_rows - n_keys
        assert r.dup_ppm == (n_rows - n_keys) * 1_000_000 // n_rows
    # the audit WORKS: every single-column key is clean, and it catches
    # the fixture's real violation — lineitem's (orderkey, linenumber)
    # is not unique (the generator reuses line numbers)
    for tbl, r in out.items():
        if tbl == "lineitem":
            assert r.n_dup_rows > 0 and r.max_multiplicity > 1
        else:
            assert r.n_dup_rows == 0 and r.max_multiplicity == 1
