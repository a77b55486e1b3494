"""Wave-61 catalog entries (plans/llm_ops60.py): python replays of the
HHI trend, the island runs, and the pushdown equivalence."""

from __future__ import annotations

from airflow_scraping_etl_tutorial_spark.plans import llm_ops60  # noqa: F401  (registers)
from airflow_scraping_etl_tutorial_spark.plans.registry import _REGISTRY

SF_DIR = "/root/testdata/sf0.001"


# ---------------------------------------------------------------------------
# Replays and invariants
# ---------------------------------------------------------------------------


def test_hhi_drift_python_replay(spark, duck):
    rows = duck.sql(
        """
        SELECT (EXTRACT(YEAR FROM o_orderdate) - 1970) * 12
                 + EXTRACT(MONTH FROM o_orderdate) - 1,
               o_custkey,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) * 1000000
                    AS BIGINT)
        FROM orders GROUP BY 1, 2
        """
    ).fetchall()
    per: dict[int, list[int]] = {}
    for m, _, rev in rows:
        per.setdefault(int(m), []).append(int(rev))
    pts = []
    for m in sorted(per):
        revs = per[m]
        tot = sum(revs)
        hhi = sum(r * r for r in revs) * 1_000_000 // (tot * tot)
        pts.append((m, len(revs), hhi))
    k = len(pts)
    sx = sum(x for x, _, _ in pts)
    sy = sum(h for _, _, h in pts)
    sxx = sum(x * x for x, _, _ in pts)
    sxy = sum(x * h for x, _, h in pts)
    num, den = k * sxy - sx * sy, k * sxx - sx * sx
    out = {r.month: r for r in _REGISTRY["q423_concentration_drift"].fn(spark, SF_DIR).collect()}
    assert set(out) == {m for m, _, _ in pts}
    for m, nc, hhi in pts:
        r = out[m]
        assert (r.n_customers, r.hhi_ppm) == (nc, hhi)
        assert r.trend_sign == (1 if num > 0 else (-1 if num < 0 else 0))
        assert r.trend_abs_ppm_per_month == (0 if den == 0 else abs(num) // den)
        # HHI is bounded by [1e6/n, 1e6]
        assert 1_000_000 // nc <= hhi <= 1_000_000


def test_alert_runs_python_replay(spark, duck):
    rows = duck.sql(
        "SELECT event_type, DATEDIFF('day', DATE '1970-01-01',"
        " CAST(ts AS DATE)), COUNT(*) FROM events GROUP BY 1, 2"
    ).fetchall()
    per: dict[str, list] = {}
    for et, day, c in rows:
        per.setdefault(et, []).append((int(day), int(c)))
    out = {r.event_type: r for r in _REGISTRY["q424_alert_run_lengths"].fn(spark, SF_DIR).collect()}
    for et, series in per.items():
        n = len(series)
        med = sorted(series, key=lambda t: (t[1], t[0]))[(n + 1) // 2 - 1][1]
        mad = sorted(
            (abs(c - med), d) for d, c in series
        )[(n + 1) // 2 - 1][0]
        alert_days = sorted(d for d, c in series if c > med + 3 * mad)
        if not alert_days:
            assert et not in out
            continue
        runs = []
        start = prev = alert_days[0]
        for d in alert_days[1:]:
            if d == prev + 1:
                prev = d
            else:
                runs.append((start, prev - start + 1))
                start = prev = d
        runs.append((start, prev - start + 1))
        longest = max(l for _, l in runs)
        r = out[et]
        assert (r.n_alert_days, r.n_runs) == (len(alert_days), len(runs))
        assert r.longest_run == longest
        assert r.longest_run_start == min(s for s, l in runs if l == longest)
    # every reported type exists in the replay
    assert set(out) <= set(per)


def test_pushdown_equivalence(spark, duck):
    out = _REGISTRY["q425_preagg_pushdown_equivalence"].fn(spark, SF_DIR).collect()
    assert len(out) > 0
    for r in out:
        # associativity: the rewrite NEVER changes the answer
        assert r.identical == 1
        assert r.revenue_naive == r.revenue_pushed
        # the pushed plan carries customer-grain rows: never more
        assert r.pushed_join_rows <= r.naive_join_rows
        assert r.rows_saved_ppm == (
            (r.naive_join_rows - r.pushed_join_rows)
            * 1_000_000
            // r.naive_join_rows
        )
    # orders-per-customer > 1 in the fixture: real savings exist
    assert any(r.rows_saved_ppm > 0 for r in out)
