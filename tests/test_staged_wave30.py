"""Wave-30 catalog entries (plans/llm_ops29.py): python replays of the
CUPED moment arithmetic and the leave-one-day-out jackknife, with the
structural invariants (0 <= rho^2 <= 1; leave-out range brackets the
full ratio)."""

from __future__ import annotations

from airflow_scraping_etl_tutorial_spark.plans import llm_ops29  # noqa: F401  (registers)
from airflow_scraping_etl_tutorial_spark.plans.registry import _REGISTRY

SF_DIR = "/root/testdata/sf0.001"


# ---------------------------------------------------------------------------
# Python replays
# ---------------------------------------------------------------------------


def test_cuped_replay(spark, duck):
    (r,) = _REGISTRY["q327_cuped_variance_reduction"].fn(spark, SF_DIR).collect()
    u = duck.sql(
        """
        SELECT SUM(CASE WHEN CAST(ts AS DATE) < DATE '2024-01-16'
                   THEN 1 ELSE 0 END),
               SUM(CASE WHEN CAST(ts AS DATE) >= DATE '2024-01-16'
                   THEN 1 ELSE 0 END)
        FROM events GROUP BY user_id
        """
    ).fetchall()
    n = len(u)
    sx = sum(x for x, _ in u)
    sy = sum(y for _, y in u)
    sxx = sum(x * x for x, _ in u)
    syy = sum(y * y for _, y in u)
    sxy = sum(x * y for x, y in u)
    vx = n * sxx - sx * sx
    vy = n * syy - sy * sy
    cxy = n * sxy - sx * sy
    assert r.n_users == n
    assert (r.sxx_scaled, r.syy_scaled, r.sxy_scaled) == (vx, vy, cxy)

    def trunc_div(a, b):
        q = abs(a) // abs(b)
        return q if (a >= 0) == (b >= 0) else -q

    assert r.theta_micro == trunc_div(cxy * 10**6, vx)
    assert r.var_reduction_ppm == trunc_div(
        trunc_div(cxy * cxy, vx) * 10**6, vy
    )
    # rho^2 lives in [0, 1]; with activity split mid-stream the
    # pre-period must carry real signal about the post-period
    assert 0 <= r.var_reduction_ppm <= 10**6
    assert r.var_reduction_ppm > 10_000  # >1% — same-user correlation


def test_jackknife_replay(spark, duck):
    (r,) = (
        _REGISTRY["q328_jackknife_ratio_dispersion"].fn(spark, SF_DIR).collect()
    )
    d = duck.sql(
        """
        SELECT CAST(ts AS DATE),
               SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END),
               COUNT(*)
        FROM events GROUP BY 1
        """
    ).fetchall()
    tp = sum(p for _, p, _ in d)
    te = sum(e for _, _, e in d)
    nd = len(d)
    loo = [(tp - p) * 10**6 // (te - e) for _, p, e in d]
    s = sum(loo)
    ss = sum((nd * x - s) ** 2 for x in loo)
    assert r.r_full_ppm == tp * 10**6 // te
    assert r.n_days == nd
    assert r.loo_min_ppm == min(loo)
    assert r.loo_max_ppm == max(loo)
    assert r.jack_ss_scaled == ss
    # removing a day can only move the ratio a little: the leave-out
    # range must bracket (or touch) the full-data ratio
    assert r.loo_min_ppm <= r.r_full_ppm + 1
    assert r.loo_max_ppm >= r.r_full_ppm - 1
