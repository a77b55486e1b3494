"""Wave-50 catalog entries (plans/llm_ops49.py): python replays of the
MAD scan, the SMD arithmetic, and the nearest-rank lag percentiles."""

from __future__ import annotations

import hashlib
import math

from airflow_scraping_etl_tutorial_spark.plans import llm_ops49  # noqa: F401  (registers)
from airflow_scraping_etl_tutorial_spark.plans.registry import _REGISTRY

SF_DIR = "/root/testdata/sf0.001"


# ---------------------------------------------------------------------------
# Replays and invariants
# ---------------------------------------------------------------------------


def test_median_mad_python_replay(spark, duck):
    rows = duck.sql(
        "SELECT event_type, DATEDIFF('day', DATE '1970-01-01',"
        " CAST(ts AS DATE)), COUNT(*) FROM events GROUP BY 1, 2"
    ).fetchall()
    per: dict[str, list] = {}
    for et, day, c in rows:
        per.setdefault(et, []).append((day, c))
    out = {r.event_type: r for r in _REGISTRY["q390_median_mad_anomaly_days"].fn(spark, SF_DIR).collect()}
    assert set(out) == set(per)
    for et, series in per.items():
        n = len(series)
        med = sorted(series, key=lambda t: (t[1], t[0]))[(n + 1) // 2 - 1][1]
        devs = [(abs(c - med), day) for day, c in series]
        mad = sorted(devs)[(n + 1) // 2 - 1][0]
        anomalies = sum(1 for d, _ in devs if d > 3 * mad)
        worst_dev = max(d for d, _ in devs)
        worst_day = min(day for d, day in devs if d == worst_dev)
        r = out[et]
        assert (r.n_days, r.median_c, r.mad) == (n, med, mad)
        assert (r.n_anomalies, r.worst_day, r.worst_dev) == (
            anomalies,
            worst_day,
            worst_dev,
        )


def test_smd_python_replay(spark, duck):
    rows = duck.sql(
        """
        SELECT user_id, COUNT(*),
               SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END),
               COUNT(DISTINCT CAST(ts AS DATE))
        FROM events GROUP BY user_id
        """
    ).fetchall()
    arms: dict[int, list] = {0: [], 1: []}
    for uid, ne, pu, ad in rows:
        t = 1 if hashlib.md5(f"{uid}:exp2".encode()).hexdigest()[0] < "8" else 0
        arms[t].append((int(ne), int(pu), int(ad)))
    out = {r.covariate: r for r in _REGISTRY["q391_covariate_balance_smd"].fn(spark, SF_DIR).collect()}
    assert set(out) == {"n_events", "purchases", "active_days"}
    for i, cov in [(0, "n_events"), (1, "purchases"), (2, "active_days")]:
        xt = [v[i] for v in arms[1]]
        xc = [v[i] for v in arms[0]]
        nt, nc = len(xt), len(xc)
        s1t, s2t = sum(xt), sum(v * v for v in xt)
        s1c, s2c = sum(xc), sum(v * v for v in xc)
        vt = (nt * s2t - s1t * s1t) / (nt * (nt - 1))
        vc = (nc * s2c - s1c * s1c) / (nc * (nc - 1))
        smd = round(abs(s1t / nt - s1c / nc) / math.sqrt((vt + vc) / 2), 6)
        r = out[cov]
        assert (r.n_t, r.n_c) == (nt, nc)
        assert r.mean_t_micro == s1t * 1_000_000 // nt
        assert r.mean_c_micro == s1c * 1_000_000 // nc
        assert abs(r.smd - smd) < 2e-6
        assert r.balanced == (1 if r.smd < 0.1 else 0)


def test_shipping_lag_python_replay(spark, duck):
    rows = duck.sql(
        """
        SELECT o.o_orderpriority,
               DATEDIFF('day', CAST(o.o_orderdate AS DATE),
                        CAST(l.l_shipdate AS DATE))
        FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
        """
    ).fetchall()
    per: dict[str, list[int]] = {}
    for pr, lag in rows:
        per.setdefault(pr, []).append(int(lag))
    out = {r.priority: r for r in _REGISTRY["q392_shipping_lag_slo"].fn(spark, SF_DIR).collect()}
    assert set(out) == set(per)
    for pr, lags in per.items():
        lags.sort()
        n = len(lags)
        r = out[pr]
        assert r.n_lineitems == n
        for pct, col in [(50, r.p50_days), (95, r.p95_days), (99, r.p99_days)]:
            assert col == lags[(pct * n + 99) // 100 - 1]
        assert r.max_days == lags[-1]
        assert r.over_90d_ppm == sum(1 for v in lags if v > 90) * 1_000_000 // n
        assert r.p50_days <= r.p95_days <= r.p99_days <= r.max_days
