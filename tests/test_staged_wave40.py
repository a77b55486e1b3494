"""Wave-40 catalog entries (plans/llm_ops39.py): python replays of the
signed-rank statistic, the Cochran-Q identity, and the winsorized
means."""

from __future__ import annotations

from airflow_scraping_etl_tutorial_spark.plans import llm_ops39  # noqa: F401  (registers)
from airflow_scraping_etl_tutorial_spark.plans.registry import _REGISTRY

SF_DIR = "/root/testdata/sf0.001"


# ---------------------------------------------------------------------------
# Python replays
# ---------------------------------------------------------------------------


def test_wilcoxon_python_replay(spark, duck):
    daily = dict(
        duck.sql(
            "SELECT CAST(ts AS DATE), COUNT(*) FROM events GROUP BY 1"
        ).fetchall()
    )
    import datetime

    diffs = [
        daily[d + datetime.timedelta(days=7)] - c
        for d, c in daily.items()
        if d + datetime.timedelta(days=7) in daily
    ]
    nz = [d for d in diffs if d != 0]
    n = len(nz)
    # doubled midranks per distinct |diff|
    from collections import Counter

    cnt = Counter(abs(d) for d in nz)
    s2 = 0
    tie3 = 0
    l = 0
    for ad in sorted(cnt):
        t = cnt[ad]
        t_pos = sum(1 for d in nz if d == ad)
        s2 += t_pos * (2 * l + t + 1)
        tie3 += t * t * t - t
        l += t
    r = _REGISTRY["q360_wilcoxon_signed_rank"].fn(spark, SF_DIR).collect()[0]
    assert (r.n, r.n_pos) == (n, sum(1 for d in nz if d > 0))
    assert r.twice_w_plus == s2
    d_c = 2 * s2 - n * (n + 1)
    assert r.d_centered == d_c
    den = 2 * n * (n + 1) * (2 * n + 1) - tie3
    assert r.z2_milli == (3000 * d_c * d_c // den if den else 0)
    assert r.reject_95 == int(3000 * d_c * d_c > 3841 * den)
    # a stationary fixture must not show a weekly drift
    assert r.reject_95 == 0
    # W+ bounds: 2*W+ in [0, n(n+1)]
    assert 0 <= r.twice_w_plus <= n * (n + 1)


def test_cochran_q_identities(spark):
    r = _REGISTRY["q361_cochran_q_raters"].fn(spark, SF_DIR).collect()[0]
    t = r.g1 + r.g2 + r.g3
    assert r.sum_l == t
    # L_i in {0..3}: Sum(L^2) bounded by 3*Sum(L) and >= Sum(L)^2/n
    assert t <= r.sum_l2 <= 3 * t
    q_num = 2 * (3 * (r.g1**2 + r.g2**2 + r.g3**2) - t * t)
    q_den = 3 * t - r.sum_l2
    assert q_num >= 0 and q_den >= 0
    assert r.q_milli == (1000 * q_num // q_den if q_den else 0)
    assert r.reject_95 == int(1000 * q_num > 5991 * q_den)
    # the three raters have wildly different keep-rates on this
    # fixture (length gate ~100%, en-detectors ~40%): Q must fire
    assert r.reject_95 == 1


def test_winsorized_python_replay(spark, duck):
    rows = duck.sql(
        """
        SELECT event_type, CAST(ts AS DATE) AS day, COUNT(*) AS c
        FROM events GROUP BY 1, 2
        """
    ).fetchall()
    by_type: dict[str, list] = {}
    for et, day, c in rows:
        by_type.setdefault(et, []).append((c, day))
    out = {
        r.event_type: r
        for r in _REGISTRY["q362_winsorized_daily_mean"].fn(spark, SF_DIR).collect()
    }
    assert set(out) == set(by_type)
    for et, vals in by_type.items():
        vals.sort()
        n = len(vals)
        lo = vals[(n + 9) // 10 - 1][0]
        hi = vals[(9 * n + 9) // 10 - 1][0]
        cs = [c for c, _ in vals]
        ws = [min(max(c, lo), hi) for c in cs]
        r = out[et]
        assert (r.n_days, r.p10_cut, r.p90_cut) == (n, lo, hi)
        assert r.n_clamped == sum(1 for c in cs if c < lo or c > hi)
        assert r.raw_mean_micro == sum(cs) * 1_000_000 // n
        assert r.wins_mean_micro == sum(ws) * 1_000_000 // n
        # the winsorized mean sits inside the clamp band
        assert lo * 1_000_000 <= r.wins_mean_micro <= hi * 1_000_000
