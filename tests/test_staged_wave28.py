"""Wave-28 catalog entries (plans/llm_ops27.py): python replays of the
ANOVA sum-of-squares decomposition, the gains-curve decile
accounting, and the cross-multiplied KS maximum, with their structural
invariants."""

from __future__ import annotations

import hashlib

from airflow_scraping_etl_tutorial_spark.plans import llm_ops27  # noqa: F401  (registers)
from airflow_scraping_etl_tutorial_spark.plans.registry import _REGISTRY

SF_DIR = "/root/testdata/sf0.001"


# ---------------------------------------------------------------------------
# Python replays
# ---------------------------------------------------------------------------


def test_anova_replay(spark, duck):
    (r,) = _REGISTRY["q322_anova_source_lengths"].fn(spark, SF_DIR).collect()
    rows = duck.sql(
        "SELECT source, n_chars FROM documents"
    ).fetchall()
    groups: dict[str, list[int]] = {}
    for s, x in rows:
        groups.setdefault(s, []).append(x)
    n = len(rows)
    k = len(groups)
    s_tot = sum(x for _, x in rows)
    q_tot = sum(x * x for _, x in rows)
    fit = sum(sum(g) ** 2 // len(g) for g in groups.values())
    ss_b = fit - s_tot**2 // n
    ss_w = q_tot - fit
    assert (r.k_groups, r.n_docs) == (k, n)
    assert r.ss_between == ss_b
    assert r.ss_within == ss_w
    assert r.eta2_ppm == ss_b * 10**6 // (q_tot - s_tot**2 // n)
    assert r.f_micro == ss_b * (n - k) * 10**6 // (ss_w * (k - 1))
    # decomposition adds up (within integer truncation slack <= k)
    assert abs((ss_b + ss_w) - (q_tot - s_tot**2 // n)) <= k
    assert r.ss_between >= 0 and r.ss_within > 0


def test_gains_curve_replay(spark, duck):
    rows = sorted(
        _REGISTRY["q323_gains_curve"].fn(spark, SF_DIR).collect(),
        key=lambda r: r.decile,
    )
    u = duck.sql(
        "SELECT user_id, COUNT(*),"
        " MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)"
        " FROM events GROUP BY 1"
    ).fetchall()
    ranked = sorted(u, key=lambda t: (-t[1], t[0]))
    n = len(ranked)
    total_p = sum(p for _, _, p in ranked)
    want: dict[int, list[int]] = {}
    for i, (_, _, p) in enumerate(ranked):
        d = i * 10 // n
        agg = want.setdefault(d, [0, 0])
        agg[0] += 1
        agg[1] += p
    assert [r.decile for r in rows] == sorted(want)
    cum = 0
    for r in rows:
        nu, np_ = want[r.decile]
        assert r.n_users == nu
        assert r.n_purchasers == np_
        cum += np_
        assert r.cum_capture_ppm == cum * 10**6 // total_p
    # the full curve captures everyone
    assert rows[-1].cum_capture_ppm == 10**6
    # curve is non-decreasing
    for lo, hi in zip(rows, rows[1:]):
        assert hi.cum_capture_ppm >= lo.cum_capture_ppm


def test_ks_replay_and_null_envelope(spark, duck):
    (r,) = _REGISTRY["q324_ks_two_sample"].fn(spark, SF_DIR).collect()
    ev = duck.sql(
        "SELECT user_id, value FROM events WHERE value IS NOT NULL"
    ).fetchall()
    width = 1000.0 / 256

    def binof(v: float) -> int:
        import math

        return min(255, max(0, int(math.floor((v - 0.0) / width))))

    c1 = [0] * 256
    c0 = [0] * 256
    for uid, v in ev:
        g = 1 if hashlib.md5(f"{uid}:exp".encode()).hexdigest()[0] < "8" else 0
        (c1 if g else c0)[binof(v)] += 1
    n1, n0 = sum(c1), sum(c0)
    k1 = k0 = 0
    gaps = []
    for b in range(256):
        k1 += c1[b]
        k0 += c0[b]
        gaps.append((abs(k1 * n0 - k0 * n1), b))
    d = max(g for g, _ in gaps)
    argmax = min(b for g, b in gaps if g == d)
    assert (r.n_treat, r.n_control) == (n1, n0)
    assert r.d_scaled == d
    assert r.argmax_bin == argmax
    assert r.ks_micro == d * 10**6 // (n1 * n0)
    # null md5 split: KS distance should be small (value dist is
    # identical across cohorts by construction) — generous envelope
    assert r.ks_micro < 200_000
