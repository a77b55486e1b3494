"""Wave-29 catalog entries (plans/llm_ops28.py): python replays of the
doubled-U accounting and the BH step-up, and their null-control
envelopes."""

from __future__ import annotations

import hashlib
import math

from airflow_scraping_etl_tutorial_spark.plans import llm_ops28  # noqa: F401  (registers)
from airflow_scraping_etl_tutorial_spark.plans.registry import _REGISTRY

SF_DIR = "/root/testdata/sf0.001"


# ---------------------------------------------------------------------------
# Python replays
# ---------------------------------------------------------------------------


def _gate(uid: int, salt: str) -> int:
    return 1 if hashlib.md5(f"{uid}{salt}".encode()).hexdigest()[0] < "8" else 0


def test_mann_whitney_replay_and_null(spark, duck):
    (r,) = _REGISTRY["q325_mann_whitney_binned"].fn(spark, SF_DIR).collect()
    ev = duck.sql(
        "SELECT user_id, value FROM events WHERE value IS NOT NULL"
    ).fetchall()
    width = 1000.0 / 256
    c1 = [0] * 256
    c0 = [0] * 256
    for uid, v in ev:
        b = min(255, max(0, int(math.floor(v / width))))
        (c1 if _gate(uid, ":exp") else c0)[b] += 1
    n1, n0 = sum(c1), sum(c0)
    cum0 = 0
    u2 = 0
    for b in range(256):
        u2 += 2 * c1[b] * cum0 + c1[b] * c0[b]
        cum0 += c0[b]
    assert (r.n_treat, r.n_control) == (n1, n0)
    assert r.u_times2 == u2
    assert r.auc_ppm == u2 * 10**6 // (2 * n1 * n0)
    # null split: AUC near 1/2 (same value distribution by design)
    assert abs(r.auc_ppm - 500_000) < 100_000


def test_bh_fdr_replay_and_null(spark, duck):
    rows = sorted(
        _REGISTRY["q326_bh_fdr_control"].fn(spark, SF_DIR).collect(),
        key=lambda r: r.p_rank,
    )
    pairs = duck.sql(
        "SELECT DISTINCT user_id, event_type FROM events"
    ).fetchall()
    users = sorted({u for u, _ in pairs})
    types = sorted({t for _, t in pairs})
    t_of = {u: _gate(u, ":exp2") for u in users}
    n1 = sum(t_of.values())
    n2 = len(users) - n1
    want_p = {}
    for et in types:
        us = [u for u, t in pairs if t == et]
        x1 = sum(t_of[u] for u in us)
        x2 = len(us) - x1
        obs = abs(x1 * n2 - x2 * n1)
        extreme = 0
        for b in range(32):
            g = {u: _gate(u, f":perm{b}") for u in users}
            m1 = sum(g.values())
            m2 = len(users) - m1
            y1 = sum(g[u] for u in us)
            y2 = len(us) - y1
            if m1 == 0 or m2 == 0:
                extreme += 1
            elif abs(y1 * m2 - y2 * m1) * (n1 * n2) >= obs * (m1 * m2):
                extreme += 1
        want_p[et] = 10**6 * (extreme + 1) // 33
    assert {r.event_type: r.p_value_ppm for r in rows} == want_p
    # BH step-up replay
    m = len(types)
    ordered = sorted(want_p.items(), key=lambda kv: (kv[1], kv[0]))
    k_star = 0
    for i, (_, p) in enumerate(ordered, start=1):
        if p * m <= i * 50_000:
            k_star = i
    for r in rows:
        assert r.rejected == (r.p_rank <= k_star)
    # null md5 treatment: expect no rejections at FDR 0.05
    assert not any(r.rejected for r in rows)
    # ranks are a permutation of 1..m
    assert sorted(r.p_rank for r in rows) == list(range(1, m + 1))
