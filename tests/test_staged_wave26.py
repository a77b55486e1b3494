"""Wave-26 catalog entries (plans/llm_ops25.py): python replays of the
integer value-iteration, the Hill sum, and the follow-the-leader
policy walk, and the structural invariants (reach monotone in k; FTL
regret equals best-minus-policy everywhere)."""

from __future__ import annotations

import math

from airflow_scraping_etl_tutorial_spark.plans import llm_ops25  # noqa: F401  (registers)
from airflow_scraping_etl_tutorial_spark.plans.registry import _REGISTRY

SF_DIR = "/root/testdata/sf0.001"


# ---------------------------------------------------------------------------
# Python replays
# ---------------------------------------------------------------------------


def test_markov_reach_replay_and_monotonicity(spark, duck):
    rows = _REGISTRY["q317_markov_absorption_reach"].fn(spark, SF_DIR).collect()
    trans = duck.sql(
        """
        WITH nxt AS (
          SELECT event_type AS f,
                 LEAD(event_type) OVER (PARTITION BY user_id
                                        ORDER BY ts, event_id) AS t
          FROM events
        )
        SELECT f, t, COUNT(*) FROM nxt WHERE t IS NOT NULL GROUP BY f, t
        """
    ).fetchall()
    states = {s for (s,) in duck.sql(
        "SELECT DISTINCT event_type FROM events").fetchall()}
    out_tot: dict[str, int] = {}
    for f, t, n in trans:
        out_tot[f] = out_tot.get(f, 0) + n
    p = {(f, t): n * 10**6 // out_tot[f] for f, t, n in trans}
    v = {s: (10**6 if s == "purchase" else 0) for s in states}
    want = {}
    for k in range(1, 5):
        nv = {}
        for s in states:
            if s == "purchase":
                nv[s] = 10**6
            else:
                nv[s] = sum(
                    p.get((s, t), 0) * v[t] for t in states
                ) // 10**6
        v = nv
        for s in states:
            want[(s, k)] = v[s]
    got = {(r.from_state, r.k): r.reach_ppm for r in rows}
    assert got == want
    # pinning the absorbing state makes reach monotone non-decreasing
    for s in states:
        for k in range(1, 4):
            assert got[(s, k + 1)] >= got[(s, k)]
        assert 0 <= got[(s, 1)] <= 10**6
    assert all(got[("purchase", k)] == 10**6 for k in range(1, 5))


def test_hill_replay(spark, duck):
    rows = sorted(
        _REGISTRY["q318_hill_tail_index"].fn(spark, SF_DIR).collect(),
        key=lambda r: r.k,
    )
    prices = duck.sql(
        "SELECT o_totalprice FROM orders"
        " ORDER BY o_totalprice DESC, o_orderkey LIMIT 101"
    ).fetchall()
    xs = [float(p) for (p,) in prices]
    for r in rows:
        k = r.k
        xk1 = xs[k]
        # centi-nat quantization: round-half-even like a DECIMAL cast
        s = sum(
            int(round(math.log(xs[i] / xk1) * 100)) for i in range(k)
        )
        assert abs(r.sum_ln_centinats - s) <= k  # python round vs SQL cast
        if r.sum_ln_centinats:
            assert r.alpha_micro == k * 100 * 10**6 // r.sum_ln_centinats
        # alpha is positive and in a plausible tail range
        assert r.alpha_micro > 0


def test_ftl_replay(spark, duck):
    rows = sorted(
        _REGISTRY["q319_follow_leader_regret"].fn(spark, SF_DIR).collect(),
        key=lambda r: r.day,
    )
    daily = duck.sql(
        """
        SELECT CAST(ts AS DATE) AS day, event_type,
               SUM(CASE WHEN value > 100 THEN 1 ELSE 0 END), COUNT(*)
        FROM events GROUP BY 1, 2 ORDER BY 1, 2
        """
    ).fetchall()
    days = sorted({d for d, _, _, _ in daily})
    arms = sorted({a for _, a, _, _ in daily})
    rate = {(d, a): w * 10**6 // p for d, a, w, p in daily}
    cw: dict[str, int] = {a: 0 for a in arms}
    cp: dict[str, int] = {a: 0 for a in arms}
    cum_policy = 0
    picks = {}
    for d in days:
        hist = {
            a: (cw[a] * 10**6 // cp[a] if cp[a] else -1)
            for a in arms
            if (d, a) in rate
        }
        best_hist = max(hist.values())
        chosen = min(a for a, h in hist.items() if h == best_hist)
        picks[d] = (chosen, rate[(d, chosen)])
        cum_policy += rate[(d, chosen)]
        for _, a, w, p in (x for x in daily if x[0] == d):
            cw[a] += w
            cp[a] += p
    totals = {
        a: sum(rate[(d, a)] for d in days if (d, a) in rate) for a in arms
    }
    best_total = max(totals.values())
    best_arm = min(a for a, t in totals.items() if t == best_total)
    cum_b = cum_p = 0
    for r in rows:
        chosen, prate = picks[r.day]
        assert r.chosen_arm == chosen
        assert r.policy_rate_ppm == prate
        cum_p += prate
        cum_b += rate.get((r.day, best_arm), 0)
        assert r.cum_policy_ppm == cum_p
        assert r.cum_best_ppm == cum_b
        assert r.regret_ppm == cum_b - cum_p
    assert len(rows) == len(days)
