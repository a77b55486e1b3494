"""Wave-27 catalog entries (plans/llm_ops26.py): python replays of the
day-expansion rolling distinct (and its HLL companion's sanity
envelope) and the second-order-vs-chain conditional arithmetic."""

from __future__ import annotations

from airflow_scraping_etl_tutorial_spark.plans import llm_ops26  # noqa: F401  (registers)
from airflow_scraping_etl_tutorial_spark.plans.registry import _REGISTRY

SF_DIR = "/root/testdata/sf0.001"


# ---------------------------------------------------------------------------
# Python replays
# ---------------------------------------------------------------------------


def test_rolling_distinct_replay(spark, duck):
    rows = sorted(
        _REGISTRY["q320_rolling_distinct_audit"].fn(spark, SF_DIR).collect(),
        key=lambda r: r.window_end,
    )
    act = duck.sql(
        "SELECT DISTINCT user_id, CAST(ts AS DATE) FROM events"
    ).fetchall()
    days = sorted({d for _, d in act})
    max_day = max(days)
    import datetime

    want = {}
    for d in days:
        users = {
            u
            for u, ad in act
            if 0 <= (d - ad).days <= 6
        }
        want[d] = len(users)
    # windows exist for every day that terminates at least one window
    ends = sorted(
        {
            ad + datetime.timedelta(days=o)
            for _, ad in act
            for o in range(7)
            if ad + datetime.timedelta(days=o) <= max_day
        }
    )
    assert [r.window_end for r in rows] == ends
    for r in rows:
        assert r.exact_users == want[r.window_end]
        # HLL sanity envelope: small-count linear counting is tight —
        # within 30% of exact at these cardinalities, and positive
        assert r.hll_estimate > 0
        assert abs(r.hll_estimate - r.exact_users) <= max(
            3, 0.3 * r.exact_users
        )
    # trailing-week counts are >= any single day's active count
    daily = {}
    for u, ad in act:
        daily.setdefault(ad, set()).add(u)
    for d in days:
        if d in want:
            assert want[d] >= len(daily.get(d, set()))


def test_markov_order_replay(spark, duck):
    rows = _REGISTRY["q321_markov_order_audit"].fn(spark, SF_DIR).collect()
    seq = duck.sql(
        """
        SELECT a, b, c FROM (
          SELECT event_type AS a,
                 LEAD(event_type, 1) OVER w AS b,
                 LEAD(event_type, 2) OVER w AS c
          FROM events
          WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ) WHERE c IS NOT NULL
        """
    ).fetchall()
    tri: dict[tuple, int] = {}
    for t in seq:
        tri[t] = tri.get(t, 0) + 1
    ctx: dict[tuple, int] = {}
    bi: dict[tuple, int] = {}
    btot: dict[str, int] = {}
    for (a, b, c), n in tri.items():
        ctx[(a, b)] = ctx.get((a, b), 0) + n
        bi[(b, c)] = bi.get((b, c), 0) + n
        btot[b] = btot.get(b, 0) + n
    top5 = sorted(ctx, key=lambda k: (-ctx[k], k))[:5]
    want_rows = {
        (a, b, c)
        for (a, b, c) in tri
        if (a, b) in top5
    }
    assert {(r.a, r.b, r.c) for r in rows} == want_rows
    for r in rows:
        n_abc = tri[(r.a, r.b, r.c)]
        emp = n_abc * 10**6 // ctx[(r.a, r.b)]
        chain = bi[(r.b, r.c)] * 10**6 // btot[r.b]
        assert r.n_abc == n_abc
        assert r.emp_ppm == emp
        assert r.chain_ppm == chain
        assert r.ratio_micro == (emp * 10**6 // chain if chain else 0)
        assert 0 < r.emp_ppm <= 10**6
        assert 0 < r.chain_ppm <= 10**6
