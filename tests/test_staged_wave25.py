"""Wave-25 catalog entries (plans/llm_ops24.py): python replays of the
AMS sign sums, the exact join-order intermediate counts, and the
predicate-correlation arithmetic."""

from __future__ import annotations

import hashlib

from airflow_scraping_etl_tutorial_spark.plans import llm_ops24  # noqa: F401  (registers)
from airflow_scraping_etl_tutorial_spark.plans.registry import _REGISTRY

SF_DIR = "/root/testdata/sf0.001"


# ---------------------------------------------------------------------------
# Python replays
# ---------------------------------------------------------------------------


def _trunc_div(a: int, b: int) -> int:
    q = abs(a) // abs(b)
    return q if (a >= 0) == (b >= 0) else -q


def test_ams_replay_and_unbiasedness_shape(spark, duck):
    rows = sorted(
        _REGISTRY["q314_ams_selfjoin_estimate"].fn(spark, SF_DIR).collect(),
        key=lambda r: r.estimator,
    )
    freqs = dict(
        duck.sql(
            "SELECT user_id, COUNT(*) FROM events GROUP BY 1"
        ).fetchall()
    )
    f2 = sum(v * v for v in freqs.values())
    assert all(r.exact_f2 == f2 for r in rows)
    for j, r in enumerate(rows):
        s = 0
        for uid, fk in freqs.items():
            h = hashlib.md5(f"{uid}:ams{j}".encode()).hexdigest()
            sign = 1 if int(h[0], 16) % 2 == 0 else -1
            s += sign * fk
        assert r.estimator == j
        assert r.estimate == s * s
        assert r.err_ppm == _trunc_div((r.estimate - f2) * 10**6, f2)
    # unbiasedness shape: estimates straddle or touch the truth —
    # with 8 independent estimators, at least one on each side of or
    # equal to F2 would be typical; assert the weaker, deterministic
    # property that the estimates are not all wildly one-sided:
    assert min(r.estimate for r in rows) <= f2 * 10
    assert max(r.estimate for r in rows) >= f2 // 10


def test_join_order_replay(spark, duck):
    rows = {
        r.plan: r
        for r in _REGISTRY["q315_join_order_cost_audit"].fn(spark, SF_DIR).collect()
    }
    n = dict(
        zip(
            ("lo", "oc", "cn", "loc", "ocn"),
            duck.sql(
                """
        WITH o AS (SELECT o_orderkey, o_custkey FROM orders
                   WHERE CAST(o_orderdate AS DATE) < DATE '1995-01-01')
        SELECT
          (SELECT COUNT(*) FROM lineitem l JOIN o ON l.l_orderkey = o.o_orderkey),
          (SELECT COUNT(*) FROM o JOIN customer c ON o.o_custkey = c.c_custkey),
          (SELECT COUNT(*) FROM customer c JOIN nation x
             ON c.c_nationkey = x.n_nationkey),
          (SELECT COUNT(*) FROM lineitem l JOIN o ON l.l_orderkey = o.o_orderkey
             JOIN customer c ON o.o_custkey = c.c_custkey),
          (SELECT COUNT(*) FROM o JOIN customer c ON o.o_custkey = c.c_custkey
             JOIN nation x ON c.c_nationkey = x.n_nationkey)
        """
            ).fetchone(),
        )
    )
    want = {
        "L-O.C.N": (n["lo"], n["loc"]),
        "O-C.N.L": (n["oc"], n["ocn"]),
        "O-C.L.N": (n["oc"], n["loc"]),
        "C-N.O.L": (n["cn"], n["ocn"]),
    }
    assert set(rows) == set(want)
    for plan, (j1, j2) in want.items():
        r = rows[plan]
        assert (r.first_join_rows, r.second_join_rows) == (j1, j2)
        assert r.total_intermediate == j1 + j2
    # ranks agree with totals (ties share a rank; order by total, plan)
    ordered = sorted(rows.values(), key=lambda r: (r.total_intermediate, r.plan))
    for i, r in enumerate(ordered):
        expected_rank = 1 + sum(
            1
            for x in ordered
            if (x.total_intermediate, x.plan) < (r.total_intermediate, r.plan)
        )
        assert r.cost_rank == expected_rank


def test_predicate_correlation_replay(spark, duck):
    rows = {
        r.pair: r
        for r in _REGISTRY["q316_predicate_correlation_audit"]
        .fn(spark, SF_DIR)
        .collect()
    }
    ev = duck.sql(
        "SELECT event_type, CAST(ts AS DATE) - DATE '2024-01-01', value"
        " FROM events"
    ).fetchall()
    n = len(ev)
    preds = {
        "purchase_x_weekend": (
            lambda t, d, v: t == "purchase",
            lambda t, d, v: d % 7 in (5, 6),
        ),
        "purchase_x_highvalue": (
            lambda t, d, v: t == "purchase",
            lambda t, d, v: v is not None and v > 100,
        ),
        "click_x_firstweek": (
            lambda t, d, v: t == "click",
            lambda t, d, v: d < 7,
        ),
    }
    assert set(rows) == set(preds)
    for pair, (fa, fb) in preds.items():
        na = sum(1 for e in ev if fa(*e))
        nb = sum(1 for e in ev if fb(*e))
        nab = sum(1 for e in ev if fa(*e) and fb(*e))
        r = rows[pair]
        assert r.sel_a_ppm == na * 10**6 // n
        assert r.sel_b_ppm == nb * 10**6 // n
        assert r.independent_ppm == na * nb * 10**6 // (n * n)
        assert r.actual_ppm == nab * 10**6 // n
        want_corr = 0 if na * nb == 0 else nab * n * 10**6 // (na * nb)
        assert r.correlation_micro == want_corr
