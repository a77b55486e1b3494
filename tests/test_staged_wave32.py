"""Wave-32 catalog entry (plans/llm_ops31.py): a python replay of the
conformal order statistic and coverage count, and the
marginal-coverage envelope."""

from __future__ import annotations

import hashlib

from airflow_scraping_etl_tutorial_spark.plans import llm_ops31  # noqa: F401  (registers)
from airflow_scraping_etl_tutorial_spark.plans.registry import _REGISTRY

SF_DIR = "/root/testdata/sf0.001"


def test_conformal_replay_and_coverage_envelope(spark, duck):
    (r,) = _REGISTRY["q331_conformal_coverage"].fn(spark, SF_DIR).collect()
    rows = duck.sql(
        """
        SELECT user_id,
               SUM(CASE WHEN CAST(ts AS DATE) < DATE '2024-01-16'
                   THEN 1 ELSE 0 END) * 1000000 // 15,
               SUM(CASE WHEN CAST(ts AS DATE) >= DATE '2024-01-16'
                   THEN 1 ELSE 0 END) * 1000000 // 15
        FROM events GROUP BY user_id
        """
    ).fetchall()

    def is_cal(uid: int) -> bool:
        return hashlib.md5(f"{uid}:conf".encode()).hexdigest()[0] < "8"

    cal = sorted(
        (abs(a - p), uid) for uid, p, a in rows if is_cal(uid)
    )
    test = [(abs(a - p), uid) for uid, p, a in rows if not is_cal(uid)]
    n_cal = len(cal)
    rk = min(((n_cal + 1) * 90 + 99) // 100, n_cal)
    q = cal[rk - 1][0]
    covered = sum(1 for s, _ in test if s <= q)
    assert r.n_cal == n_cal
    assert r.n_test == len(test)
    assert r.q_micro == q
    assert r.n_covered == covered
    assert r.coverage_ppm == covered * 10**6 // len(test)
    assert r.nominal_ppm == 900_000
    # exchangeable md5 split: empirical coverage should sit at or
    # above nominal minus finite-sample slack (generous envelope for
    # the tiny sf0.001 cohort)
    assert r.coverage_ppm >= 600_000
    # the radius is an actual calibration score (non-negative int)
    assert r.q_micro >= 0
