"""Wave-31 catalog entries (plans/llm_ops30.py): python replays of the
minimax PAV and the reliability/ECE arithmetic, and the calibration
invariants (isotonic fit is monotone non-increasing and is the
identity on an already-monotone segment; ECE is the weighted mean of
the gaps)."""

from __future__ import annotations

from airflow_scraping_etl_tutorial_spark.plans import llm_ops30  # noqa: F401  (registers)
from airflow_scraping_etl_tutorial_spark.plans.registry import _REGISTRY

SF_DIR = "/root/testdata/sf0.001"


# ---------------------------------------------------------------------------
# Python replays
# ---------------------------------------------------------------------------


def _bins(duck, conv_filter: str, split=None):
    if split is None:
        rows = duck.sql(
            f"""
            SELECT user_id, COUNT(*) AS activity,
                   MAX(CASE WHEN {conv_filter} THEN 1 ELSE 0 END) AS conv
            FROM events GROUP BY user_id
            """
        ).fetchall()
    else:
        rows = duck.sql(
            f"""
            WITH pre AS (
              SELECT user_id, COUNT(*) AS activity FROM events
              WHERE CAST(ts AS DATE) < DATE '{split}' GROUP BY user_id
            ),
            post AS (
              SELECT user_id,
                     MAX(CASE WHEN {conv_filter} THEN 1 ELSE 0 END) AS conv
              FROM events WHERE CAST(ts AS DATE) >= DATE '{split}'
              GROUP BY user_id
            )
            SELECT user_id, activity, conv FROM pre JOIN post USING (user_id)
            """
        ).fetchall()
    ranked = sorted(rows, key=lambda t: (-t[1], t[0]))
    n = len(ranked)
    bins: dict[int, list[int]] = {}
    for i, (_, _, c) in enumerate(ranked):
        b = i * 10 // n
        agg = bins.setdefault(b, [0, 0])
        agg[0] += 1
        agg[1] += c
    return bins


def test_isotonic_replay_and_monotonicity(spark, duck):
    rows = sorted(
        _REGISTRY["q329_isotonic_calibration"].fn(spark, SF_DIR).collect(),
        key=lambda r: r.decile,
    )
    bins = _bins(duck, "event_type = 'purchase'")
    ks = sorted(bins)
    w = [bins[k][0] for k in ks]
    s = [bins[k][1] for k in ks]
    k = len(ks)

    def avg(j, l):
        return sum(s[j : l + 1]) * 10**6 // sum(w[j : l + 1])

    iso = []
    for i in range(k):
        iso.append(
            min(
                max(avg(j, l) for l in range(i, k))
                for j in range(0, i + 1)
            )
        )
    for r in rows:
        assert r.n_users == w[r.decile]
        assert r.raw_rate_ppm == s[r.decile] * 10**6 // w[r.decile]
        assert r.iso_rate_ppm == iso[r.decile]
    # the fit is monotone non-increasing by construction
    for lo, hi in zip(rows, rows[1:]):
        assert hi.iso_rate_ppm <= lo.iso_rate_ppm
    # where the raw curve is already monotone at the ends, the fit
    # can only pool toward the violators, never above the max raw
    assert max(r.iso_rate_ppm for r in rows) <= max(
        r.raw_rate_ppm for r in rows
    )
    assert min(r.iso_rate_ppm for r in rows) >= min(
        r.raw_rate_ppm for r in rows
    )


def test_reliability_ece_replay(spark, duck):
    rows = sorted(
        _REGISTRY["q330_reliability_ece"].fn(spark, SF_DIR).collect(),
        key=lambda r: r.bin,
    )
    users = duck.sql(
        """
        WITH pre AS (
          SELECT user_id, COUNT(*) AS activity FROM events
          WHERE CAST(ts AS DATE) < DATE '2024-01-16' GROUP BY user_id
        ),
        post AS (
          SELECT user_id,
                 SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                   AS p,
                 COUNT(*) AS e
          FROM events WHERE CAST(ts AS DATE) >= DATE '2024-01-16'
          GROUP BY user_id
        )
        SELECT user_id, activity, p, e FROM pre JOIN post USING (user_id)
        """
    ).fetchall()
    ranked = sorted(users, key=lambda t: (-t[1], t[0]))
    n = len(ranked)
    bins: dict[int, list[int]] = {}
    for i, (_, _, p, e) in enumerate(ranked):
        b = i * 10 // n
        agg = bins.setdefault(b, [0, 0, 0])
        agg[0] += 1
        agg[1] += p
        agg[2] += e
    tw = sum(v[0] for v in bins.values())
    base = sum(v[1] for v in bins.values()) * 10**6 // sum(
        v[2] for v in bins.values()
    )
    ece = (
        sum(
            abs(v[1] * 10**6 // v[2] - base) * v[0] for v in bins.values()
        )
        // tw
    )
    for r in rows:
        wk, sk, tk = bins[r.bin]
        assert r.n_users == wk
        assert r.predicted_ppm == base
        assert r.actual_ppm == sk * 10**6 // tk
        assert r.gap_ppm == abs(r.actual_ppm - base)
        assert r.ece_ppm == ece
    # flat predictor on a non-flat truth: ECE positive (the share
    # metric cannot saturate the way the any-purchase flag does)
    assert rows[0].ece_ppm > 0
