"""Wave-59 catalog entries (plans/llm_ops58.py): python replays of the
sign arithmetic, the inverse-Simpson index, and the circular windows."""

from __future__ import annotations

import hashlib

from airflow_scraping_etl_tutorial_spark.plans import llm_ops58  # noqa: F401  (registers)
from airflow_scraping_etl_tutorial_spark.plans.llm_ops58 import _PEAK_HOURS
from airflow_scraping_etl_tutorial_spark.plans.registry import _REGISTRY

SF_DIR = "/root/testdata/sf0.001"


# ---------------------------------------------------------------------------
# Replays and invariants
# ---------------------------------------------------------------------------


def test_simpson_python_replay(spark, duck):
    rows = duck.sql(
        """
        SELECT user_id, COUNT(*),
               MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        FROM events GROUP BY user_id
        """
    ).fetchall()
    per: dict[int, list] = {}
    g = [0, 0, 0, 0]  # n_t, c_t, n_c, c_c
    for uid, n, conv in rows:
        t = 1 if hashlib.md5(f"{uid}:exp2".encode()).hexdigest()[0] < "8" else 0
        s = int(n).bit_length()
        agg = per.setdefault(s, [0, 0, 0, 0])
        if t:
            agg[0] += 1
            agg[1] += conv
            g[0] += 1
            g[1] += conv
        else:
            agg[2] += 1
            agg[3] += conv
            g[2] += 1
            g[3] += conv

    def sign(ct, nc, cc, nt):
        x, y = ct * nc, cc * nt
        return 1 if x > y else (-1 if x < y else 0)

    pooled = sign(g[1], g[2], g[3], g[0])
    out = {r.stratum: r for r in _REGISTRY["q417_simpson_reversal"].fn(spark, SF_DIR).collect()}
    assert set(out) == set(per)
    for s, (n_t, c_t, n_c, c_c) in per.items():
        r = out[s]
        assert (r.n_t, r.c_t, r.n_c, r.c_c) == (n_t, c_t, n_c, c_c)
        assert r.stratum_sign == sign(c_t, n_c, c_c, n_t)
        assert r.pooled_sign == pooled
        assert r.reversed == (
            1
            if n_t > 0 and n_c > 0 and r.stratum_sign * pooled == -1
            else 0
        )


def test_effective_variety_python_replay(spark, duck):
    rows = duck.sql(
        "SELECT user_id, event_type, COUNT(*) FROM events GROUP BY 1, 2"
    ).fetchall()
    per: dict[int, dict] = {}
    for uid, et, c in rows:
        per.setdefault(uid, {})[et] = int(c)
    buckets: dict[int, list] = {}
    for counts in per.values():
        n = sum(counts.values())
        s2 = sum(c * c for c in counts.values())
        d = n * n * 1_000_000 // s2
        buckets.setdefault(d // 1_000_000, []).append((len(counts), d))
    out = {r.variety_floor: r for r in _REGISTRY["q418_user_effective_variety"].fn(spark, SF_DIR).collect()}
    assert set(out) == set(buckets)
    for fl, vals in buckets.items():
        r = out[fl]
        assert r.n_users == len(vals)
        assert r.mean_raw_types_micro == sum(t for t, _ in vals) * 1_000_000 // len(vals)
        assert r.mean_d_micro == sum(d for _, d in vals) // len(vals)
        assert r.min_d_micro == min(d for _, d in vals)
        assert r.max_d_micro == max(d for _, d in vals)
        # effective variety never exceeds raw type count
        assert r.max_d_micro <= 1_000_000 * max(t for t, _ in vals)


def test_peak_window_python_replay(spark, duck):
    rows = duck.sql(
        "SELECT event_type, EXTRACT(HOUR FROM ts), COUNT(*) FROM events"
        " GROUP BY 1, 2"
    ).fetchall()
    per: dict[str, dict[int, int]] = {}
    for et, h, c in rows:
        per.setdefault(et, {})[int(h)] = int(c)
    out = {r.event_type: r for r in _REGISTRY["q419_peak_window_share"].fn(spark, SF_DIR).collect()}
    assert set(out) == set(per)
    for et, hours in per.items():
        n = sum(hours.values())
        best, best_start = -1, None
        for start in range(24):
            w = sum(hours.get((start + k) % 24, 0) for k in range(_PEAK_HOURS))
            if w > best:
                best, best_start = w, start
        r = out[et]
        assert (r.peak_start_h, r.peak_events, r.n_events) == (
            best_start,
            best,
            n,
        )
        assert r.peak_share_ppm == best * 1_000_000 // n
        assert r.flat_share_ppm == _PEAK_HOURS * 1_000_000 // 24
        # a 4-hour window cannot hold less than the flat share of a
        # best window (it is the max over windows)
        assert r.peak_share_ppm >= r.flat_share_ppm
