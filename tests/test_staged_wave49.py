"""Wave-49 catalog entries (plans/llm_ops48.py): python replays of the
retention matrix, the leaderboard churn summary, and the drawdown
scan."""

from __future__ import annotations

from airflow_scraping_etl_tutorial_spark.plans import llm_ops48  # noqa: F401  (registers)
from airflow_scraping_etl_tutorial_spark.plans.registry import _REGISTRY

SF_DIR = "/root/testdata/sf0.001"


# ---------------------------------------------------------------------------
# Replays and invariants
# ---------------------------------------------------------------------------


def _user_days(duck):
    rows = duck.sql(
        "SELECT user_id, DATEDIFF('day', DATE '1970-01-01',"
        " CAST(ts AS DATE)) FROM events"
    ).fetchall()
    return rows


def test_cohort_retention_python_replay(spark, duck):
    rows = _user_days(duck)
    weeks: dict[int, set[int]] = {}
    for uid, day in rows:
        weeks.setdefault(uid, set()).add(day // 7)
    cohort = {u: min(ws) for u, ws in weeks.items()}
    sizes: dict[int, int] = {}
    for u, c in cohort.items():
        sizes[c] = sizes.get(c, 0) + 1
    cells: dict[tuple[int, int], int] = {}
    for u, ws in weeks.items():
        for w in ws:
            key = (cohort[u], w - cohort[u])
            cells[key] = cells.get(key, 0) + 1
    out = {(r.cohort_week, r.offset_weeks): r for r in _REGISTRY["q387_cohort_retention"].fn(spark, SF_DIR).collect()}
    assert set(out) == set(cells)
    for (cw, off), retained in cells.items():
        r = out[(cw, off)]
        assert (r.cohort_size, r.retained) == (sizes[cw], retained)
        assert r.retained_ppm == retained * 1_000_000 // sizes[cw]
    # offset 0 is full retention by construction
    for (cw, off), _ in cells.items():
        if off == 0:
            assert out[(cw, 0)].retained_ppm == 1_000_000


def test_leaderboard_churn_python_replay(spark, duck):
    rows = _user_days(duck)
    days = [d for _, d in rows]
    mid = (min(days) + max(days) + 1) // 2
    ca: dict[int, int] = {}
    cb: dict[int, int] = {}
    for uid, d in rows:
        tgt = ca if d < mid else cb
        tgt[uid] = tgt.get(uid, 0) + 1
    ta = sorted(ca, key=lambda u: (-ca[u], u))[:20]
    tb = sorted(cb, key=lambda u: (-cb[u], u))[:20]
    stay = set(ta) & set(tb)
    r = _REGISTRY["q388_topk_leaderboard_churn"].fn(spark, SF_DIR).collect()[0]
    assert (r.k, r.n_a, r.n_b, r.n_stayed) == (20, len(ta), len(tb), len(stay))
    assert (r.n_left, r.n_entered) == (len(ta) - len(stay), len(tb) - len(stay))
    union = len(ta) + len(tb) - len(stay)
    assert r.jaccard_ppm == len(stay) * 1_000_000 // union
    if stay:
        ra = {u: i + 1 for i, u in enumerate(ta)}
        rb = {u: i + 1 for i, u in enumerate(tb)}
        assert r.max_rank_shift == max(abs(ra[u] - rb[u]) for u in stay)
    else:
        assert r.max_rank_shift == -1


def test_max_drawdown_python_replay(spark, duck):
    rows = duck.sql(
        "SELECT event_type, DATEDIFF('day', DATE '1970-01-01',"
        " CAST(ts AS DATE)) AS day, COUNT(*) FROM events GROUP BY 1, 2"
    ).fetchall()
    per: dict[str, list] = {}
    for et, day, c in rows:
        per.setdefault(et, []).append((day, c))
    out = {r.event_type: r for r in _REGISTRY["q389_activity_max_drawdown"].fn(spark, SF_DIR).collect()}
    assert set(out) == set(per)
    for et, series in per.items():
        series.sort()
        peak = 0
        best = (-1, None, None, None)  # (dd, day, c, peak)
        for day, c in series:
            peak = max(peak, c)
            dd = peak - c
            if dd > best[0]:
                best = (dd, day, c, peak)
        r = out[et]
        assert (r.max_drawdown, r.trough_day) == (best[0], best[1])
        assert (r.trough_count, r.peak_count) == (best[2], best[3])
        assert r.drawdown_ppm == (
            0 if best[3] == 0 else best[0] * 1_000_000 // best[3]
        )
        assert 0 <= r.drawdown_ppm <= 1_000_000
