"""Wave-57 catalog entries (plans/llm_ops56.py): python replays of the
stump search, the partition loads, and the rolling burn windows."""

from __future__ import annotations

import hashlib

from airflow_scraping_etl_tutorial_spark.plans import llm_ops56  # noqa: F401  (registers)
from airflow_scraping_etl_tutorial_spark.plans.llm_ops56 import (
    _BUDGET_PPM,
    _BURN_WINDOW,
    _PART_WIDTHS,
)
from airflow_scraping_etl_tutorial_spark.plans.registry import _REGISTRY

SF_DIR = "/root/testdata/sf0.001"


# ---------------------------------------------------------------------------
# Replays and invariants
# ---------------------------------------------------------------------------


def test_decision_stump_python_replay(spark, duck):
    rows = duck.sql(
        "SELECT GREATEST(n_chars, 1), CASE WHEN lang = 'en' THEN 1 ELSE 0 END"
        " FROM documents"
    ).fetchall()
    data = [(int(nc).bit_length(), int(y)) for nc, y in rows]
    n = len(data)
    pos = sum(y for _, y in data)
    widths = sorted({w for w, _ in data})
    best = None
    for t in widths:
        nl = sum(1 for w, _ in data if w <= t)
        pl = sum(y for w, y in data if w <= t)
        nr, pr = n - nl, pos - pl
        if nl == 0 or nr == 0:
            continue
        num = nr * 2 * pl * (nl - pl) + nl * 2 * pr * (nr - pr)
        den = nl * nr
        key = num * 1_000_000 // den
        if best is None or key < best[0] or (key == best[0] and t < best[1]):
            best = (key, t, nl, pl, nr, pr, num, den)
    key, t, nl, pl, nr, pr, num, den = best
    r = _REGISTRY["q411_decision_stump"].fn(spark, SF_DIR).collect()[0]
    assert (r.threshold_w, r.n_left, r.pos_left) == (t, nl, pl)
    assert (r.n_right, r.pos_right) == (nr, pr)
    assert r.gini_before_micro == 2 * pos * (n - pos) * 1_000_000 // (n * n)
    assert r.gini_after_micro == num * 1_000_000 // (den * n)
    acc = max(pl, nl - pl) + max(pr, nr - pr)
    assert r.accuracy_ppm == acc * 1_000_000 // n
    # a split can only reduce (weighted) impurity
    assert r.gini_after_micro <= r.gini_before_micro


def test_partition_balance_python_replay(spark, duck):
    hs = [
        int(hashlib.md5(f"{u}:shuf".encode()).hexdigest()[:15], 16)
        for (u,) in duck.sql("SELECT user_id FROM events").fetchall()
    ]
    n = len(hs)
    out = {r.n_partitions: r for r in _REGISTRY["q412_hash_partition_balance"].fn(spark, SF_DIR).collect()}
    assert set(out) == set(_PART_WIDTHS)
    for p in _PART_WIDTHS:
        loads: dict[int, int] = {}
        for h in hs:
            loads[h % p] = loads.get(h % p, 0) + 1
        r = out[p]
        assert (r.nonempty, r.max_rows, r.min_rows) == (
            len(loads),
            max(loads.values()),
            min(loads.values()),
        )
        assert r.max_over_ideal_ppm == max(loads.values()) * p * 1_000_000 // n
        # skew never below ideal
        assert r.max_over_ideal_ppm >= 1_000_000


def test_error_budget_python_replay(spark, duck):
    rows = duck.sql(
        """
        SELECT DATEDIFF('day', DATE '1970-01-01', CAST(ts AS DATE)),
               COUNT(*),
               SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
        FROM events GROUP BY 1 ORDER BY 1
        """
    ).fetchall()
    days = [(int(d), int(nn), int(e)) for d, nn, e in rows]
    wins = []
    for i in range(_BURN_WINDOW - 1, len(days)):
        chunk = days[i - _BURN_WINDOW + 1 : i + 1]
        wn = sum(nn for _, nn, _ in chunk)
        we = sum(e for _, _, e in chunk)
        burn = (we * 1_000_000 // wn) * 1_000_000 // _BUDGET_PPM
        wins.append((days[i][0], wn, we, burn))
    r = _REGISTRY["q413_error_budget_burn"].fn(spark, SF_DIR).collect()[0]
    assert r.n_windows == len(wins)
    assert r.n_over_budget == sum(1 for *_, b in wins if b > 1_000_000)
    mb = max(b for *_, b in wins)
    assert r.max_burn_ppm == mb
    assert r.worst_day == min(d for d, _, _, b in wins if b == mb)
    swe = sum(we for _, _, we, _ in wins)
    swn = sum(wn for _, wn, _, _ in wins)
    assert r.overall_err_ppm == swe * 1_000_000 // swn
    # the fixture's ~20% uniform error mix burns a 5% budget hard
    assert r.n_over_budget == r.n_windows
