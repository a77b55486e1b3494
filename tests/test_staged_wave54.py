"""Wave-54 catalog entries (plans/llm_ops53.py): python replays of the
matrix expectations, the lagged slopes, and a brute-force itemset
count."""

from __future__ import annotations

from airflow_scraping_etl_tutorial_spark.plans import llm_ops53  # noqa: F401  (registers)
from airflow_scraping_etl_tutorial_spark.plans.llm_ops import _sql_minhash_pairs
from airflow_scraping_etl_tutorial_spark.plans.llm_ops53 import _LAGS, _MIN_SUPPORT
from airflow_scraping_etl_tutorial_spark.plans.registry import _REGISTRY

SF_DIR = "/root/testdata/sf0.001"


# ---------------------------------------------------------------------------
# Replays and invariants
# ---------------------------------------------------------------------------


def test_cross_source_matrix_python_replay(spark, duck):
    pairs = duck.sql(
        f"WITH {_sql_minhash_pairs(0.5)} SELECT doc_id_a, doc_id_b FROM pairs"
    ).fetchall()
    src = dict(duck.sql("SELECT doc_id, source FROM documents").fetchall())
    counts = dict(
        duck.sql("SELECT source, COUNT(*) FROM documents GROUP BY 1").fetchall()
    )
    n = sum(counts.values())
    m = len(pairs)
    cells: dict[tuple, int] = {}
    for a, b in pairs:
        key = tuple(sorted((src[a], src[b])))
        cells[key] = cells.get(key, 0) + 1
    out = {(r.source_a, r.source_b): r for r in _REGISTRY["q402_cross_source_dup_matrix"].fn(spark, SF_DIR).collect()}
    srcs = sorted(counts)
    expect_keys = {(a, b) for a in srcs for b in srcs if a <= b}
    assert set(out) == expect_keys
    for (a, b), r in out.items():
        obs = cells.get((a, b), 0)
        w = counts[a] * counts[a] if a == b else 2 * counts[a] * counts[b]
        exp_ppm = w * 1_000_000 // (n * n)
        assert (r.n_pairs, r.obs_ppm, r.exp_ppm) == (obs, obs * 1_000_000 // m, exp_ppm)
        assert r.lift_ppm == (
            -1 if exp_ppm == 0 else (obs * 1_000_000 // m) * 1_000_000 // exp_ppm
        )
    # near-dups concentrate within a source: some diagonal lift beats 1
    assert any(
        r.lift_ppm > 1_000_000 for (a, b), r in out.items() if a == b
    )


def test_lead_lag_python_replay(spark, duck):
    rows = duck.sql(
        """
        SELECT DATEDIFF('day', DATE '1970-01-01', CAST(ts AS DATE)),
               SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END),
               SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        FROM events GROUP BY 1
        """
    ).fetchall()
    x = {d: int(c) for d, c, _ in rows}
    y = {d: int(p) for d, _, p in rows}
    out = {r.lag: r for r in _REGISTRY["q403_daily_lead_lag"].fn(spark, SF_DIR).collect()}
    assert set(out) == set(_LAGS)
    for lag in _LAGS:
        pts = [(x[d], y[d + lag]) for d in x if d + lag in y]
        n = len(pts)
        sx = sum(a for a, _ in pts)
        sy = sum(b for _, b in pts)
        sxx = sum(a * a for a, _ in pts)
        sxy = sum(a * b for a, b in pts)
        num, den = n * sxy - sx * sy, n * sxx - sx * sx
        r = out[lag]
        assert r.n == n
        assert r.beta_sign == (1 if num > 0 else (-1 if num < 0 else 0))
        assert r.beta_abs_ppm == (0 if den == 0 else abs(num) * 1_000_000 // den)
    # lag 0 pairs every day; nonzero lags lose |lag| edge days
    assert all(out[lag].n == out[0].n - abs(lag) for lag in _LAGS)


def test_frequent_triples_vs_bruteforce(spark, duck):
    """Brute-force every 3-subset of every basket — the count the
    a-priori pruning must reproduce exactly."""
    from itertools import combinations

    rows = duck.sql(
        """
        SELECT DISTINCT l.l_orderkey, p.p_brand
        FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
        """
    ).fetchall()
    baskets: dict[int, set] = {}
    for o, b in rows:
        baskets.setdefault(o, set()).add(b)
    support: dict[tuple, int] = {}
    for items in baskets.values():
        for trip in combinations(sorted(items), 3):
            support[trip] = support.get(trip, 0) + 1
    frequent = sorted(
        ((s, t) for t, s in support.items() if s >= _MIN_SUPPORT),
        key=lambda st: (-st[0], st[1]),
    )[:20]
    out = _REGISTRY["q404_frequent_brand_triples"].fn(spark, SF_DIR).collect()
    assert [(r.b1, r.b2, r.b3, r.support) for r in out] == [
        (t[0], t[1], t[2], s) for s, t in frequent
    ]
    n = len(baskets)
    for r in out:
        assert r.support_ppm == r.support * 1_000_000 // n
