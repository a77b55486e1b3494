"""Wave-56 catalog entries (plans/llm_ops55.py): python replays of the
equi-depth boundaries, the collision arithmetic, and the width-class
slope."""

from __future__ import annotations

import hashlib

from airflow_scraping_etl_tutorial_spark.plans import llm_ops54  # noqa: F401  (q405 for the comparison test)
from airflow_scraping_etl_tutorial_spark.plans import llm_ops55  # noqa: F401  (registers)
from airflow_scraping_etl_tutorial_spark.plans.llm_ops55 import (
    _ED_BUCKETS,
    _FH_BUCKETS,
)
from airflow_scraping_etl_tutorial_spark.plans.registry import _REGISTRY

SF_DIR = "/root/testdata/sf0.001"


# ---------------------------------------------------------------------------
# Replays and invariants
# ---------------------------------------------------------------------------


def test_equidepth_python_replay(spark, duck):
    vals = sorted(
        round(p * 100)
        for (p,) in duck.sql("SELECT o_totalprice FROM orders").fetchall()
    )
    n = len(vals)
    lo, hi = vals[0], vals[-1]
    splits = [
        vals[(i * n + _ED_BUCKETS - 1) // _ED_BUCKETS - 1]
        for i in range(1, _ED_BUCKETS)
    ]
    out = {r.k: r for r in _REGISTRY["q408_equidepth_selectivity_error"].fn(spark, SF_DIR).collect()}
    assert set(out) == set(range(1, 8))
    for k in range(1, 8):
        t = lo + k * (hi - lo) // 8
        n_below = sum(1 for s in splits if s <= t)
        est = (
            (_ED_BUCKETS - n_below) * n // _ED_BUCKETS
            - n // (2 * _ED_BUCKETS)
        ) * 1_000_000 // n
        act = sum(1 for c in vals if c > t) * 1_000_000 // n
        r = out[k]
        assert (r.threshold_c, r.est_ppm, r.act_ppm) == (t, est, act)
        assert r.abs_err_ppm == abs(est - act)
        # equal-frequency buckets bound the error by ~1.5 buckets
        assert r.abs_err_ppm <= 3 * 1_000_000 // (2 * _ED_BUCKETS) + 1_000


def test_equidepth_beats_or_ties_equiwidth_on_average(spark):
    """The point of the pair: summed over the seven thresholds, exact
    equal-frequency boundaries cannot lose to equal-width buckets by
    more than rounding slack on this column."""
    eq_w = sum(
        r.abs_err_ppm
        for r in _REGISTRY["q405_histogram_selectivity_error"].fn(spark, SF_DIR).collect()
    )
    eq_d = sum(
        r.abs_err_ppm
        for r in _REGISTRY["q408_equidepth_selectivity_error"].fn(spark, SF_DIR).collect()
    )
    assert eq_d <= eq_w + 35_000  # half-bucket convention slack


def test_feature_hash_python_replay(spark, duck):
    vocab = set()
    for (text,) in duck.sql("SELECT text FROM documents").fetchall():
        words = text.split(" ")
        for i in range(max(len(words) - 2, 0)):
            vocab.add(" ".join(words[i : i + 3]))
    loads: dict[int, int] = {}
    for t in vocab:
        b = int(hashlib.md5(t.encode()).hexdigest()[:15], 16) % _FH_BUCKETS
        loads[b] = loads.get(b, 0) + 1
    v = len(vocab)
    obs_pairs = sum(c * (c - 1) // 2 for c in loads.values())
    exp_micro = v * (v - 1) * 1_000_000 // (2 * _FH_BUCKETS)
    r = _REGISTRY["q409_feature_hash_collisions"].fn(spark, SF_DIR).collect()[0]
    assert (r.v, r.m, r.occupied) == (v, _FH_BUCKETS, len(loads))
    assert (r.collided_terms, r.max_load, r.obs_pairs) == (
        v - len(loads),
        max(loads.values()),
        obs_pairs,
    )
    assert r.exp_pairs_micro == exp_micro
    assert r.obs_over_exp_ppm == obs_pairs * 1_000_000_000_000 // exp_micro
    # the fixture vocabulary is tiny (31 terms at sf0.001 — expected
    # collisions < 1), so the birthday band is only meaningful when the
    # expectation clears a few whole pairs
    if exp_micro > 5_000_000:
        assert 200_000 < r.obs_over_exp_ppm < 5_000_000


def test_zipf_python_replay(spark, duck):
    rows = duck.sql(
        """
        SELECT tok, COUNT(*) FROM
        (SELECT UNNEST(STRING_SPLIT(text, ' ')) AS tok FROM documents)
        GROUP BY tok
        """
    ).fetchall()
    freqs = sorted((int(f) for _, f in rows), reverse=True)
    # frequency-grain min ranks
    fg: dict[int, int] = {}
    for f in freqs:
        fg[f] = fg.get(f, 0) + 1
    cells: dict[int, list[int]] = {}
    rank = 0
    for f in sorted(fg, reverse=True):
        min_rank = rank + 1
        rank += fg[f]
        rw = min_rank.bit_length()
        agg = cells.setdefault(rw, [0, 0])
        agg[0] += f.bit_length() * fg[f]
        agg[1] += fg[f]
    out = {r.rank_w: r for r in _REGISTRY["q410_zipf_tail_fit"].fn(spark, SF_DIR).collect()}
    assert set(out) == set(cells)
    pts = []
    for rw, (sum_fw, n_terms) in cells.items():
        r = out[rw]
        assert r.n_terms == n_terms
        assert r.mean_freq_w_milli == sum_fw * 1000 // n_terms
        pts.append((rw, sum_fw * 1000 // n_terms))
    n = len(pts)
    sx = sum(x for x, _ in pts)
    sy = sum(y for _, y in pts)
    sxx = sum(x * x for x, _ in pts)
    sxy = sum(x * y for x, y in pts)
    num, den = n * sxy - sx * sy, n * sxx - sx * sx
    for r in out.values():
        assert r.slope_sign == (1 if num > 0 else (-1 if num < 0 else 0))
        assert r.slope_abs_micro == (0 if den == 0 else abs(num) * 1000 // den)
    # a natural-ish corpus's rank-frequency slope is negative
    assert next(iter(out.values())).slope_sign == -1
