"""Wave-55 catalog entries (plans/llm_ops54.py): python replays of the
histogram estimator, the front-coded byte count, and the censored LTV
curve."""

from __future__ import annotations

from airflow_scraping_etl_tutorial_spark.plans import llm_ops54  # noqa: F401  (registers)
from airflow_scraping_etl_tutorial_spark.plans.llm_ops54 import _FC_BLOCK, _N_BUCKETS
from airflow_scraping_etl_tutorial_spark.plans.registry import _REGISTRY

SF_DIR = "/root/testdata/sf0.001"


# ---------------------------------------------------------------------------
# Replays and invariants
# ---------------------------------------------------------------------------


def test_selectivity_python_replay(spark, duck):
    vals = [
        round(p * 100)
        for (p,) in duck.sql("SELECT o_totalprice FROM orders").fetchall()
    ]
    lo, hi, n = min(vals), max(vals), len(vals)
    hist: dict[int, int] = {}
    for c in vals:
        b = min((c - lo) * _N_BUCKETS // (hi - lo), _N_BUCKETS - 1)
        hist[b] = hist.get(b, 0) + 1
    out = {r.k: r for r in _REGISTRY["q405_histogram_selectivity_error"].fn(spark, SF_DIR).collect()}
    assert set(out) == set(range(1, 8))
    for k in range(1, 8):
        t = lo + k * (hi - lo) // 8
        tb = min((t - lo) * _N_BUCKETS // (hi - lo), _N_BUCKETS - 1)
        est = sum(c for b, c in hist.items() if b > tb) + hist.get(tb, 0) // 2
        act = sum(1 for c in vals if c > t)
        r = out[k]
        assert r.threshold_c == t
        assert r.est_ppm == est * 1_000_000 // n
        assert r.act_ppm == act * 1_000_000 // n
        assert r.abs_err_ppm == abs(r.est_ppm - r.act_ppm)
        # equi-width on a near-uniform column: error stays within ~one
        # bucket plus sampling noise
        assert r.abs_err_ppm < 3 * 1_000_000 // _N_BUCKETS


def test_front_coding_python_replay(spark, duck):
    rows = duck.sql("SELECT c_custkey, c_name FROM customer").fetchall()
    blocks: dict[int, list] = {}
    for k, nm in rows:
        blocks.setdefault(k // _FC_BLOCK, []).append((nm, k))
    n_strings = raw = fc = lcp_sum = 0
    for blk in blocks.values():
        blk.sort()
        prev = None
        for nm, _ in blk:
            n_strings += 1
            raw += len(nm)
            if prev is None:
                l = 0
            else:
                l = 0
                while l < min(len(nm), len(prev)) and nm[l] == prev[l]:
                    l += 1
            lcp_sum += l
            fc += len(nm) - l + 1
            prev = nm
    r = _REGISTRY["q406_front_coding_benefit"].fn(spark, SF_DIR).collect()[0]
    assert (r.n_strings, r.n_blocks, r.raw_bytes, r.fc_bytes) == (
        n_strings,
        len(blocks),
        raw,
        fc,
    )
    assert r.savings_ppm == (raw - fc) * 1_000_000 // raw
    assert r.mean_lcp_milli == lcp_sum * 1000 // n_strings
    # zero-padded names share long prefixes: front coding really pays
    assert r.savings_ppm > 500_000


def test_ltv_python_replay(spark, duck):
    rows = duck.sql(
        """
        SELECT o_custkey,
               DATEDIFF('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)),
               CAST(CAST(o_totalprice AS DECIMAL(18,6)) * 1000000 AS BIGINT)
        FROM orders
        """
    ).fetchall()
    d0 = {}
    for k, day, _ in rows:
        d0[k] = min(d0.get(k, day), day)
    dmax = max(day for _, day, _ in rows)
    weekly: dict[int, list] = {}
    for k, day, rev in rows:
        w = (day - d0[k]) // 7
        agg = weekly.setdefault(w, [0, 0])
        agg[0] += 1
        agg[1] += rev
    out = {r.age_weeks: r for r in _REGISTRY["q407_ltv_curve"].fn(spark, SF_DIR).collect()}
    assert set(out) == set(weekly)
    cum = 0
    for w in sorted(weekly):
        n_orders, rev = weekly[w]
        elig = sum(1 for k in d0 if (dmax - d0[k]) // 7 >= w)
        inc = rev // elig
        cum += inc
        r = out[w]
        assert (r.n_orders, r.rev_u, r.n_eligible) == (n_orders, rev, elig)
        assert (r.inc_ltv_u, r.cum_ltv_u) == (inc, cum)
    # censoring denominator shrinks with age, never grows
    eligs = [out[w].n_eligible for w in sorted(out)]
    assert eligs == sorted(eligs, reverse=True)
