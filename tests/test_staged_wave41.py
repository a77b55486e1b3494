"""Wave-41 catalog entries (plans/llm_ops40.py): python replays of the
SPRT trajectory, the stratified-ATE identities, and the Hamilton
apportionment draw."""

from __future__ import annotations

import hashlib

from airflow_scraping_etl_tutorial_spark.plans import llm_ops40  # noqa: F401  (registers)
from airflow_scraping_etl_tutorial_spark.plans.llm_ops40 import (
    _LLR_FAIL,
    _LLR_SUCC,
    _SPRT_BOUND,
)
from airflow_scraping_etl_tutorial_spark.plans.registry import _REGISTRY

SF_DIR = "/root/testdata/sf0.001"


# ---------------------------------------------------------------------------
# Python replays
# ---------------------------------------------------------------------------


def test_sprt_python_replay(spark, duck):
    rows = duck.sql(
        """
        SELECT CAST(ts AS DATE) AS day,
               SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END),
               COUNT(*)
        FROM events GROUP BY 1 ORDER BY 1
        """
    ).fetchall()
    cum = 0
    first_cross = None
    cross_val = None
    for day, conv, tot in rows:
        cum += conv * _LLR_SUCC + (tot - conv) * _LLR_FAIL
        if first_cross is None and abs(cum) >= _SPRT_BOUND:
            first_cross, cross_val = day, cum
    r = _REGISTRY["q363_sprt_early_stopping"].fn(spark, SF_DIR).collect()[0]
    assert r.n_days == len(rows)
    assert r.final_llr_micro == cum
    if first_cross is None:
        assert (r.first_cross_day, r.decision) == ("none", "continue")
    else:
        assert r.first_cross_day == str(first_cross)
        assert r.decision == (
            "accept_h1" if cross_val >= _SPRT_BOUND else "accept_h0"
        )
    # the fixture's purchase share sits at ~0.198 < p0=0.20: the SPRT
    # must eventually conclude H0, well before the stream ends
    assert r.decision == "accept_h0"
    assert r.first_cross_day < str(rows[-1][0])


def _trunc_div(a: int, b: int) -> int:
    q = abs(a) // abs(b)
    return -q if (a < 0) != (b < 0) else q


def test_stratified_ate_identities(spark, duck):
    out = _REGISTRY["q364_stratified_ate"].fn(spark, SF_DIR).collect()
    n_users = duck.sql(
        "SELECT COUNT(DISTINCT user_id) FROM events"
    ).fetchone()[0]
    assert sum(r.n for r in out) == n_users
    big_n = sum(r.n for r in out)
    for r in out:
        assert r.n == r.n_t + r.n_c
        assert r.w_ppm == r.n * 1_000_000 // big_n
        assert r.contribution_micro == _trunc_div(
            (r.mean_t_micro - r.mean_c_micro) * r.n, big_n
        )
    # strata are log2 width classes: small positive ints, distinct
    strata = [r.stratum for r in out]
    assert len(set(strata)) == len(strata)
    assert all(1 <= s <= 20 for s in strata)


def test_apportioned_sample_python_replay(spark, duck):
    pops = dict(
        duck.sql("SELECT lang, COUNT(*) FROM documents GROUP BY 1").fetchall()
    )
    big_n = sum(pops.values())
    k = 100
    base = {l: k * n // big_n for l, n in pops.items()}
    rem = {l: k * pops[l] % big_n for l in pops}
    r_left = k - sum(base.values())
    order = sorted(pops, key=lambda l: (-rem[l], l))
    quota = dict(base)
    for l in order[:r_left]:
        quota[l] += 1
    assert sum(quota.values()) == k
    docs = duck.sql("SELECT lang, doc_id FROM documents").fetchall()
    by_lang: dict[str, list] = {}
    for lang, doc_id in docs:
        h = int(
            hashlib.md5(f"{doc_id}:eval".encode()).hexdigest()[:15], 16
        )
        by_lang.setdefault(lang, []).append((h, doc_id))
    expect = {}
    for lang, items in by_lang.items():
        items.sort()
        expect[lang] = [d for _, d in items[: quota[lang]]]
    out = _REGISTRY["q365_apportioned_eval_sample"].fn(spark, SF_DIR).collect()
    assert len(out) == k
    got: dict[str, list] = {}
    for r in sorted(out, key=lambda r: (r.lang, r.sample_rank)):
        got.setdefault(r.lang, []).append(r.doc_id)
    assert got == expect
    for lang, ids in got.items():
        ranks = [
            r.sample_rank for r in out if r.lang == lang
        ]
        assert sorted(ranks) == list(range(1, quota[lang] + 1))
