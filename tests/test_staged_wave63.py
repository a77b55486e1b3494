"""Wave-63 catalog entries (plans/llm_ops62.py): python replays of the
OOV join, the stitched max gap, and the baseline hit rate."""

from __future__ import annotations

from airflow_scraping_etl_tutorial_spark.plans import llm_ops62  # noqa: F401  (registers)
from airflow_scraping_etl_tutorial_spark.plans.llm_ops62 import (
    _TOP_BRANDS,
    _VOCAB_K,
)
from airflow_scraping_etl_tutorial_spark.plans.registry import _REGISTRY

SF_DIR = "/root/testdata/sf0.001"


# ---------------------------------------------------------------------------
# Replays and invariants
# ---------------------------------------------------------------------------


def test_oov_python_replay(spark, duck):
    rows = duck.sql("SELECT lang, text FROM documents").fetchall()
    freq: dict[str, int] = {}
    per: dict[str, list[str]] = {}
    for lang, text in rows:
        toks = text.split(" ")
        per.setdefault(lang, []).extend(toks)
        for t in toks:
            freq[t] = freq.get(t, 0) + 1
    vocab = {
        t for t, _ in sorted(freq.items(), key=lambda kv: (-kv[1], kv[0]))[:_VOCAB_K]
    }
    out = {r.lang: r for r in _REGISTRY["q429_oov_rate"].fn(spark, SF_DIR).collect()}
    assert set(out) == set(per)
    for lang, toks in per.items():
        oov = sum(1 for t in toks if t not in vocab)
        r = out[lang]
        assert (r.n_tokens, r.n_oov) == (len(toks), oov)
        assert r.oov_ppm == oov * 1_000_000 // len(toks)
        # a 16-token vocab over a 31-token universe: real OOV everywhere
        assert 0 < r.oov_ppm < 1_000_000


def test_keyspace_holes_python_replay(spark, duck):
    keys = sorted(
        k for (k,) in duck.sql("SELECT DISTINCT o_orderkey FROM orders").fetchall()
    )
    gaps = [(b - a, a) for a, b in zip(keys, keys[1:])]
    largest = max(g for g, _ in gaps)
    after = min(a for g, a in gaps if g == largest)
    r = _REGISTRY["q430_keyspace_holes"].fn(spark, SF_DIR).collect()[0]
    assert (r.n_keys, r.min_key, r.max_key) == (len(keys), keys[0], keys[-1])
    assert r.density_ppm == len(keys) * 1_000_000 // (keys[-1] - keys[0] + 1)
    assert (r.largest_gap, r.gap_after_key) == (largest, after)
    # this fixture's generator emits a DENSE keyspace: the audit
    # certifies it (density 1e6, no hole wider than a single step) —
    # which is exactly what a silently-dropped partition would break
    assert r.density_ppm == 1_000_000
    assert r.largest_gap == 1


def test_popularity_baseline_python_replay(spark, duck):
    rows = duck.sql(
        """
        SELECT l.l_orderkey, p.p_brand,
               DATEDIFF('day', DATE '1970-01-01', CAST(o.o_orderdate AS DATE))
        FROM lineitem l
        JOIN part p ON p.p_partkey = l.l_partkey
        JOIN orders o ON o.o_orderkey = l.l_orderkey
        """
    ).fetchall()
    days = [d for _, _, d in rows]
    m = (min(days) + max(days) + 1) // 2
    freq: dict[str, int] = {}
    for _, b, d in rows:
        if d < m:
            freq[b] = freq.get(b, 0) + 1
    top = {
        b for b, _ in sorted(freq.items(), key=lambda kv: (-kv[1], kv[0]))[:_TOP_BRANDS]
    }
    test_orders = {o for o, _, d in rows if d >= m}
    hits = {o for o, b, d in rows if d >= m and b in top}
    r = _REGISTRY["q431_popularity_baseline_hitrate"].fn(spark, SF_DIR).collect()[0]
    assert (r.k, r.n_test_orders, r.n_hits) == (
        _TOP_BRANDS,
        len(test_orders),
        len(hits),
    )
    assert r.hit_ppm == len(hits) * 1_000_000 // len(test_orders)
    # 5 of ~25 brands, multi-line orders: a popularity floor well above zero
    assert r.hit_ppm > 100_000
