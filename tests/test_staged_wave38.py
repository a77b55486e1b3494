"""Wave-38 catalog entries (plans/llm_ops37.py): python replays of the
HT sampling mechanism, the kappa identity, the runs count, the
novel-n-gram recompute, and the sqrt-temperature weights."""

from __future__ import annotations

import hashlib
import math

from airflow_scraping_etl_tutorial_spark.plans import llm_ops37  # noqa: F401  (registers)
from airflow_scraping_etl_tutorial_spark.plans.registry import _REGISTRY

SF_DIR = "/root/testdata/sf0.001"


# ---------------------------------------------------------------------------
# Python replays and structural invariants
# ---------------------------------------------------------------------------


def _h60(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


def _trunc_div(a: int, b: int) -> int:
    """Integer division truncating toward zero (both engines' semantics
    for signed quotients; python // floors)."""
    q = abs(a) // abs(b)
    return -q if (a < 0) != (b < 0) else q


def test_horvitz_thompson_python_replay(spark, duck):
    """Re-draw the dyadic-rate sample in python and recompute the HT
    estimate; the estimator must be exactly rate * sampled-sum and
    land within 25% of the truth per band at this SF."""
    rows = duck.sql(
        """
        SELECT o_orderkey,
               CAST(CAST(o_totalprice AS DECIMAL(18,6)) * 100 AS BIGINT),
               o_totalprice
        FROM orders
        """
    ).fetchall()
    agg: dict[str, list[int]] = {}
    for key, cents, price in rows:
        band, rate = (
            ("a_full", 1)
            if price >= 300000
            else ("b_quarter", 4) if price >= 100000 else ("c_sixteenth", 16)
        )
        take = _h60(f"{key}:ht") < (1 << 60) // rate
        a = agg.setdefault(band, [rate, 0, 0, 0, 0])
        a[1] += 1
        a[2] += take
        a[3] += cents
        a[4] += cents * take
    out = _REGISTRY["q352_horvitz_thompson_total"].fn(spark, SF_DIR).collect()
    assert {r.band for r in out} == set(agg)
    for r in out:
        rate, n_pop, n_s, true_c, samp_c = agg[r.band]
        assert (r.rate, r.n_pop, r.n_sampled) == (rate, n_pop, n_s)
        assert r.true_cents == true_c
        assert r.ht_cents == rate * samp_c
        diff = (r.ht_cents - r.true_cents) * 1_000_000
        assert r.err_ppm == _trunc_div(diff, r.true_cents)
        # a 1/4- or 1/16-rate estimate should still be in the ballpark
        assert abs(r.ht_cents - r.true_cents) * 4 < r.true_cents
        # full-rate band is exact by construction
        if r.rate == 1:
            assert r.ht_cents == r.true_cents and r.err_ppm == 0


def test_kappa_identity_and_bounds(spark):
    r = _REGISTRY["q353_rater_agreement_kappa"].fn(spark, SF_DIR).collect()[0]
    a, b, c, d = r.n_both_en, r.n_stop_only, r.n_langid_only, r.n_neither
    n = r.n
    assert a + b + c + d == n
    po_num = a + d
    pe_num = (a + b) * (a + c) + (d + b) * (d + c)
    assert r.po_ppm == po_num * 1_000_000 // n
    assert r.pe_ppm == pe_num * 1_000_000 // (n * n)
    kap = (n * po_num - pe_num) * 1_000_000
    den = n * n - pe_num
    assert r.kappa_ppm == _trunc_div(kap, den)
    assert -1_000_000 <= r.kappa_ppm <= 1_000_000
    # two English-detectors on the same corpus must agree beyond chance
    assert r.kappa_ppm > 0
    assert r.po_ppm * n == po_num * 1_000_000 - po_num * 1_000_000 % n


def test_runs_test_python_replay(spark, duck):
    rows = duck.sql(
        """
        SELECT CASE WHEN SUBSTR(MD5(CAST(user_id AS VARCHAR) || ':wwruns'),
                                1, 1) < '8' THEN 1 ELSE 0 END
        FROM events ORDER BY ts, event_id
        """
    ).fetchall()
    labs = [r[0] for r in rows]
    n, n1 = len(labs), sum(labs)
    runs = 1 + sum(1 for x, y in zip(labs, labs[1:]) if x != y)
    r = _REGISTRY["q354_runs_test_assignment"].fn(spark, SF_DIR).collect()[0]
    assert (r.n, r.n1, r.n2, r.r_runs) == (n, n1, n - n1, runs)
    d = n * (runs - 1) - 2 * n1 * (n - n1)
    m2 = 2 * n1 * (n - n1)
    assert r.z2_milli == 1000 * d * d * (n - 1) // (m2 * (m2 - n))
    assert r.reject_95 == int(1000 * d * d * (n - 1) > 3841 * m2 * (m2 - n))
    # a healthy md5 hash must not fail the randomness check
    assert r.reject_95 == 0


def test_novel_ngram_python_replay(spark, duck):
    rows = duck.sql("SELECT doc_id, text FROM documents").fetchall()
    out = sorted(
        _REGISTRY["q355_novel_ngram_rate"].fn(spark, SF_DIR).collect(),
        key=lambda r: r.gram_n,
    )
    assert [r.gram_n for r in out] == [1, 2, 3]
    for r in out:
        n = r.gram_n
        test_set: set[int] = set()
        train_set: set[int] = set()
        for doc_id, text in rows:
            is_train = (
                hashlib.md5(f"{doc_id}:novel".encode()).hexdigest()[0] < "8"
            )
            toks = text.split(" ")
            tgt = train_set if is_train else test_set
            for i in range(len(toks) - n + 1):
                tgt.add(_h60(" ".join(toks[i : i + n])))
        novel = len(test_set - train_set)
        assert r.n_test_grams == len(test_set)
        assert r.n_novel == novel
        assert r.novel_ppm == novel * 1_000_000 // len(test_set)
    # longer grams are harder to have seen in training
    assert out[0].novel_ppm <= out[1].novel_ppm <= out[2].novel_ppm


def test_temperature_mixture_python_replay(spark, duck):
    rows = duck.sql(
        "SELECT source, COUNT(*), SUM(n_chars) FROM documents GROUP BY 1"
    ).fetchall()
    chars = {s: int(c) for s, _, c in rows}
    total = sum(chars.values())
    w_h = {s: math.floor(math.sqrt(c) * 1_000_000) for s, c in chars.items()}
    w_q = {
        s: math.floor(math.sqrt(math.sqrt(c)) * 1_000_000)
        for s, c in chars.items()
    }
    sw_h, sw_q = sum(w_h.values()), sum(w_q.values())
    out = _REGISTRY["q356_temperature_source_mixture"].fn(spark, SF_DIR).collect()
    assert {r.source for r in out} == set(chars)
    small = min(chars, key=chars.get)
    big = max(chars, key=chars.get)
    by_src = {r.source: r for r in out}
    for r in out:
        assert r.chars == chars[r.source]
        assert r.natural_ppm == chars[r.source] * 1_000_000 // total
        assert r.temp_half_ppm == w_h[r.source] * 1_000_000 // sw_h
        assert r.temp_quarter_ppm == w_q[r.source] * 1_000_000 // sw_q
        assert (
            r.boost_half_ppm
            == w_h[r.source] * total * 1_000_000 // (sw_h * chars[r.source])
        )
    # temperature flattens: the smallest source is boosted, the largest
    # damped, and quarter flattens harder than half
    assert by_src[small].boost_half_ppm >= 1_000_000 >= by_src[big].boost_half_ppm
    assert by_src[small].temp_quarter_ppm >= by_src[small].temp_half_ppm
    assert by_src[big].temp_quarter_ppm <= by_src[big].temp_half_ppm
