"""Wave-39 catalog entries (plans/llm_ops38.py): a full python replay
of the scaling-curve LM, the McNemar identities, and a python replay
of the SRP-bucketed cross-split decontamination sweep."""

from __future__ import annotations

import hashlib
import math
from decimal import ROUND_HALF_UP, Decimal

from airflow_scraping_etl_tutorial_spark.plans import llm_ops38  # noqa: F401  (registers)
from airflow_scraping_etl_tutorial_spark.plans.registry import _REGISTRY

SF_DIR = "/root/testdata/sf0.001"


# ---------------------------------------------------------------------------
# q357 — python replay of the cumulative-fraction backoff LM
# ---------------------------------------------------------------------------


def _centinats(x: float) -> Decimal:
    """-LN quantized to DECIMAL(18,2) the way both engines cast."""
    return Decimal(repr(-math.log(x))).quantize(
        Decimal("0.01"), rounding=ROUND_HALF_UP
    )


def test_scaling_curve_python_replay(spark, duck):
    rows = duck.sql("SELECT doc_id, text FROM documents").fetchall()
    quart: dict[int, list[list[str]]] = {-1: [], 0: [], 1: [], 2: [], 3: []}
    for doc_id, text in rows:
        byte = int(hashlib.md5(f"{doc_id}:lm2".encode()).hexdigest()[:2], 16)
        q = -1 if byte >= 192 else byte // 48
        quart[q].append(text.split(" "))
    test_bi: dict[tuple[str, str], int] = {}
    for words in quart[-1]:
        for a, b in zip(words, words[1:]):
            test_bi[(a, b)] = test_bi.get((a, b), 0) + 1
    out = sorted(
        _REGISTRY["q357_data_scaling_curve"].fn(spark, SF_DIR).collect(),
        key=lambda r: r.train_pct,
    )
    assert [r.train_pct for r in out] == [25, 50, 75, 100]
    prev_mean = None
    for r in out:
        k = r.train_pct // 25
        uni: dict[str, int] = {}
        bi: dict[tuple[str, str], int] = {}
        for qq in range(k):
            for words in quart[qq]:
                for w in words:
                    uni[w] = uni.get(w, 0) + 1
                for a, b in zip(words, words[1:]):
                    bi[(a, b)] = bi.get((a, b), 0) + 1
        t, v = sum(uni.values()), len(uni)
        assert (r.train_tokens, r.train_vocab) == (t, v)
        total = Decimal(0)
        n_bi = n_unknown = 0
        for (a, b), c in test_bi.items():
            n_bi += c
            if (a, b) in bi:
                l = _centinats(bi[(a, b)] / uni[a])
            elif b in uni:
                l = _centinats(0.4 * uni[b] / t)
            else:
                n_unknown += c
                l = _centinats(0.4 * 0.4 / v)
            total += c * l * 100
        assert r.n_bigrams == n_bi
        assert r.n_unknown == n_unknown
        assert r.mean_centinats == int(total) // n_bi
        if prev_mean is None:
            assert r.gain_centinats == 0
        else:
            assert r.gain_centinats == prev_mean - r.mean_centinats
        prev_mean = r.mean_centinats
    # structure of the curve: same eval set, growing LM, shrinking OOV
    assert len({r.n_bigrams for r in out}) == 1
    assert [r.train_tokens for r in out] == sorted(
        {r.train_tokens for r in out}
    )
    for a, b in zip(out, out[1:]):
        assert a.train_vocab <= b.train_vocab
        assert a.n_unknown >= b.n_unknown


# ---------------------------------------------------------------------------
# q358 — McNemar identities
# ---------------------------------------------------------------------------


def test_mcnemar_identities(spark, duck):
    r = _REGISTRY["q358_mcnemar_classifier_test"].fn(spark, SF_DIR).collect()[0]
    assert (
        r.n_both_correct + r.n_a_only + r.n_b_only + r.n_neither == r.n
    )
    assert r.n == duck.sql("SELECT COUNT(*) FROM documents").fetchone()[0]
    assert r.acc_a_ppm == (r.n_both_correct + r.n_a_only) * 1_000_000 // r.n
    assert r.acc_b_ppm == (r.n_both_correct + r.n_b_only) * 1_000_000 // r.n
    b, c = r.n_a_only, r.n_b_only
    if b + c == 0:
        assert r.chi2_milli == 0 and r.reject_95 == 0
    else:
        assert r.chi2_milli == 1000 * (b - c) * (b - c) // (b + c)
        assert r.reject_95 == int(1000 * (b - c) * (b - c) > 3841 * (b + c))
    # on this fixture the two raters differ by ~1.6% accuracy with
    # ~116 discordant docs — McNemar must NOT call that significant
    # (the exact point of the test: a naive accuracy comparison would)
    assert r.reject_95 == 0


# ---------------------------------------------------------------------------
# q359 — python replay of the SRP-bucketed decontamination sweep
# ---------------------------------------------------------------------------


def test_embedding_decontamination_python_replay(spark, duck):
    from airflow_scraping_etl_tutorial_spark.operators.similarity import (
        _deterministic_planes,
    )

    planes = _deterministic_planes(6, 64)
    rows = duck.sql("SELECT vec_id, embedding FROM embeddings").fetchall()
    by_bucket: dict[int, dict[int, list]] = {}
    test_ids = set()
    for vec_id, emb in rows:
        e = [float(x) for x in emb]
        bucket = 0
        for p, plane in enumerate(planes):
            d = 0.0
            for x, w in zip(e, plane):
                d += x * w
            if d > 0:
                bucket += 1 << p
        is_train = (
            hashlib.md5(f"{vec_id}:xcon".encode()).hexdigest()[0] < "8"
        )
        by_bucket.setdefault(bucket, {1: [], 0: []})[int(is_train)].append(
            (vec_id, e)
        )
        if not is_train:
            test_ids.add(vec_id)

    def cos(a, b):
        d = na = nb = 0.0
        for x, y in zip(a, b):
            d += x * y
            na += x * x
            nb += y * y
        return d / (math.sqrt(na) * math.sqrt(nb))

    mx: dict[int, float] = {}
    for sides in by_bucket.values():
        for tid, te in sides[0]:
            for _, tr in sides[1]:
                c = round(cos(te, tr), 6)
                if tid not in mx or c > mx[tid]:
                    mx[tid] = c
    out = sorted(
        _REGISTRY["q359_embedding_decontamination"].fn(spark, SF_DIR).collect(),
        key=lambda r: r.tau_ppm,
    )
    assert [r.tau_ppm for r in out] == [300000, 350000, 400000]
    for r, tau in zip(out, (0.30, 0.35, 0.40)):
        hits = sum(1 for v in mx.values() if v >= tau)
        assert r.n_test == len(test_ids)
        assert r.n_contaminated == hits
        assert r.contaminated_ppm == hits * 1_000_000 // len(test_ids)
    # tighter thresholds can only shrink the contaminated set
    assert (
        out[0].n_contaminated
        >= out[1].n_contaminated
        >= out[2].n_contaminated
        >= 0
    )
