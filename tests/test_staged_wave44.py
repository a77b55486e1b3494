"""Wave-44 catalog entries (plans/llm_ops43.py): python replays of the
greedy k-center selection, the chi-square contingency arithmetic, and
the cumulative-boundary EMD identity."""

from __future__ import annotations

import hashlib
import math

from airflow_scraping_etl_tutorial_spark.plans import llm_ops43  # noqa: F401  (registers)
from airflow_scraping_etl_tutorial_spark.plans.registry import _REGISTRY

SF_DIR = "/root/testdata/sf0.001"


# ---------------------------------------------------------------------------
# Replays and invariants
# ---------------------------------------------------------------------------


def _split_of(doc_id) -> str:
    gate = int(hashlib.md5(f"{doc_id}:split".encode()).hexdigest()[:2], 16)
    return "train" if gate < 230 else ("val" if gate < 243 else "test")


def test_kcenter_python_replay(spark, duck):
    """Replay the greedy 3-pick k-center in python: same seed (md5-min
    vector), same farthest-point iteration, same radii."""
    vecs = dict(duck.sql("SELECT vec_id, embedding FROM embeddings").fetchall())

    def cos(a, b):
        num = sum(x * y for x, y in zip(a, b))
        return num / (math.sqrt(sum(x * x for x in a)) * math.sqrt(sum(y * y for y in b)))

    seed = min(vecs, key=lambda v: (hashlib.md5(str(v).encode()).hexdigest(), v))
    centers = [seed]
    best = {v: cos(e, vecs[seed]) for v, e in vecs.items()}
    expected = [(1, seed, round(1 - min(best.values()), 6))]
    for k in (2, 3):
        nxt = min(vecs, key=lambda v: (best[v], v))
        centers.append(nxt)
        for v, e in vecs.items():
            best[v] = max(best[v], cos(e, vecs[nxt]))
        expected.append((k, nxt, round(1 - min(best.values()), 6)))

    out = _REGISTRY["q372_kcenter_coreset_picks"].fn(spark, SF_DIR).collect()
    got = [(r.k, r.center_id, r.radius) for r in out]
    assert [(k, c) for k, c, _ in got] == [(k, c) for k, c, _ in expected]
    for (_, _, rg), (_, _, re_) in zip(got, expected):
        assert abs(rg - re_) < 2e-6
    # radii are non-increasing: each extra center can only shrink coverage
    radii = [r for _, _, r in got]
    assert radii == sorted(radii, reverse=True)


def test_split_chisquare_python_replay(spark, duck):
    rows = duck.sql("SELECT doc_id, lang FROM documents").fetchall()
    cells: dict[tuple[str, str], int] = {}
    for doc_id, lang in rows:
        key = (_split_of(doc_id), lang)
        cells[key] = cells.get(key, 0) + 1
    n = sum(cells.values())
    langs = sorted({l for _, l in cells})
    splits = sorted({s for s, _ in cells})
    r_tot = {l: sum(c for (s, ll), c in cells.items() if ll == l) for l in langs}
    c_tot = {s: sum(c for (ss, _), c in cells.items() if ss == s) for s in splits}
    out = {r.split: r for r in _REGISTRY["q373_split_balance_chisquare"].fn(spark, SF_DIR).collect()}
    assert set(out) == set(splits)
    total = 0
    for s in splits:
        contrib = 0
        worst_dev, worst_lang = -1, None
        for l in langs:
            o = cells.get((s, l), 0)
            contrib += (n * o - r_tot[l] * c_tot[s]) ** 2 * 1_000_000 // (n * r_tot[l] * c_tot[s])
            dev = abs(o * 1_000_000 // c_tot[s] - r_tot[l] * 1_000_000 // n)
            if dev > worst_dev or (dev == worst_dev and l < worst_lang):
                worst_dev, worst_lang = dev, l
        r = out[s]
        assert (r.n_docs, r.chi2_contrib_micro) == (c_tot[s], contrib)
        assert (r.worst_lang, r.worst_dev_ppm) == (worst_lang, worst_dev)
        total += contrib
    for r in out.values():
        assert r.total_chi2_micro == total
        assert r.reject_95 == (1 if total > 15_507_000 else 0)
    # an md5 gate keyed on doc_id cannot know the language
    assert out["train"].reject_95 == 0


def test_split_length_emd_python_replay(spark, duck):
    rows = duck.sql("SELECT doc_id, GREATEST(n_chars, 1) FROM documents").fetchall()
    per: dict[str, dict[int, int]] = {}
    corpus: dict[int, int] = {}
    for doc_id, nchars in rows:
        b = int(nchars).bit_length()
        s = _split_of(doc_id)
        per.setdefault(s, {})[b] = per.setdefault(s, {}).get(b, 0) + 1
        corpus[b] = corpus.get(b, 0) + 1
    bins = sorted(corpus)
    n = sum(corpus.values())
    out = {r.split: r for r in _REGISTRY["q374_split_length_emd"].fn(spark, SF_DIR).collect()}
    assert set(out) == {"train", "val", "test"}
    for s, r in out.items():
        hist = per.get(s, {})
        ns = sum(hist.values())
        cs = cc = 0
        emd = ks = 0
        for b in bins:
            cs += hist.get(b, 0)
            cc += corpus[b]
            gap = abs(cs * 1_000_000 // ns - cc * 1_000_000 // n)
            emd += gap
            ks = max(ks, gap)
        assert (r.n_bins, r.emd_ppm_bins, r.ks_ppm) == (len(bins), emd, ks)
        # the splits are md5-random on length too: gaps stay small-ish
        assert r.ks_ppm < 500_000
