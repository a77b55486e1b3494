"""Wave-23 catalog entries (plans/llm_ops22.py): python replays of the
positional phrase index (and its must-agree substring cross-check),
the exact integer power formula, and the greedy set-cover picks."""

from __future__ import annotations

import math

from airflow_scraping_etl_tutorial_spark.plans import llm_ops22  # noqa: F401  (registers)
from airflow_scraping_etl_tutorial_spark.plans.registry import _REGISTRY

SF_DIR = "/root/testdata/sf0.001"


# ---------------------------------------------------------------------------
# Python replays
# ---------------------------------------------------------------------------


def _texts(duck):
    return duck.sql(
        "SELECT doc_id, source, text FROM documents ORDER BY doc_id"
    ).fetchall()


def test_phrase_index_replay_and_substring_agreement(spark, duck):
    rows = _REGISTRY["q309_phrase_query_positional"].fn(spark, SF_DIR).collect()
    # replay: bigram adjacency counts per doc
    per_doc: dict[tuple[str, int], int] = {}
    for doc_id, _, text in _texts(duck):
        w = text.split(" ")
        for i in range(len(w) - 1):
            key = (f"{w[i]} {w[i + 1]}", doc_id)
            per_doc[key] = per_doc.get(key, 0) + 1
    totals: dict[str, int] = {}
    for (ph, _), n in per_doc.items():
        totals[ph] = totals.get(ph, 0) + n
    top3 = sorted(totals, key=lambda p: (-totals[p], p))[:3]
    assert sorted(r.phrase for r in rows) == sorted(top3)
    for r in rows:
        docs = [d for (ph, d), n in per_doc.items() if ph == r.phrase]
        occ = sum(n for (ph, _), n in per_doc.items() if ph == r.phrase)
        assert r.n_docs_phrase == len(docs)
        assert r.n_occurrences == occ
        # the core invariant: the positional index and the substring
        # scan answer phrase membership identically
        assert r.n_docs_phrase == r.n_docs_substring
        assert r.n_occurrences >= r.n_docs_phrase > 0


def test_power_formula_replay(spark, duck):
    rows = _REGISTRY["q310_ab_power_sample_size"].fn(spark, SF_DIR).collect()
    units = duck.sql(
        "SELECT COUNT(DISTINCT (user_id, CAST(ts AS DATE))) FROM events"
    ).fetchone()[0]
    conv = dict(
        duck.sql(
            "SELECT event_type,"
            " COUNT(DISTINCT (user_id, CAST(ts AS DATE)))"
            " FROM events GROUP BY 1"
        ).fetchall()
    )
    z = 2801585
    seen = set()
    for r in rows:
        p1 = conv[r.event_type] * 1_000_000 // units
        p2 = p1 * 110 // 100
        assert (r.p1_ppm, r.p2_ppm) == (p1, p2)
        num = z * z * (p1 * (10**6 - p1) + p2 * (10**6 - p2))
        den = (p2 - p1) ** 2 * 10**12
        assert r.required_n_per_arm == (num - 1) // den + 1
        # cross-check the integer form against the float closed form
        zf = z / 1e6
        p1f, p2f = p1 / 1e6, p2 / 1e6
        nf = zf**2 * (p1f * (1 - p1f) + p2f * (1 - p2f)) / (p2f - p1f) ** 2
        assert abs(r.required_n_per_arm - math.ceil(nf)) <= 1
        seen.add(r.event_type)
    assert seen  # non-degenerate: at least one sizeable event type


def _shingles(text: str, k: int = 8) -> set[str]:
    w = text.split(" ")
    return {" ".join(w[i : i + k]) for i in range(len(w) - k + 1)}


def test_greedy_selection_replay(spark, duck):
    rows = sorted(
        _REGISTRY["q311_greedy_source_selection"].fn(spark, SF_DIR).collect(),
        key=lambda r: r.rank,
    )
    src: dict[str, set[str]] = {}
    for _, source, text in _texts(duck):
        src.setdefault(source, set()).update(_shingles(text))
    covered: set[str] = set()
    picked: list[tuple[str, int]] = []
    for _ in range(3):
        # argmax marginal gain; tiebreak: smallest source name
        gains = {s: len(g - covered) for s, g in src.items()
                 if s not in [p for p, _ in picked]}
        mx = max(gains.values())
        best = (min(s for s, g in gains.items() if g == mx), mx)
        picked.append(best)
        covered |= src[best[0]]
    assert [(r.source, r.marginal_shingles) for r in rows] == picked
    # greedy marginal gains are non-increasing; cumsum is consistent
    assert rows[0].marginal_shingles >= rows[1].marginal_shingles
    assert rows[1].marginal_shingles >= rows[2].marginal_shingles
    cum = 0
    for r in rows:
        cum += r.marginal_shingles
        assert r.cumulative_shingles == cum
