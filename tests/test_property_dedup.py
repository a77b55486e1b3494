"""Property-based checks: the dedup operators vs an INDEPENDENT pure-
Python reference implementation on hypothesis-generated corpora. The
oracle gate proves Spark == DuckDB; these prove both match the
textbook definition."""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import Row

from airflow_scraping_etl_tutorial_spark.operators.dedup import (
    exact_dedup,
    ngram_jaccard_pairs,
)

VOCAB = ("alpha", "bravo", "charlie", "delta", "echo", "foxtrot", "golf", "hotel")

doc_strategy = st.lists(
    st.sampled_from(VOCAB), min_size=3, max_size=15
).map(" ".join)


def _ref_shingles(text: str, k: int = 3) -> set[tuple[str, ...]]:
    w = text.split(" ")
    return {tuple(w[i : i + k]) for i in range(len(w) - k + 1)}


@settings(
    max_examples=8, deadline=None, suppress_health_check=list(HealthCheck)
)
@given(texts=st.lists(doc_strategy, min_size=2, max_size=5))
def test_ngram_jaccard_matches_python_reference(spark, texts):
    df = spark.createDataFrame(
        [Row(doc_id=i, text=t) for i, t in enumerate(texts)]
    )
    got = {
        (r.doc_id_a, r.doc_id_b): r.jaccard
        for r in ngram_jaccard_pairs(df).collect()
    }
    for a in range(len(texts)):
        for b in range(a + 1, len(texts)):
            sa, sb = _ref_shingles(texts[a]), _ref_shingles(texts[b])
            inter = len(sa & sb)
            if inter == 0:
                assert (a, b) not in got
            else:
                expected = round(inter / len(sa | sb), 6)
                assert abs(got[(a, b)] - expected) < 1e-9, (a, b)


@settings(
    max_examples=8, deadline=None, suppress_health_check=list(HealthCheck)
)
@given(texts=st.lists(doc_strategy, min_size=1, max_size=6))
def test_exact_dedup_matches_python_reference(spark, texts):
    df = spark.createDataFrame(
        [Row(doc_id=i, text=t) for i, t in enumerate(texts)]
    )
    got = {r.keep_doc_id: r.n_copies for r in exact_dedup(df).collect()}
    ref: dict[str, list[int]] = {}
    for i, t in enumerate(texts):
        ref.setdefault(t, []).append(i)
    expected = {min(ids): len(ids) for ids in ref.values()}
    assert got == expected


def _ref_block_stats(texts: list[str], block_words: int = 4):
    """Pure-Python reference for block_dedup_stats: global first
    occurrence per block string, scanning docs in (id, position)
    order."""
    seen: set[str] = set()
    out = {}
    for doc_id, t in enumerate(texts):
        w = t.split(" ")
        nb = max((len(w) + block_words - 1) // block_words, 1)
        blocks = [
            " ".join(w[i * block_words : (i + 1) * block_words])
            for i in range(nb)
        ]
        dups = 0
        for b in blocks:
            if b in seen:
                dups += 1
            else:
                seen.add(b)
        out[doc_id] = (nb, dups)
    return out


@settings(
    max_examples=8, deadline=None, suppress_health_check=list(HealthCheck)
)
@given(texts=st.lists(doc_strategy, min_size=2, max_size=6))
def test_block_dedup_matches_python_reference(spark, texts):
    from airflow_scraping_etl_tutorial_spark.operators.dedup import (
        block_dedup_stats,
    )

    df = spark.createDataFrame(
        [Row(doc_id=i, text=t) for i, t in enumerate(texts)]
    )
    got = {
        r.doc_id: (r.n_blocks, r.n_dup_blocks)
        for r in block_dedup_stats(df, block_words=4).collect()
    }
    assert got == _ref_block_stats(texts, block_words=4)


def test_block_dedup_planted_shared_block(spark):
    """A doc repeating another doc's exact 16-word block is charged the
    duplicate; the earlier doc keeps the canonical occurrence."""
    from airflow_scraping_etl_tutorial_spark.operators.dedup import (
        block_dedup_stats,
    )

    block = " ".join(f"w{i}" for i in range(16))
    other = " ".join(f"x{i}" for i in range(16))
    df = spark.createDataFrame(
        [Row(doc_id=1, text=block), Row(doc_id=2, text=other + " " + block)]
    )
    got = {
        r.doc_id: (r.n_blocks, r.n_dup_blocks)
        for r in block_dedup_stats(df, block_words=16).collect()
    }
    assert got == {1: (1, 0), 2: (2, 1)}


@settings(
    max_examples=8, deadline=None, suppress_health_check=list(HealthCheck)
)
@given(texts=st.lists(doc_strategy, min_size=1, max_size=6))
def test_adjacent_pair_counts_match_counter(spark, texts):
    from collections import Counter

    from airflow_scraping_etl_tutorial_spark.operators.text import (
        adjacent_pair_counts,
    )

    ref: Counter = Counter()
    for t in texts:
        w = t.split(" ")
        ref.update(f"{a} {b}" for a, b in zip(w, w[1:]))
    df = spark.createDataFrame([Row(doc_id=i, text=t) for i, t in enumerate(texts)])
    got = {
        r.pair: r.pair_count for r in adjacent_pair_counts(df).collect()
    }
    assert got == dict(ref)
