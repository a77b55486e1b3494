"""The four shingling kernels against pure-Python references, and the
structural guard that keeps them linear: each splits its text once per
row, never inside a higher-order-function lambda (which Spark evaluates
interpreted, once per array element)."""

from __future__ import annotations

import random
from collections import Counter
from decimal import ROUND_HALF_UP, Decimal

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from airflow_scraping_etl_tutorial_spark.operators.dedup import (
    block_dedup_stats,
    word_shingles,
)
from airflow_scraping_etl_tutorial_spark.operators.text import (
    adjacent_pair_counts,
    repetition_stats,
)

EDGE_TEXTS = [
    None,
    "",
    " ",
    "a",
    "a b",
    "a b c",
    "a b a b a b a b",  # repeated shingles, bigrams and blocks
    "a  b  c",  # double spaces: empty tokens
    "a b c ",  # trailing space: a trailing empty token
    " a b c",
    "x y z x y z",
]


_rng = random.Random(13)
TEXTS = EDGE_TEXTS + [
    " ".join(_rng.choice(["a", "b", "c", "d", "", "zz"]) for _ in range(_rng.randint(0, 24)))
    for _ in range(40)
]


def _words(text: str | None) -> list[str] | None:
    # Spark's split(text, " ") keeps empty and trailing empty tokens
    return None if text is None else text.split(" ")


def _round6(x: float) -> float:
    # Spark rounds a double HALF_UP on its decimal form
    return float(Decimal(repr(x)).quantize(Decimal("1e-6"), rounding=ROUND_HALF_UP))


def ref_word_shingles(text: str | None, k: int) -> list[str]:
    w = _words(text)
    if w is None or len(w) < k:
        return []
    return list(dict.fromkeys(" ".join(w[i : i + k]) for i in range(len(w) - k + 1)))


def ref_repetition_stats(text: str | None) -> tuple:
    w = _words(text)
    if w is None:
        return (None, None, 0.0)
    bigrams = [" ".join(w[i : i + 2]) for i in range(len(w) - 1)]
    dup_bigram = _round6(1.0 - len(set(bigrams)) / len(bigrams)) if bigrams else 0.0
    return (len(w), _round6(1.0 - len(set(w)) / len(w)), dup_bigram)


def ref_adjacent_pair_counts(texts: list[str | None]) -> list[tuple[str, int]]:
    c = Counter(
        f"{w[i]} {w[i + 1]}" for w in map(_words, texts) if w for i in range(len(w) - 1)
    )
    return sorted(c.items(), key=lambda kv: (-kv[1], kv[0]))


def ref_block_dedup_stats(texts: list[str | None], bw: int) -> list[tuple]:
    occ = []  # (block, doc_id, block_idx); a null text is one null block
    for doc_id, t in enumerate(texts):
        w = _words(t)
        if w is None:
            occ.append((None, doc_id, 0))
            continue
        n_blocks = max(-(-len(w) // bw), 1)
        occ += [(" ".join(w[i * bw : (i + 1) * bw]), doc_id, i) for i in range(n_blocks)]
    first = {}
    for block, doc_id, idx in sorted(occ, key=lambda o: (o[1], o[2])):
        first.setdefault(block, (doc_id, idx))
    n, dup = Counter(), Counter()
    for block, doc_id, idx in occ:
        n[doc_id] += 1
        dup[doc_id] += first[block] != (doc_id, idx)
    return sorted((d, n[d], dup[d], _round6(dup[d] / n[d])) for d in n)


@pytest.fixture(scope="module")
def docs(spark, tmp_path_factory):
    # read back from parquet: over a local relation the optimizer would
    # fold the kernels into constants, leaving no lambda to inspect
    path = str(tmp_path_factory.mktemp("kernels") / "docs")
    spark.createDataFrame(
        [Row(doc_id=i, text=t) for i, t in enumerate(TEXTS)], "doc_id long, text string"
    ).write.parquet(path)
    return spark.read.parquet(path)


@pytest.mark.parametrize("k", [1, 2, 3])
def test_word_shingles_matches_reference(docs, k):
    got = dict(docs.select("doc_id", word_shingles(F.col("text"), k)).collect())
    assert got == {i: ref_word_shingles(t, k) for i, t in enumerate(TEXTS)}


def test_repetition_stats_matches_reference(docs):
    stats = repetition_stats(F.col("text"))
    got = {r[0]: tuple(r[1:]) for r in docs.select("doc_id", *stats.values()).collect()}
    assert got == {i: ref_repetition_stats(t) for i, t in enumerate(TEXTS)}


def test_adjacent_pair_counts_matches_reference(docs):
    got = [tuple(r) for r in adjacent_pair_counts(docs).collect()]
    assert got == ref_adjacent_pair_counts(TEXTS)
    assert [tuple(r) for r in adjacent_pair_counts(docs, top_n=3).collect()] == got[:3]


@pytest.mark.parametrize("bw", [2, 3])
def test_block_dedup_stats_matches_reference(docs, bw):
    got = [tuple(r) for r in block_dedup_stats(docs, block_words=bw).orderBy("doc_id").collect()]
    assert got == ref_block_dedup_stats(TEXTS, bw)


def _children(node) -> list:
    kids = node.children()
    return [kids.apply(i) for i in range(kids.size())]


def _lambda_bodies(expr):
    """Every LambdaFunction body under an expression."""
    if expr.nodeName() == "LambdaFunction":
        yield expr.function()
    for child in _children(expr):
        yield from _lambda_bodies(child)


def _contains(expr, node_name: str) -> bool:
    return expr.nodeName() == node_name or any(_contains(c, node_name) for c in _children(expr))


def _plan_lambda_bodies(df) -> list:
    """Every LambdaFunction body in the optimized plan of a frame."""
    bodies, plans = [], [df._jdf.queryExecution().optimizedPlan()]
    while plans:
        plan = plans.pop()
        plans += _children(plan)
        exprs = plan.expressions()
        for i in range(exprs.size()):
            bodies += _lambda_bodies(exprs.apply(i))
    return bodies


def test_no_split_inside_a_lambda_body(docs):
    stats = repetition_stats(F.col("text"))
    kernels = {
        "word_shingles": docs.select(word_shingles(F.col("text"), 3)),
        "repetition_stats": docs.select(*stats.values()),
        "adjacent_pair_counts": adjacent_pair_counts(docs),
        "block_dedup_stats": block_dedup_stats(docs),
    }
    found = {}
    for name, df in kernels.items():
        bodies = _plan_lambda_bodies(df)
        assert bodies, f"{name}: no lambda left to check"
        found[name] = [b.toString() for b in bodies if _contains(b, "StringSplit")]
    assert found == {name: [] for name in kernels}
