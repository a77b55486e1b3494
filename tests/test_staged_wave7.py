"""Wave-7 catalog entries (plans/llm_ops6.py): unit properties of the
Bloom membership operator the wave introduces
(operators/membership.py)."""

from __future__ import annotations

from pyspark.sql import functions as F

from airflow_scraping_etl_tutorial_spark.operators.membership import (
    bloom_bitmap,
    bloom_probe,
)

# ---------------------------------------------------------------------------
# Bloom membership operator unit properties
# ---------------------------------------------------------------------------


def _kv(spark, texts):
    return spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id bigint, text string"
    )


def test_bloom_no_false_negatives(spark):
    """Every inserted key must probe as a hit — the Bloom guarantee."""
    corpus = _kv(spark, [f"document number {i} body" for i in range(200)])
    bm = bloom_bitmap(corpus)
    hits = bloom_probe(corpus, bm)
    assert hits.count() == 200
    assert hits.agg(F.min("bloom_hit")).collect()[0][0] == 1


def test_bloom_screens_out_most_absent_keys(spark):
    """Absent keys mostly miss (fp rate is bounded, not zero): with
    200 keys x 4 hashes in 65536 bits the expected fp rate is ~2e-9,
    so 500 absent probes should all miss at this size."""
    corpus = _kv(spark, [f"stored {i}" for i in range(200)])
    absent = _kv(spark, [f"novel {i}" for i in range(500)])
    bm = bloom_bitmap(corpus)
    hits = bloom_probe(absent, bm)
    assert hits.agg(F.sum("bloom_hit")).collect()[0][0] == 0


def test_bloom_bitmap_deterministic_and_bounded(spark):
    """The bitmap is a pure function of the key set and never exceeds
    ceil(m/60) words, regardless of input partitioning."""
    texts = [f"doc {i}" for i in range(64)]
    a = bloom_bitmap(_kv(spark, texts)).collect()
    b = bloom_bitmap(_kv(spark, texts).repartition(7)).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    assert len(a) <= 65536 // 60 + 1
    assert all(row.bits != 0 for row in a)
