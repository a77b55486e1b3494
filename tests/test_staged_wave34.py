"""Wave-34 catalog entries (plans/llm_ops33.py): python replays of the
triangle census and fluid-packing arithmetic, and the structural
invariants (clustering coefficient bounds, backoff tiers actually
firing on the held-out half, weighted-sample keys favoring heavy docs,
TF-IDF ranks dense per source)."""

from __future__ import annotations

from airflow_scraping_etl_tutorial_spark.plans import llm_ops33  # noqa: F401  (registers)
from airflow_scraping_etl_tutorial_spark.plans.registry import _REGISTRY

SF_DIR = "/root/testdata/sf0.001"


# ---------------------------------------------------------------------------
# Structural invariants and python replays
# ---------------------------------------------------------------------------


def test_triangle_census_python_replay(spark):
    """Recompute triangles and clustering from the operator's own edge
    list in pure python; every reported row must agree and respect
    the 2T <= d(d-1) bound."""
    from airflow_scraping_etl_tutorial_spark.functions.caching import (
        release_session_intermediates,
    )
    from airflow_scraping_etl_tutorial_spark.operators.dedup import (
        minhash_near_duplicates,
    )
    from airflow_scraping_etl_tutorial_spark.sources.tables import load

    docs = load(spark, SF_DIR, "documents")
    edges = {
        (r.doc_id_a, r.doc_id_b)
        for r in minhash_near_duplicates(docs, jaccard_threshold=0.5)
        .select("doc_id_a", "doc_id_b")
        .collect()
    }
    release_session_intermediates(spark)
    adj: dict[int, set] = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    tri = {
        v: sum(
            1
            for x in nbrs
            for y in nbrs
            if x < y and (min(x, y), max(x, y)) in edges
        )
        for v, nbrs in adj.items()
    }
    rows = _REGISTRY["q337_dup_graph_triangles"].fn(spark, SF_DIR).collect()
    assert rows, "the fixture dup graph must have degree-2+ nodes"
    for r in rows:
        assert r.degree == len(adj[r.doc_id])
        assert r.triangles == tri[r.doc_id]
        assert 2 * r.triangles <= r.degree * (r.degree - 1)
        assert (
            r.clustering_ppm
            == 2 * r.triangles * 1_000_000 // (r.degree * (r.degree - 1))
        )


def test_backoff_tiers_fire_on_heldout(spark):
    """The whole point of the train/score split: the held-out half
    must contain bigrams unseen in training (tier 1), and scores must
    be positive centi-nat sums with means consistent with totals."""
    rows = _REGISTRY["q338_stupid_backoff_scoring"].fn(spark, SF_DIR).collect()
    assert rows
    assert sum(r.n_backoff_unigram for r in rows) > 0
    for r in rows:
        # unseen bigrams exist corpus-wide but not necessarily in
        # EVERY source (src0's held-out text is fully covered at
        # sf0.001) — per source only the bounds are guaranteed
        assert 0 <= r.n_backoff_unigram + r.n_backoff_unknown <= r.n_bigrams
        assert r.total_centinats > 0
        assert r.mean_centinats == r.total_centinats // r.n_bigrams


def test_weighted_sample_favors_heavy_docs(spark, duck):
    """A-ES with weight = token count must overselect long docs: the
    mean weight of the 50 sampled docs exceeds the corpus mean (the
    fixtures' weight spread makes this deterministic), and ranks are
    exactly 1..50 with distinct doc_ids."""
    rows = _REGISTRY["q339_weighted_sample_aes"].fn(spark, SF_DIR).collect()
    assert [r.sample_rank for r in rows] == list(range(1, 51))
    assert len({r.doc_id for r in rows}) == 50
    (corpus_mean,) = duck.sql(
        "SELECT AVG(LEN(STRING_SPLIT(text, ' '))) FROM documents"
    ).fetchone()
    sample_mean = sum(r.weight for r in rows) / len(rows)
    assert sample_mean > corpus_mean
    for r in rows:
        assert r.lnu_micro < 0  # ln of a (0,1) uniform


def test_compaction_plan_python_replay(spark, duck):
    """Replay the fluid packing off the raw per-day counts."""
    sizes = sorted(
        (n for (n,) in duck.sql(
            "SELECT COUNT(*) FROM orders GROUP BY o_orderdate"
        ).fetchall()),
        reverse=True,
    )
    total, target = sum(sizes), 10_000
    n_out = (total + target - 1) // target
    cum = 0
    n_split = 0
    max_split = 0
    for s in sizes:
        first, last = cum // target, (cum + s - 1) // target
        n_split += last > first
        max_split = max(max_split, last - first)
        cum += s
    (r,) = _REGISTRY["q340_compaction_plan_audit"].fn(spark, SF_DIR).collect()
    assert (r.n_input_files, r.total_rows) == (len(sizes), total)
    assert r.n_output_files == n_out
    assert r.avg_fill_ppm == total * 1_000_000 // (n_out * target)
    assert (r.n_files_split, r.max_splits_one_file) == (n_split, max_split)


def test_tfidf_ranks_dense_per_source(spark):
    rows = _REGISTRY["q341_tfidf_source_keywords"].fn(spark, SF_DIR).collect()
    by_source: dict[str, list] = {}
    for r in rows:
        by_source.setdefault(r.source, []).append(r)
    assert by_source
    for source, rs in by_source.items():
        assert sorted(x.rnk for x in rs) == list(range(1, len(rs) + 1))
        assert len(rs) <= 5
        scores = [x.score for x in sorted(rs, key=lambda x: x.rnk)]
        assert scores == sorted(scores, reverse=True)
        for x in rs:
            assert x.score == x.tf * x.idf_micro
            assert x.idf_micro >= 0
