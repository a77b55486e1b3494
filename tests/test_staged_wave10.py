"""Wave-10 catalog entries (plans/llm_ops9.py): the structural
guarantees the wave claims — the chunk-audit closed forms vs an
explicit enumeration, containment >= jaccard, BM25 idf positivity,
compaction row conservation, and the burst detector's integer decision
rule."""

from __future__ import annotations

import math

from airflow_scraping_etl_tutorial_spark.plans import llm_ops9  # noqa: F401  (registers)
from airflow_scraping_etl_tutorial_spark.plans.registry import _REGISTRY

SF_DIR = "/root/testdata/sf0.001"


def _chunk_sim(n: int, size: int = 32, stride: int = 24):
    """Explicit chunk enumeration the q236 closed forms must match."""
    starts = [0]
    while starts[-1] + size < n:
        starts.append(starts[-1] + stride)
    sizes = [min(size, n - s) for s in starts]
    nc = len(starts)
    emitted = sum(sizes)
    pad = size * nc - emitted
    return nc, emitted - n, pad


def test_chunk_closed_forms_match_enumeration():
    for n in range(1, 400):
        nc = 1 if n <= 32 else 1 + (n - 9) // 24
        overlap = 8 * (nc - 1)
        pad = 24 * nc + 8 - n
        assert (nc, overlap, pad) == _chunk_sim(n), n


def test_containment_dominates_jaccard(spark):
    out = _REGISTRY["q237_shingle_containment"].fn(spark, SF_DIR).collect()
    assert out, "fixture has near-dup pairs; containment output must be non-empty"
    for r in out:
        assert r.containment >= r.jaccard - 1e-9
        assert 0.0 <= r.jaccard <= 1.0
        assert r.containment <= 1.0 + 1e-9


def test_bm25_scores_positive_and_sorted(spark):
    rows = _REGISTRY["q235_bm25_retrieval"].fn(spark, SF_DIR).collect()
    assert rows
    # Lucene idf form is strictly positive, so scores must be too.
    assert all(r.bm25 > 0 for r in rows)
    assert [r.bm25 for r in rows] == sorted((r.bm25 for r in rows), reverse=True)
    assert all(1 <= r.n_terms_hit <= 5 for r in rows)


def test_cdc_compaction_conserves_rows_and_users(spark):
    from airflow_scraping_etl_tutorial_spark.sources.tables import load

    ev = load(spark, SF_DIR, "events")
    n_events = ev.count()
    n_users = ev.select("user_id").distinct().count()
    rows = _REGISTRY["q241_cdc_compaction_audit"].fn(spark, SF_DIR).collect()
    assert sum(r.total_rows for r in rows) == n_events
    # exactly one live row per user across all types
    assert sum(r.live_rows for r in rows) == n_users
    for r in rows:
        assert r.total_rows == r.live_rows + r.superseded_rows


def test_burst_flag_matches_integer_rule(spark):
    rows = _REGISTRY["q240_ewma_burst_detection"].fn(spark, SF_DIR).collect()
    assert rows
    for r in rows:
        expect = 1 if (r.decay_num > 0 and 127 * r.n_events > 2 * r.decay_num) else 0
        assert r.is_burst == expect
        if r.decay_num == 0:
            assert r.burst_ratio is None


def test_budget_packing_respects_half_budget(spark, duck):
    rows = _REGISTRY["q239_quality_budget_packing"].fn(spark, SF_DIR).collect()
    total = duck.sql(
        "SELECT SUM(LEN(STRING_SPLIT(text,' '))) FROM documents"
    ).fetchone()[0]
    sel = sum(r.sel_tokens for r in rows)
    assert 2 * sel <= total
    assert sum(r.n_selected for r in rows) > 0


def test_affinity_jaccard_bounds_and_cap(spark):
    rows = _REGISTRY["q242_item_cooccurrence_affinity"].fn(spark, SF_DIR).collect()
    assert rows
    for r in rows:
        assert 0.0 < r.jaccard <= 1.0
        assert r.n_common >= 1


def test_quality_dup_lift_counts(spark):
    rows = _REGISTRY["q243_quality_vs_dup_lift"].fn(spark, SF_DIR).collect()
    assert {r.decile for r in rows} <= set(range(1, 11))
    for r in rows:
        assert 0 <= r.n_dup <= r.n_docs


def test_rrf_fusion_integer_identity(spark):
    rows = _REGISTRY["q245_rrf_hybrid_retrieval"].fn(spark, SF_DIR).collect()
    assert rows
    for r in rows:
        expect = 0
        if r.lex_rank is not None:
            assert 1 <= r.lex_rank <= 100
            expect += 1000000 // (60 + r.lex_rank)
        if r.dense_rank is not None:
            assert 1 <= r.dense_rank <= 100
            expect += 1000000 // (60 + r.dense_rank)
        assert r.rrf_score_ppm == expect
        assert r.lex_rank is not None or r.dense_rank is not None
    scores = [r.rrf_score_ppm for r in rows]
    assert scores == sorted(scores, reverse=True)


def test_srm_audit_conserves_users_and_deltas(spark):
    from airflow_scraping_etl_tutorial_spark.sources.tables import load

    rows = _REGISTRY["q246_ab_assignment_srm_audit"].fn(spark, SF_DIR).collect()
    ev = load(spark, SF_DIR, "events")
    n_users = ev.select("user_id").distinct().count()
    assert sum(r.n_users for r in rows) == n_users
    # deltas across arms must cancel: sum(256*obs) == 256*total and
    # sum(expected_x256) == (128+64+64)*total == 256*total.
    assert sum(r.delta_x256 for r in rows) == 0
    for r in rows:
        assert r.expected_x256 in (128 * n_users, 64 * n_users)
        assert 256 * r.n_users - r.expected_x256 == r.delta_x256


def _final_plan(spark, name):
    df = _REGISTRY[name].fn(spark, SF_DIR)
    df.write.format("noop").mode("overwrite").save()
    return df._jdf.queryExecution().executedPlan().toString()


def test_bm25_plan_is_topk_with_single_scan_one_row_bnlj(spark):
    plan = _final_plan(spark, "q235_bm25_retrieval")
    assert "TakeOrderedAndProject" in plan  # top-20 never global-sorts
    # r15 single-scan shape: the corpus scalars (N, total length, five
    # per-term dfs) collapse to ONE broadcast row cross-joined in — a
    # BroadcastNestedLoopJoin over a 1-row build side, not the old
    # BroadcastHashJoin of a per-term stats table
    assert "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan


def test_chunk_audit_plan_is_single_aggregate(spark):
    plan = _final_plan(spark, "q236_rag_chunk_audit")
    # closed forms: no explode, no join — one scan, one agg shuffle
    assert "Generate explode" not in plan
    assert "Join" not in plan
    assert plan.count("Exchange hashpartitioning") == 1


def test_affinity_plan_broadcasts_reach_tables(spark):
    plan = _final_plan(spark, "q242_item_cooccurrence_affinity")
    assert "BroadcastHashJoin" in plan  # sz reach sides broadcast
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan


def test_entropy_rate_nonnegative_and_bounded(spark, duck):
    rows = _REGISTRY["q244_bigram_entropy_rate"].fn(spark, SF_DIR).collect()
    assert rows
    # H(w2|w1) in nats: nonnegative, at most LN(vocab size).
    vocab = duck.sql(
        "SELECT COUNT(DISTINCT tok) FROM "
        "(SELECT UNNEST(STRING_SPLIT(text,' ')) AS tok FROM documents)"
    ).fetchone()[0]
    for r in rows:
        assert -1e-9 <= r.entropy_rate <= math.log(vocab) + 1e-9
