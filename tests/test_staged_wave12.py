"""Wave-12 catalog entries (plans/llm_ops11.py): the wave's structural
claims — converged-model census conservation, k-core monotonicity,
decile bounds, leakage-count consistency, tail-mass closure,
truncation monotonicity, detector-agreement set algebra, mixture-shift
closure, and Fano nonnegativity."""

from __future__ import annotations

from airflow_scraping_etl_tutorial_spark.plans import llm_ops11  # noqa: F401  (registers)
from airflow_scraping_etl_tutorial_spark.plans.registry import _REGISTRY
from airflow_scraping_etl_tutorial_spark.sources.tables import load

SF_DIR = "/root/testdata/sf0.001"


# ---------------------------------------------------------------------------
# Structural invariants
# ---------------------------------------------------------------------------


def test_kmeans_census_conserves_vectors(spark):
    """Every vector lands in exactly one cluster, and the converged
    API reports the forced iteration count (tol=0 -> max_iterations)."""
    rows = _REGISTRY["q258_kmeans_converged_assignment"].fn(spark, SF_DIR).collect()
    n_vecs = load(spark, SF_DIR, "embeddings").count()
    assert sum(r.n_assigned for r in rows) == n_vecs
    assert all(r.iterations == 2 for r in rows)
    assert all(r.n_assigned >= 1 for r in rows)


def test_kcore_peel_is_monotone(spark):
    """Peeling only removes: node and edge counts are non-increasing
    across rounds, and a surviving round has >= k*nodes/2 edges."""
    rows = sorted(
        _REGISTRY["q259_kcore_peel_rounds"].fn(spark, SF_DIR).collect(),
        key=lambda r: r.round,
    )
    assert [r.round for r in rows] == [1, 2, 3]
    for a, b in zip(rows, rows[1:]):
        assert b.n_nodes <= a.n_nodes
        assert b.n_edges <= a.n_edges
    # a 2-core fixpoint (if reached) has every node with degree >= 2,
    # so edges >= nodes; rounds before the fixpoint may not, but edge
    # count can never exceed the complete graph
    for r in rows:
        assert r.n_edges <= r.n_nodes * (r.n_nodes - 1) // 2 or r.n_nodes == 0


def test_dup_decile_bounds_and_doc_conservation(spark):
    rows = _REGISTRY["q260_duplicate_shingle_coverage"].fn(spark, SF_DIR).collect()
    assert all(0 <= r.dup_decile <= 9 for r in rows)
    # every doc with >= 3 tokens appears in exactly one decile
    docs = load(spark, SF_DIR, "documents")
    from pyspark.sql import functions as F

    n_eligible = docs.filter(F.size(F.split("text", " ")) >= 3).count()
    assert sum(r.n_docs for r in rows) == n_eligible


def test_time_split_leakage_counts_consistent(spark):
    rows = _REGISTRY["q261_time_split_leakage"].fn(spark, SF_DIR).collect()
    n_users = load(spark, SF_DIR, "events").select("user_id").distinct().count()
    for r in rows:
        assert r.n_overlap_users <= min(r.n_train_users, r.n_eval_users)
        assert max(r.n_train_users, r.n_eval_users) <= n_users
        assert 0 <= r.leak_ppm <= 1_000_000


def test_token_tail_mass_closes_to_a_million(spark):
    """Per source, band ppm shares sum to ~1e6 (truncating division
    loses at most one ppm per band)."""
    rows = _REGISTRY["q262_token_tail_mass"].fn(spark, SF_DIR).collect()
    by_src = {}
    for r in rows:
        by_src.setdefault(r.source, []).append(r.mass_ppm)
    for src, ppms in by_src.items():
        assert 1_000_000 - len(ppms) <= sum(ppms) <= 1_000_000, src


def test_truncation_loss_monotone_in_window(spark):
    """A longer window never loses more tokens; totals are
    window-invariant."""
    rows = _REGISTRY["q263_truncation_loss"].fn(spark, SF_DIR).collect()
    by_src = {}
    for r in rows:
        by_src.setdefault(r.source, {})[r.max_len] = r
    for src, d in by_src.items():
        assert d[16].lost_tokens >= d[32].lost_tokens >= d[64].lost_tokens
        assert d[16].total_tokens == d[32].total_tokens == d[64].total_tokens
        for r in d.values():
            assert 0 <= r.lost_tokens <= r.total_tokens


def test_detector_agreement_set_algebra(spark):
    r = _REGISTRY["q264_detector_agreement"].fn(spark, SF_DIR).collect()[0]
    assert r.n_both <= min(r.n_minhash, r.n_simhash)
    assert 0 <= r.agreement_ppm <= 1_000_000


def test_mixture_shift_closure(spark):
    """after <= before per source; shifts roughly cancel (truncation
    slack only); ppm columns close to ~1e6."""
    rows = _REGISTRY["q265_dedup_mixture_shift"].fn(spark, SF_DIR).collect()
    for r in rows:
        assert r.n_after <= r.n_before
        assert r.shift_ppm == r.after_ppm - r.before_ppm
    n = len(rows)
    assert 1_000_000 - n <= sum(r.before_ppm for r in rows) <= 1_000_000
    assert 1_000_000 - n <= sum(r.after_ppm for r in rows) <= 1_000_000
    assert abs(sum(r.shift_ppm for r in rows)) <= n


def test_fano_nonnegative_and_conserves_events(spark):
    rows = _REGISTRY["q266_event_type_fano"].fn(spark, SF_DIR).collect()
    assert all(r.fano_ppm >= 0 for r in rows)
    n_events = load(spark, SF_DIR, "events").count()
    assert sum(r.n_events for r in rows) == n_events
