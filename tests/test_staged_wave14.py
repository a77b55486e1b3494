"""Wave-14 catalog entries (plans/llm_ops13.py): the wave's structural
claims — assortativity bounds, blocking-scheme dominance ordering,
both merge proofs' zero-mismatch invariants, backtest accounting, and
policy conservation for touch attribution."""

from __future__ import annotations

from airflow_scraping_etl_tutorial_spark.plans import llm_ops13  # noqa: F401  (registers)
from airflow_scraping_etl_tutorial_spark.plans.registry import _REGISTRY

SF_DIR = "/root/testdata/sf0.001"


# ---------------------------------------------------------------------------
# Structural invariants
# ---------------------------------------------------------------------------


def test_assortativity_is_a_correlation(spark):
    r = _REGISTRY["q273_dup_graph_assortativity"].fn(spark, SF_DIR).collect()[0]
    assert -1_000_000 <= r.assortativity_ppm <= 1_000_000
    assert r.n_edges > 0
    # every edge has two distinct endpoints
    assert r.n_nodes >= 2


def test_blocking_schemes_trade_reduction_for_recall(spark):
    rows = {
        r.scheme: r
        for r in _REGISTRY["q274_blocking_key_quality"].fn(spark, SF_DIR).collect()
    }
    assert set(rows) == {"prefix12", "suffix3", "length"}
    # fixture names are fixed-width 'Customer#NNNNNNNNN': length-blocking
    # puts everything in ONE block -> zero reduction, perfect recall
    assert rows["length"].n_blocks == 1
    assert rows["length"].reduction_ppm == 0
    assert rows["length"].recall_ppm == 1_000_000
    # suffix3 blocks on the last 3 digits: at sf0.001 (150 names,
    # ids 1-150) every block is a singleton -> total reduction, zero
    # recall — the opposite corner of the tradeoff
    assert rows["suffix3"].reduction_ppm == 1_000_000
    assert rows["suffix3"].recall_ppm == 0
    # invariants that must hold for every scheme at every sf
    truth = {r.n_truth_pairs for r in rows.values()}
    assert len(truth) == 1 and truth.pop() > 0  # same truth set
    for r in rows.values():
        assert 0 <= r.reduction_ppm <= 1_000_000
        assert 0 <= r.n_caught <= r.n_truth_pairs
        assert r.recall_ppm == (1_000_000 * r.n_caught) // r.n_truth_pairs


def test_moments_merge_is_exact(spark):
    r = _REGISTRY["q275_mergeable_moments_audit"].fn(spark, SF_DIR).collect()[0]
    assert r.n_mismatch == 0
    assert r.merged_n == r.direct_n > 0
    assert r.merged_sum == r.direct_sum
    assert r.merged_sumsq == r.direct_sumsq
    assert 1 <= r.n_shards <= 16


def test_backtest_accounting(spark):
    rows = _REGISTRY["q276_naive_forecast_backtest"].fn(spark, SF_DIR).collect()
    assert len(rows) == 5  # click, error, purchase, signup, view
    for r in rows:
        assert r.n_preds == r.n_days - 1  # one day has no yesterday
        assert r.total_abs_err >= 0
        if r.n_preds:
            assert r.mae_ppm == (1_000_000 * r.total_abs_err) // r.n_preds


def test_attribution_policies_conserve_totals(spark):
    rows = _REGISTRY["q277_touch_attribution"].fn(spark, SF_DIR).collect()
    by_policy = {}
    for r in rows:
        assert r.touch_type != "purchase"
        agg = by_policy.setdefault(r.policy, [0, 0])
        agg[0] += r.n_conversions
        agg[1] += r.attributed_cents
    assert set(by_policy) == {"first_touch", "last_touch"}
    # both policies allocate the SAME conversions and the SAME money —
    # only the split across channels moves
    assert by_policy["first_touch"] == by_policy["last_touch"]
    assert by_policy["first_touch"][0] > 0


def test_histogram_merge_is_exact(spark):
    r = _REGISTRY["q278_histogram_merge_audit"].fn(spark, SF_DIR).collect()[0]
    assert r.n_mismatch == 0
    assert 1 <= r.n_bins_used <= 256
    assert 1 <= r.n_shards <= 8
    assert r.n_rows > 0
