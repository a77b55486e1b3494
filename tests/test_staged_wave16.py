"""Wave-16 catalog entries (plans/llm_ops15.py): the wave's structural
claims — water-filling budget feasibility and cap semantics,
leaderboard-stability accounting, information-theoretic inequalities
for the type×hour MI, dictionary-benefit sign structure, and
runtime-filter pruning bounds."""

from __future__ import annotations

from airflow_scraping_etl_tutorial_spark.plans import llm_ops15  # noqa: F401  (registers)
from airflow_scraping_etl_tutorial_spark.plans.registry import _REGISTRY

SF_DIR = "/root/testdata/sf0.001"


# ---------------------------------------------------------------------------
# Structural invariants
# ---------------------------------------------------------------------------


def test_waterfill_respects_budget_and_caps(spark):
    from airflow_scraping_etl_tutorial_spark.plans.llm_ops15 import _BUDGET

    rows = _REGISTRY["q285_waterfill_token_allocation"].fn(spark, SF_DIR).collect()
    total_avail = sum(r.available_tokens for r in rows)
    total_alloc = sum(r.allocated_tokens for r in rows)
    n = len(rows)
    for r in rows:
        assert 0 <= r.allocated_tokens <= r.available_tokens
        assert r.capped in (0, 1)
        if r.capped:
            assert r.allocated_tokens < r.available_tokens
        else:
            # uncapped sources keep everything OR sit exactly at θ
            pass
    if total_avail <= _BUDGET:
        # budget covers the corpus: everyone keeps everything
        assert total_alloc == total_avail
        assert all(r.capped == 0 for r in rows)
    else:
        # budget binds: allocation exhausts it up to integer-θ slack
        # (at most one token per source below the exact waterline)
        assert total_alloc <= _BUDGET
        assert total_alloc >= _BUDGET - n
        assert any(r.capped == 1 for r in rows)
        # all capped sources get the same allocation (the waterline)
        capped_allocs = {r.allocated_tokens for r in rows if r.capped}
        assert len(capped_allocs) <= 1


def test_ranking_stability_accounting(spark):
    rows = _REGISTRY["q286_ranking_stability_bootstrap"].fn(spark, SF_DIR).collect()
    n_sources = len(rows)
    assert n_sources == 20
    # exactly 5 top-5 slots exist per resample, 32 resamples
    assert sum(r.n_resamples_in_top5 for r in rows) == 32 * 5
    for r in rows:
        assert 0 <= r.n_resamples_in_top5 <= 32
        assert 1 <= r.best_rank <= r.worst_rank <= n_sources
        # a source ever in the top 5 must have best_rank <= 5
        if r.n_resamples_in_top5 > 0:
            assert r.best_rank <= 5


def test_mutual_information_inequalities(spark):
    r = _REGISTRY["q287_type_hour_mutual_information"].fn(spark, SF_DIR).collect()[0]
    q = 5e-7 + 1e-9  # DECIMAL(18,6) per-term quantization slack
    assert r.n_events > 0
    # entropies are nonnegative; MI <= min(H(type), H(hour))
    assert r.h_type_nats >= -q
    assert r.h_hour_nats >= -q
    assert -q * 2 <= r.mi_nats <= min(r.h_type_nats, r.h_hour_nats) + 2 * q
    # 5 event types: H(type) <= ln 5; 24 hours: H(hour) <= ln 24
    import math

    assert r.h_type_nats <= math.log(5) + q
    assert r.h_hour_nats <= math.log(24) + q


def test_dictionary_benefit_sign_structure(spark):
    rows = {
        (r.table_name, r.column_name): r
        for r in _REGISTRY["q288_dictionary_encoding_benefit"].fn(spark, SF_DIR).collect()
    }
    assert len(rows) == 7
    # near-unique c_name must LOSE space under dictionary encoding
    assert rows[("customer", "c_name")].benefit_ppm < 0
    # o_orderstatus is a 1-char column: the 2-byte code costs MORE
    # than the value — the second failure mode the audit exists for
    assert rows[("orders", "o_orderstatus")].benefit_ppm < 0
    # low-cardinality columns with multi-char values must win
    for key in (("events", "event_type"), ("customer", "c_mktsegment"),
                ("orders", "o_orderpriority"), ("documents", "source")):
        assert rows[key].benefit_ppm > 500_000
    for r in rows.values():
        assert 1 <= r.n_distinct <= r.n_rows
        assert r.raw_bytes > 0 and r.dict_bytes > 0
        # sign agrees with the byte delta
        assert (r.benefit_ppm >= 0) == (r.raw_bytes >= r.dict_bytes)


def test_runtime_filter_bounds(spark):
    r = _REGISTRY["q289_runtime_filter_benefit"].fn(spark, SF_DIR).collect()[0]
    assert 0 <= r.n_matching_lineitems <= r.n_lineitems
    assert 0 <= r.skippable_ppm <= 1_000_000
    # a one-quarter window out of ~7 years: most of lineitem is skippable
    assert r.skippable_ppm > 800_000
    assert r.n_filtered_orders > 0
