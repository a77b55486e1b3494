"""Wave-15 catalog entries (plans/llm_ops14.py): the wave's structural
claims — bootstrap sanity (envelope brackets the point estimate), FD
truths on key columns, coverage-curve monotonicity, hard-negative
accounting, padding dominance of length bucketing, and
survival-probability ordering for the memorylessness test."""

from __future__ import annotations

from airflow_scraping_etl_tutorial_spark.plans import llm_ops14  # noqa: F401  (registers)
from airflow_scraping_etl_tutorial_spark.plans.registry import _REGISTRY

SF_DIR = "/root/testdata/sf0.001"


# ---------------------------------------------------------------------------
# Structural invariants
# ---------------------------------------------------------------------------


def test_poisson_thresholds_are_a_cdf():
    from airflow_scraping_etl_tutorial_spark.plans.llm_ops14 import _POIS_T

    assert len(_POIS_T) == 10
    assert all(a < b for a, b in zip(_POIS_T, _POIS_T[1:]))
    # P(w == 0) = 1/e of the 32-bit space, within rounding
    assert abs(_POIS_T[0] / 2**32 - 0.36787944117144233) < 1e-9
    # the CDF is essentially exhausted by k = 9
    assert _POIS_T[-1] / 2**32 > 0.9999998


def test_bootstrap_envelope_brackets_the_estimate(spark):
    r = _REGISTRY["q279_poisson_bootstrap_mean"].fn(spark, SF_DIR).collect()[0]
    assert r.n_resamples == 32
    assert r.boot_var_cents2 >= 0
    assert r.min_mean_cents <= r.max_mean_cents
    # the resample envelope surrounds the point estimate (truncation
    # slack of 1 cent on each side)
    assert r.min_mean_cents - 1 <= r.mean_cents <= r.max_mean_cents + 1
    assert r.n_orders > 0


def test_fd_truths_hold_on_key_columns(spark):
    rows = {
        (r.table_name, r.determinant): r
        for r in _REGISTRY["q280_functional_dependency_audit"].fn(spark, SF_DIR).collect()
    }
    assert len(rows) == 5
    # key-determined dependencies can never be violated
    for key in (("customer", "c_custkey"), ("orders", "o_orderkey"),
                ("nation", "n_nationkey")):
        assert rows[key].fd_holds == 1
        assert rows[key].n_violating == 0
    # fd_holds is exactly (n_violating == 0) for every candidate
    for r in rows.values():
        assert r.fd_holds == (1 if r.n_violating == 0 else 0)
        assert 0 <= r.n_violating <= r.n_det_values


def test_coverage_curve_is_monotone(spark):
    rows = sorted(
        _REGISTRY["q281_source_coverage_curve"].fn(spark, SF_DIR).collect(),
        key=lambda r: r.pct,
    )
    assert [r.pct for r in rows] == [50, 90, 99]
    for lo, hi in zip(rows, rows[1:]):
        assert lo.k_sources <= hi.k_sources
        assert lo.covered_docs <= hi.covered_docs
    # 20 roughly balanced sources -> covering half the corpus takes
    # more than one source, covering 99% takes nearly all of them
    assert rows[0].k_sources > 1
    assert rows[-1].k_sources <= 20


def test_hard_negative_histogram_accounts_every_vector(spark):
    from airflow_scraping_etl_tutorial_spark.sources.tables import load

    rows = _REGISTRY["q282_hard_negative_mining"].fn(spark, SF_DIR).collect()
    n_vec = load(spark, SF_DIR, "embeddings").count()
    assert sum(r.n_vectors for r in rows) == n_vec
    assert all(0 <= r.hard_negatives <= 9 for r in rows)


def test_length_bucketing_dominates_arrival_order(spark):
    rows = {
        r.strategy: r
        for r in _REGISTRY["q283_padding_waste_audit"].fn(spark, SF_DIR).collect()
    }
    assert set(rows) == {"arrival", "length_sorted"}
    # both strategies batch the same documents
    assert rows["arrival"].useful_chars == rows["length_sorted"].useful_chars
    assert rows["arrival"].n_batches == rows["length_sorted"].n_batches
    # sorting by length within shards can only reduce padding
    assert rows["length_sorted"].padded_chars <= rows["arrival"].padded_chars
    assert rows["length_sorted"].waste_ppm <= rows["arrival"].waste_ppm
    for r in rows.values():
        assert r.padded_chars >= r.useful_chars


def test_survival_probabilities_are_ordered(spark):
    rows = sorted(
        _REGISTRY["q284_memorylessness_audit"].fn(spark, SF_DIR).collect(),
        key=lambda r: r.m_seconds,
    )
    assert [r.m_seconds for r in rows] == [60, 300, 900]
    for r in rows:
        assert 0 <= r.n_gt_2m <= r.n_gt_m <= r.n_gaps
        assert 0 <= r.cond_surv_ppm <= 1_000_000
        assert 0 <= r.surv_m_ppm <= 1_000_000
    # survival is non-increasing in the horizon; all gaps share one
    # denominator
    assert len({r.n_gaps for r in rows}) == 1
    for lo, hi in zip(rows, rows[1:]):
        assert hi.n_gt_m <= lo.n_gt_m
