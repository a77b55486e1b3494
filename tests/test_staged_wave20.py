"""Wave-20 catalog entries (plans/llm_ops19.py): the wave's structural
claims — the permutation test's null behavior and accounting,
standardization bounds, and the DiD null control."""

from __future__ import annotations

from airflow_scraping_etl_tutorial_spark.plans import llm_ops19  # noqa: F401  (registers)
from airflow_scraping_etl_tutorial_spark.plans.registry import _REGISTRY

SF_DIR = "/root/testdata/sf0.001"


# ---------------------------------------------------------------------------
# Structural invariants
# ---------------------------------------------------------------------------


def test_permutation_null_control(spark):
    r = _REGISTRY["q300_permutation_test_conversion"].fn(spark, SF_DIR).collect()[0]
    assert r.n_users == r.t_users + r.c_users > 0
    assert 0 <= r.t_conv <= r.t_users
    assert 0 <= r.c_conv <= r.c_users
    assert r.n_perms == 32
    assert 0 <= r.n_extreme <= r.n_perms
    # add-one p-value accounting
    assert r.p_value_ppm == (1_000_000 * (r.n_extreme + 1)) // (r.n_perms + 1)
    # the observed split is itself a null md5 gate, so the test must
    # NOT scream significance: p > 0.03 (1/33 is the smallest value)
    assert r.p_value_ppm > 30_000


def test_standardization_bounds(spark):
    rows = {
        r.variant: r
        for r in _REGISTRY["q301_standardized_conversion"].fn(spark, SF_DIR).collect()
    }
    assert set(rows) == {"treatment", "control"}
    for r in rows.values():
        assert r.n_users > 0
        assert 0 <= r.crude_ppm <= 1_000_000
        # 24 strata, each term truncated: adjusted within [0, 1e6] and
        # within 24 ppm + mix-shift of the crude rate's ballpark
        assert 0 <= r.adjusted_ppm <= 1_000_000
        # standardization reweights — it cannot move a rate outside
        # the min/max stratum rate envelope, so crude and adjusted
        # stay within 200k ppm of each other on this null split
        assert abs(r.adjusted_ppm - r.crude_ppm) < 200_000


def test_did_null_control(spark):
    r = _REGISTRY["q302_difference_in_differences"].fn(spark, SF_DIR).collect()[0]
    assert r.n_users > 0
    for c in ("treat_pre_ppm", "treat_post_ppm", "ctrl_pre_ppm", "ctrl_post_ppm"):
        assert 0 <= getattr(r, c) <= 1_000_000
    # identity: DiD is exactly the double difference of the cells
    assert r.did_ppm == (r.treat_post_ppm - r.treat_pre_ppm) - (
        r.ctrl_post_ppm - r.ctrl_pre_ppm
    )
    # null md5 split: no treatment exists, so |DiD| stays well under
    # the effect sizes a real launch decision would act on
    assert abs(r.did_ppm) < 300_000
