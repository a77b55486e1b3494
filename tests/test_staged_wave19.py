"""Wave-19 catalog entries (plans/llm_ops18.py): the wave's structural
claims — chi-square consistency with a python rational replay,
shrinkage direction and bounds, capture-recapture calibration against
the known truth, and Chao1/Good-Turing sanity."""

from __future__ import annotations

from airflow_scraping_etl_tutorial_spark.plans import llm_ops18  # noqa: F401  (registers)
from airflow_scraping_etl_tutorial_spark.plans.registry import _REGISTRY

SF_DIR = "/root/testdata/sf0.001"


# ---------------------------------------------------------------------------
# Structural invariants
# ---------------------------------------------------------------------------


def test_chisquare_rational_replay(spark):
    r = _REGISTRY["q296_ab_chisquare_conversion"].fn(spark, SF_DIR).collect()[0]
    a, b, c, d = r.a_conv, r.a_noconv, r.b_conv, r.b_noconv
    n = a + b + c + d
    assert r.n_users == n > 0
    den = (a + b) * (c + d) * (a + c) * (b + d)
    if den:
        num = 1000 * n * (a * d - b * c) ** 2
        assert r.chi2_milli == num // den
        assert r.significant == (1 if num > 3841 * den else 0)
    # under a null md5 split, conversion shouldn't differ wildly —
    # the statistic must at least be a sane magnitude (χ² < 50)
    assert 0 <= r.chi2_milli < 50_000


def test_shrinkage_moves_toward_global(spark):
    rows = _REGISTRY["q297_empirical_bayes_rates"].fn(spark, SF_DIR).collect()
    assert len(rows) == 20
    g = rows[0].global_ppm
    assert all(r.global_ppm == g for r in rows)
    for r in rows:
        assert 0 <= r.n_long <= r.n_docs
        assert r.raw_ppm == (1_000_000 * r.n_long) // r.n_docs
        # shrinkage lands between raw and global (inclusive, with 1ppm
        # truncation slack on each side)
        lo, hi = sorted((r.raw_ppm, g))
        assert lo - 1 <= r.shrunk_ppm <= hi + 1


def test_capture_recapture_calibrates(spark):
    r = _REGISTRY["q298_capture_recapture_estimate"].fn(spark, SF_DIR).collect()[0]
    assert 0 < r.n_crawl1 < r.n_docs_true
    assert 0 < r.n_crawl2 < r.n_docs_true
    assert 0 <= r.n_overlap <= min(r.n_crawl1, r.n_crawl2)
    # with two independent ~50% crawls the estimators should land
    # within 25% of the truth at fixture scale
    for est in (r.lincoln_petersen, r.chapman):
        assert abs(est - r.n_docs_true) <= r.n_docs_true // 4
    # Chapman never exceeds Lincoln-Petersen (bias correction shrinks)
    assert r.chapman <= r.lincoln_petersen


def test_unseen_vocab_sanity(spark):
    r = _REGISTRY["q299_unseen_vocab_estimators"].fn(spark, SF_DIR).collect()[0]
    assert 0 < r.vocab_size <= r.n_tokens
    assert 0 <= r.f2 and 0 <= r.f1 <= r.vocab_size
    # Chao1 is a lower bound ABOVE the observed vocabulary
    assert r.chao1_estimate >= r.vocab_size
    assert r.chao1_estimate == r.vocab_size + (r.f1 * (r.f1 - 1)) // (
        2 * (r.f2 + 1)
    )
    assert 0 <= r.unseen_mass_ppm <= 1_000_000
    assert r.unseen_mass_ppm == (1_000_000 * r.f1) // r.n_tokens
