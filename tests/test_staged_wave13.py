"""Wave-13 catalog entries (plans/llm_ops12.py): the wave's structural
claims — histogram-estimate error bounds, a brute-force recall proof
for the deletion-neighborhood join, incremental-maintenance equality,
the interleave closed form, KL nonnegativity, and keep-policy
ordering."""

from __future__ import annotations

from airflow_scraping_etl_tutorial_spark.plans import llm_ops12  # noqa: F401  (registers)
from airflow_scraping_etl_tutorial_spark.plans.registry import _REGISTRY
from airflow_scraping_etl_tutorial_spark.sources.tables import load

SF_DIR = "/root/testdata/sf0.001"


# ---------------------------------------------------------------------------
# Structural invariants
# ---------------------------------------------------------------------------


def test_histogram_estimate_bounds(spark):
    """The upper-edge estimate is >= the exact value and within one bin
    width of it — the histogram sketch's textbook error bound."""
    from pyspark.sql import functions as F

    rows = _REGISTRY["q267_histogram_quantile_error"].fn(spark, SF_DIR).collect()
    o = load(spark, SF_DIR, "orders")
    s = o.agg(F.min("o_totalprice"), F.max("o_totalprice")).collect()[0]
    width = (s[1] - s[0]) / 256.0
    assert {r.pct for r in rows} == {50, 90, 99}
    for r in rows:
        assert r.est_value >= r.exact_value
        assert r.est_value - r.exact_value <= width + 1e-9
        assert 0 <= r.est_bin <= 255


def test_deletion_neighborhood_has_exact_recall(spark):
    """The signature join finds EVERY edit-distance-1 pair — verified
    against a python brute force over all name pairs."""
    import itertools

    rows = _REGISTRY["q268_edit_distance_one_join"].fn(spark, SF_DIR).collect()
    names = [r.nm for r in
             load(spark, SF_DIR, "customer").selectExpr("c_name AS nm").collect()]

    def ed1(a: str, b: str) -> bool:
        if a == b:
            return False
        la, lb = len(a), len(b)
        if abs(la - lb) > 1:
            return False
        if la == lb:
            return sum(x != y for x, y in zip(a, b)) == 1
        s, t = (a, b) if la < lb else (b, a)
        return any(t[:i] + t[i + 1:] == s for i in range(len(t)))

    brute = sum(1 for a, b in itertools.combinations(sorted(set(names)), 2) if ed1(a, b))
    assert sum(r.n_pairs for r in rows) == brute
    # id-style names differ only in digit positions (after 'Customer#')
    assert all(r.diff_pos >= 10 for r in rows)


def test_incremental_maintenance_is_lossless(spark):
    r = _REGISTRY["q269_incremental_signature_maintenance"].fn(spark, SF_DIR).collect()[0]
    assert r.n_mismatch == 0
    assert r.n_recomputed + r.n_reused == r.n_docs
    assert 0 < r.n_recomputed < r.n_docs


def test_interleave_positions_are_injective(spark):
    rows = _REGISTRY["q270_curriculum_interleave_plan"].fn(spark, SF_DIR).collect()
    n_sources = len(rows)
    assert sorted(r.source_index for r in rows) == list(range(n_sources))
    for r in rows:
        assert r.first_pos == r.source_index
        assert r.last_pos == (r.n_docs - 1) * n_sources + r.source_index
    # positions of distinct sources live in disjoint residue classes
    assert len({r.first_pos % n_sources for r in rows}) == n_sources


def test_kl_nonnegative_up_to_quantization(spark):
    rows = _REGISTRY["q271_source_kl_divergence"].fn(spark, SF_DIR).collect()
    assert len(rows) == 20
    # true KL >= 0; per-term DECIMAL(18,6) quantization can push the
    # weighted mean down by at most 5e-7
    assert all(r.kl_nats >= -1e-6 for r in rows)
    assert all(r.n_tokens > 0 for r in rows)


def test_keep_policy_ordering(spark):
    rows = {r.policy: r for r in
            _REGISTRY["q272_dedup_keep_policy_impact"].fn(spark, SF_DIR).collect()}
    assert set(rows) == {"keep_first", "keep_longest", "keep_shortest"}
    n = {r.n_kept for r in rows.values()}
    assert len(n) == 1  # group count is policy-invariant
    assert (
        rows["keep_shortest"].tokens_kept
        <= rows["keep_first"].tokens_kept
        <= rows["keep_longest"].tokens_kept
    )
