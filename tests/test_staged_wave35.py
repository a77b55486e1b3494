"""Wave-35 catalog entries (plans/llm_ops34.py): python replays of the
reciprocal best-match scoring and the Neyman weight arithmetic, and
the structural invariants (the IVM identity holding BY CONSTRUCTION
only if the four terms really tile the join, merge-exactness of the
distributed sample, reciprocity of the reported links)."""

from __future__ import annotations

import math

from airflow_scraping_etl_tutorial_spark.plans import llm_ops34  # noqa: F401  (registers)
from airflow_scraping_etl_tutorial_spark.plans.registry import _REGISTRY

SF_DIR = "/root/testdata/sf0.001"


# ---------------------------------------------------------------------------
# Structural invariants and python replays
# ---------------------------------------------------------------------------


def test_reciprocal_links_python_replay(spark, duck):
    """Recompute blocked Jaccard best matches in python and assert
    every reported link is reciprocal under the same tiebreaks."""
    rows = duck.sql(
        "SELECT p_partkey, STRING_SPLIT(p_name, ' ') FROM part"
    ).fetchall()
    left = {k: set(w) for k, w in rows if k % 2 == 0}
    right = {k: set(w) for k, w in rows if k % 2 == 1}
    first = {k: w[0] for k, w in rows}

    def jac(a, b):
        i = len(left[a] & right[b])
        return i * 1_000_000 // (len(left[a]) + len(right[b]) - i)

    cands = [
        (a, b)
        for a in left
        for b in right
        if first[a] == first[b] and left[a] & right[b]
    ]
    best_l: dict[int, tuple] = {}
    best_r: dict[int, tuple] = {}
    for a, b in cands:
        j = jac(a, b)
        if a not in best_l or (-j, b) < (-best_l[a][0], best_l[a][1]):
            best_l[a] = (j, b)
        if b not in best_r or (-j, a) < (-best_r[b][0], best_r[b][1]):
            best_r[b] = (j, a)
    out = _REGISTRY["q342_reciprocal_best_match"].fn(spark, SF_DIR).collect()
    assert out
    for r in out:
        assert best_l[r.part_a][1] == r.part_b
        assert best_r[r.part_b][1] == r.part_a
        assert r.jac_ppm == jac(r.part_a, r.part_b)
        assert r.union_sz >= r.inter > 0


def test_ivm_identity_holds(spark):
    (r,) = _REGISTRY["q343_join_ivm_delta_audit"].fn(spark, SF_DIR).collect()
    assert r.ivm_identity_ok == 1
    assert (
        r.n_old_old + r.n_delta_fact + r.n_delta_dim + r.n_delta_both
        == r.n_full
    )
    # both delta sides must be non-trivial for the audit to mean anything
    assert r.n_delta_fact > 0 and r.n_delta_dim > 0


def test_design_effect_python_replay(spark, duck):
    """Replay the exact integer design-effect arithmetic and check
    the Cauchy-Schwarz bound deff <= 1 (Neyman can never be worse)."""
    moments = duck.sql(
        """
        SELECT source, COUNT(*), SUM(y), SUM(y*y) FROM (
          SELECT source, LEN(STRING_SPLIT(text, ' ')) AS y FROM documents
        ) GROUP BY source
        """
    ).fetchall()
    import decimal

    sw = sv = n_docs = 0
    for _, n, s1, s2 in moments:
        ss = n * s2 - s1 * s1
        w = math.sqrt(float(ss))
        sw += int(
            decimal.Decimal(w).quantize(
                decimal.Decimal("0.000001"),
                rounding=decimal.ROUND_HALF_UP,
            )
            * 1_000_000
        )
        sv += ss * 1_000_000_000_000 // n
        n_docs += n
    deff = sw * sw * 1_000_000 // (n_docs * sv)
    (r,) = (
        _REGISTRY["q344_allocation_design_effect"].fn(spark, SF_DIR).collect()
    )
    assert r.n_strata == len(moments)
    assert (r.n_docs, r.sum_weight_micro) == (n_docs, sw)
    assert r.design_effect_ppm == deff
    assert 0 < r.design_effect_ppm <= 1_000_000  # Cauchy-Schwarz
    assert r.variance_saved_ppm == 1_000_000 - r.design_effect_ppm


def test_weighted_sample_merge_is_exact(spark):
    (r,) = (
        _REGISTRY["q345_weighted_sample_merge_proof"].fn(spark, SF_DIR).collect()
    )
    assert r.merge_exact == 1
    assert r.n_agree == r.k == 50
    assert r.n_parts == 4
    assert r.n_agree <= r.n_candidates <= r.n_parts * r.k
