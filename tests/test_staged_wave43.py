"""Wave-43 catalog entries (plans/llm_ops42.py): python replays of the
span islands, the Brier decomposition identity, and the CI rank
arithmetic."""

from __future__ import annotations

import math

from airflow_scraping_etl_tutorial_spark.plans import llm_ops42  # noqa: F401  (registers)
from airflow_scraping_etl_tutorial_spark.plans.registry import _REGISTRY

SF_DIR = "/root/testdata/sf0.001"


# ---------------------------------------------------------------------------
# Replays and invariants
# ---------------------------------------------------------------------------


def test_span_localization_against_texts(spark, duck):
    """The reported longest span must be a REAL shared token run: for
    each of the top pairs, re-derive the longest common consecutive
    3-shingle run directly from the two texts in python."""
    out = _REGISTRY["q369_shared_span_localization"].fn(spark, SF_DIR).collect()
    assert 0 < len(out) <= 20
    texts = dict(duck.sql("SELECT doc_id, text FROM documents").fetchall())
    for r in out[:5]:
        ta = texts[r.doc_id_a].split(" ")
        tb = texts[r.doc_id_b].split(" ")
        sa = [" ".join(ta[i : i + 3]) for i in range(len(ta) - 2)]
        sb = [" ".join(tb[i : i + 3]) for i in range(len(tb) - 2)]
        pos_b: dict[str, list[int]] = {}
        for j, g in enumerate(sb):
            pos_b.setdefault(g, []).append(j)
        # longest diagonal run of equal shingles
        runs: dict[tuple[int, int], int] = {}
        best = 0
        for i, g in enumerate(sa):
            for j in pos_b.get(g, []):
                run = runs.get((i - 1, j - 1), 0) + 1
                runs[(i, j)] = run
                best = max(best, run)
        assert r.longest_run_shingles == best
        assert r.span_tokens == best + 2
        assert r.n_shared >= r.longest_run_shingles
    # descending order of the report
    vals = [r.longest_run_shingles for r in out]
    assert vals == sorted(vals, reverse=True)


def test_brier_decomposition_identity(spark):
    r = _REGISTRY["q370_brier_decomposition"].fn(spark, SF_DIR).collect()[0]
    assert r.n_users > 0 and r.n_bins >= 1
    assert 0 <= r.base_rate_ppm <= 1_000_000
    for v in (r.rel_micro, r.res_micro, r.unc_micro, r.brier_micro):
        assert 0 <= v <= 1_000_000
    # Murphy identity within truncation slack (each of ~2*n_bins + 2
    # truncating divisions can lose up to 1 micro)
    slack = 4 * r.n_bins + 4
    assert abs(r.brier_micro - (r.rel_micro - r.res_micro + r.unc_micro)) <= slack
    # resolution cannot exceed uncertainty
    assert r.res_micro <= r.unc_micro + slack


def test_median_ci_python_replay(spark, duck):
    rows = duck.sql(
        """
        SELECT event_type, CAST(ts AS DATE) AS day, COUNT(*) AS c
        FROM events GROUP BY 1, 2
        """
    ).fetchall()
    by_type: dict[str, list] = {}
    for et, day, c in rows:
        by_type.setdefault(et, []).append((c, day))
    out = {
        r.event_type: r
        for r in _REGISTRY["q371_median_confidence_interval"].fn(spark, SF_DIR).collect()
    }
    assert set(out) == set(by_type)
    for et, vals in by_type.items():
        vals.sort()
        n = len(vals)
        med_r = (n + 1) // 2
        lo_r = max(1, math.ceil((n - 1.96 * math.sqrt(n)) / 2))
        hi_r = min(n, math.floor((n + 1.96 * math.sqrt(n)) / 2 + 1))
        r = out[et]
        assert (r.n_days, r.median_rank, r.lo_rank, r.hi_rank) == (
            n,
            med_r,
            lo_r,
            hi_r,
        )
        assert r.median_c == vals[med_r - 1][0]
        assert r.ci_lo_c == vals[lo_r - 1][0]
        assert r.ci_hi_c == vals[hi_r - 1][0]
        assert r.ci_lo_c <= r.median_c <= r.ci_hi_c
