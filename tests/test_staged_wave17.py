"""Wave-17 catalog entries (plans/llm_ops16.py): the wave's structural
claims — the median-stability envelope contains the point estimate,
the changepoint score is the argmax of a python replay, and the CUSUM
peak deviation matches a python prefix-sum replay."""

from __future__ import annotations

from airflow_scraping_etl_tutorial_spark.plans import llm_ops16  # noqa: F401  (registers)
from airflow_scraping_etl_tutorial_spark.plans.registry import _REGISTRY
from airflow_scraping_etl_tutorial_spark.sources.tables import load

SF_DIR = "/root/testdata/sf0.001"


# ---------------------------------------------------------------------------
# Structural invariants (python replays)
# ---------------------------------------------------------------------------


def _daily_series(spark):
    """event_type -> ordered list of daily counts, replayed in python."""
    from pyspark.sql import functions as F

    rows = (
        load(spark, SF_DIR, "events")
        .select("event_type", F.to_date("ts").alias("day"))
        .groupBy("event_type", "day")
        .count()
        .collect()
    )
    series = {}
    for r in rows:
        series.setdefault(r.event_type, []).append((r.day, r["count"]))
    return {t: [y for _, y in sorted(v)] for t, v in series.items()}


def test_median_stability_envelope(spark):
    r = _REGISTRY["q290_quantile_stability_bootstrap"].fn(spark, SF_DIR).collect()[0]
    assert r.n_resamples == 32
    assert 1 <= r.n_distinct_p50_bins <= 32
    assert 0 <= r.min_p50_bin <= r.max_p50_bin <= 255
    # the unweighted point estimate sits inside the resample envelope
    assert r.min_p50_bin <= r.point_p50_bin <= r.max_p50_bin
    # envelope width is consistent with the distinct count
    assert r.n_distinct_p50_bins <= r.max_p50_bin - r.min_p50_bin + 1


def test_changepoint_matches_python_argmax(spark):
    got = {
        r.event_type: r
        for r in _REGISTRY["q291_step_changepoint"].fn(spark, SF_DIR).collect()
    }
    for t, ys in _daily_series(spark).items():
        n, sn = len(ys), sum(ys)
        best = None
        sk = 0
        for k in range(1, n):
            sk += ys[k - 1]
            q = (sk * n - k * sn) ** 2 // (k * (n - k))
            if best is None or q > best[0]:
                best = (q, k)
        q_best, k_best = best
        assert got[t].split_k == k_best
        assert got[t].shift_score == q_best
        assert got[t].n_days == n
        sk_best = sum(ys[:k_best])
        assert got[t].mean_before_ppm == (1_000_000 * sk_best) // k_best
        assert got[t].mean_after_ppm == (
            1_000_000 * (sn - sk_best)
        ) // (n - k_best)


def test_cusum_matches_python_replay(spark):
    got = {
        r.event_type: r
        for r in _REGISTRY["q292_cusum_drift"].fn(spark, SF_DIR).collect()
    }
    for t, ys in _daily_series(spark).items():
        n, sn = len(ys), sum(ys)
        best = None
        sk = 0
        for k in range(1, n + 1):
            sk += ys[k - 1]
            num = sk * n - k * sn
            if best is None or abs(num) > abs(best[0]):
                best = (num, k)
        num_best, _ = best
        assert got[t].max_abs_drift == abs(num_best) // n
        assert got[t].drift_sign == (1 if num_best >= 0 else -1)
        assert got[t].n_days == n
        assert got[t].total_events == sn
