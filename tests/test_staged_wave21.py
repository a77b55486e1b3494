"""Wave-21 catalog entries (plans/llm_ops20.py): python replays of the
KM at-risk/ event accounting and the log-rank O/E/V sums, and the
survival curve's monotonicity."""

from __future__ import annotations

from airflow_scraping_etl_tutorial_spark.plans import llm_ops20  # noqa: F401  (registers)
from airflow_scraping_etl_tutorial_spark.plans.registry import _REGISTRY
from airflow_scraping_etl_tutorial_spark.sources.tables import load

SF_DIR = "/root/testdata/sf0.001"


# ---------------------------------------------------------------------------
# Python replays
# ---------------------------------------------------------------------------


def _user_times(spark):
    """[(group, event_time_or_None, censor_time)] replayed in python."""
    import hashlib

    from pyspark.sql import functions as F

    ev = load(spark, SF_DIR, "events")
    rows = ev.groupBy("user_id").agg(
        F.min(F.to_date("ts")).alias("t0"),
        F.min(
            F.when(F.col("event_type") == "purchase", F.to_date("ts"))
        ).alias("tp"),
    ).collect()
    cmax = max(r.t0 if r.tp is None else max(r.t0, r.tp) for r in rows)
    cmax = ev.agg(F.max(F.to_date("ts"))).collect()[0][0]
    out = []
    for r in rows:
        g = (
            1
            if hashlib.md5(f"{r.user_id}:exp2".encode()).hexdigest()[0] < "8"
            else 0
        )
        et = None if r.tp is None else (r.tp - r.t0).days
        ct = (cmax - r.t0).days
        out.append((g, et, ct))
    return out


def test_km_accounting_and_monotonicity(spark):
    rows = sorted(
        _REGISTRY["q303_kaplan_meier_conversion"].fn(spark, SF_DIR).collect(),
        key=lambda r: r.day,
    )
    assert [r.day for r in rows] == list(range(14))
    ut = _user_times(spark)
    for r in rows:
        want_risk = sum(
            1
            for _, et, ct in ut
            if (et is None and ct >= r.day) or (et is not None and et >= r.day)
        )
        want_events = sum(1 for _, et, _ in ut if et == r.day)
        assert r.n_risk == want_risk
        assert r.n_events == want_events
    # at-risk shrinks, log-survival is non-increasing and <= 0
    for lo, hi in zip(rows, rows[1:]):
        assert hi.n_risk <= lo.n_risk
        assert hi.cum_log_survival_micronats <= lo.cum_log_survival_micronats
    assert rows[0].cum_log_survival_micronats <= 0


def test_logrank_null_control(spark):
    r = _REGISTRY["q304_logrank_test"].fn(spark, SF_DIR).collect()[0]
    ut = _user_times(spark)
    o1 = e1 = v = d_tot = 0
    for t in range(14):
        risk = [(g, et) for g, et, ct in ut
                if (et is None and ct >= t) or (et is not None and et >= t)]
        n = len(risk)
        d = sum(1 for _, et in risk if et == t)
        n1 = sum(1 for g, _ in risk if g == 1)
        d1 = sum(1 for g, et in risk if g == 1 and et == t)
        o1 += d1
        d_tot += d
        if n > 0:
            e1 += (1_000_000 * d * n1) // n
        if n > 1:
            v += (1_000_000 * d * (n - d) * n1 * (n - n1)) // (n * n * (n - 1))
    assert r.observed_1 == o1
    assert r.total_events == d_tot
    assert r.expected_1_micro == e1
    assert r.variance_micro == v
    assert r.o_minus_e_micro == 1_000_000 * o1 - e1
    # null md5 split: |O-E| within 4 standard deviations
    if r.variance_micro > 0:
        z2_scaled = r.o_minus_e_micro**2 / (r.variance_micro * 1_000_000)
        assert z2_scaled < 16
