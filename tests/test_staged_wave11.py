"""Wave-11 catalog entries (plans/llm_ops10.py): the wave's structural
claims — candle ordering invariants, streak/user conservation,
truncation-recall bounds, percentile monotonicity, and session-share
closure."""

from __future__ import annotations

import math

from airflow_scraping_etl_tutorial_spark.plans import llm_ops10  # noqa: F401  (registers)
from airflow_scraping_etl_tutorial_spark.plans.registry import _REGISTRY
from airflow_scraping_etl_tutorial_spark.sources.tables import load

SF_DIR = "/root/testdata/sf0.001"


def test_ohlc_candle_invariants(spark):
    rows = _REGISTRY["q247_ohlc_daily_candles"].fn(spark, SF_DIR).collect()
    assert rows
    for r in rows:
        assert r.low_value <= r.open_value <= r.high_value
        assert r.low_value <= r.close_value <= r.high_value
        assert r.n_events >= 1
    n_events = load(spark, SF_DIR, "events").filter("value IS NOT NULL").count()
    assert sum(r.n_events for r in rows) == n_events


def test_streaks_conserve_users_and_bounds(spark):
    rows = _REGISTRY["q248_activity_streaks"].fn(spark, SF_DIR).collect()
    ev = load(spark, SF_DIR, "events")
    n_users = ev.select("user_id").distinct().count()
    n_days = ev.selectExpr("to_date(ts) AS d").distinct().count()
    assert sum(r.n_users for r in rows) == n_users
    for r in rows:
        assert 1 <= r.streak_days <= n_days


def test_matryoshka_recall_bounds(spark):
    rows = _REGISTRY["q249_matryoshka_truncation_audit"].fn(spark, SF_DIR).collect()
    assert len(rows) == 5
    for r in rows:
        assert 0 <= r.n_common_at_10 <= 10


def test_components_sizes_and_labels(spark):
    rows = _REGISTRY["q250_connected_components_minlabel"].fn(spark, SF_DIR).collect()
    assert rows
    sizes = [r.n_docs for r in rows]
    assert sizes == sorted(sizes, reverse=True)
    for r in rows:
        assert r.component >= 0
        assert r.n_docs >= 1


def test_session_depth_shares_close(spark):
    rows = _REGISTRY["q251_session_depth_profile"].fn(spark, SF_DIR).collect()
    assert rows
    assert abs(sum(r.share for r in rows) - 1.0) < 1e-4
    assert rows[0].session_depth >= 1


def _final_plan(spark, name):
    df = _REGISTRY[name].fn(spark, SF_DIR)
    df.write.format("noop").mode("overwrite").save()
    return df._jdf.queryExecution().executedPlan().toString()


def test_ohlc_plan_is_one_aggregate_no_join(spark):
    plan = _final_plan(spark, "q247_ohlc_daily_candles")
    assert "Join" not in plan
    # one partial+final aggregate pair over (type, day); min_by/max_by
    # combine map-side like MIN/MAX
    assert plan.count("Exchange hashpartitioning") == 1


def test_components_plan_has_no_cartesian(spark):
    plan = _final_plan(spark, "q250_connected_components_minlabel")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "TakeOrderedAndProject" in plan


def test_sla_percentiles_monotone(spark):
    rows = _REGISTRY["q252_shipping_sla_percentiles"].fn(spark, SF_DIR).collect()
    assert len(rows) == 5
    for r in rows:
        assert 0 <= r.p50_days <= r.p90_days <= r.p99_days
        assert r.n_lineitems >= 1


def test_trend_slope_matches_python_ols(spark):
    rows = _REGISTRY["q253_volume_trend_slope"].fn(spark, SF_DIR).collect()
    ev = load(spark, SF_DIR, "events")
    assert sum(r.total_events for r in rows) == ev.count()
    daily = (
        ev.selectExpr(
            "event_type", "datediff(to_date(ts), date'2024-01-01') AS x"
        )
        .groupBy("event_type", "x")
        .count()
        .collect()
    )
    by_type: dict[str, list[tuple[int, int]]] = {}
    for r in daily:
        by_type.setdefault(r.event_type, []).append((r.x, r["count"]))
    for r in rows:
        pts = by_type[r.event_type]
        n = len(pts)
        sx = sum(x for x, _ in pts)
        sy = sum(y for _, y in pts)
        sxx = sum(x * x for x, _ in pts)
        sxy = sum(x * y for x, y in pts)
        num, den = n * sxy - sx * sy, n * sxx - sx * sx
        want = (
            0
            if den == 0
            else (1000000 * num) // den
            if num >= 0
            else -((1000000 * -num) // den)
        )
        assert r.slope_ppm == want, r.event_type


def test_event_paths_sorted_and_bounded(spark):
    rows = _REGISTRY["q255_top_event_paths"].fn(spark, SF_DIR).collect()
    assert rows
    counts = [r.n_occurrences for r in rows]
    assert counts == sorted(counts, reverse=True)
    ev = load(spark, SF_DIR, "events")
    types = {r.event_type for r in ev.select("event_type").distinct().collect()}
    for r in rows:
        assert {r.t1, r.t2, r.t3} <= types


def test_k_anonymity_conserves_customers(spark):
    rows = _REGISTRY["q256_k_anonymity_audit"].fn(spark, SF_DIR).collect()
    n_cust = load(spark, SF_DIR, "customer").count()
    assert sum(r.n_customers for r in rows) == n_cust
    for r in rows:
        assert r.n_customers == r.class_size * r.n_classes
        assert 0 <= r.min_l_diversity <= 5  # 5 order priorities


def test_adamic_adar_ordering_and_positivity(spark):
    rows = _REGISTRY["q257_adamic_adar_brand_links"].fn(spark, SF_DIR).collect()
    assert rows
    scores = [r.adamic_adar for r in rows]
    assert scores == sorted(scores, reverse=True)
    for r in rows:
        assert r.adamic_adar > 0
        assert r.n_shared >= 1
        # each shared >=2-brand order contributes at most 1/ln(2)
        assert r.adamic_adar <= r.n_shared / math.log(2) + 1e-6


def test_seasonality_eta_squared_bounds(spark):
    rows = _REGISTRY["q254_dow_seasonality_strength"].fn(spark, SF_DIR).collect()
    assert rows
    for r in rows:
        assert -1e-9 <= r.eta_squared <= 1.0 + 1e-9
        assert r.n_days >= 7
