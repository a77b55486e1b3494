"""Golden-payload tests for the TWSE pipeline (SURVEY.md §5: the
reference's three manual scenarios, README.md:545-550, as automated
tests), plus the property checks the blueprint commits to."""

from __future__ import annotations

import random
from datetime import date, timedelta
from decimal import Decimal

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.errors import AnalysisException
from pyspark.sql import functions as F

from airflow_scraping_etl_tutorial_spark.pipeline.investment import (
    SINK_COLUMNS,
    SINK_SCHEMA,
    clean_long,
    pivot_to_sink_schema,
    read_sink,
    run_daily_load,
    validate,
)
from airflow_scraping_etl_tutorial_spark.sources.golden import (
    GOLDEN_CLOSED,
    GOLDEN_OK,
    GOLDEN_OK_EXPECTED,
    GOLDEN_WRONG_ARITY,
)
from airflow_scraping_etl_tutorial_spark.sources.sinks import overwrite_day_partitions
from airflow_scraping_etl_tutorial_spark.sources.twse import payloads_to_df


def test_clean_long_golden(spark):
    rows = clean_long(payloads_to_df(spark, [GOLDEN_OK])).orderBy("unit_name").collect()
    assert len(rows) == 4  # 合計 dropped
    assert all(r.dif == r.buy - r.sell for r in rows)
    by_name = {r.unit_name: r for r in rows}
    assert int(by_name["自營商(自行買賣)"].buy) == 2279109983
    assert int(by_name["外資及陸資"].dif) == -7298108131


def test_pivot_matches_reference_golden_row(spark):
    wide = pivot_to_sink_schema(clean_long(payloads_to_df(spark, [GOLDEN_OK])))
    assert wide.columns == list(SINK_COLUMNS)
    row = wide.collect()[0].asDict()
    for col, expected in GOLDEN_OK_EXPECTED.items():
        assert str(row[col]) == str(expected), col


def test_pivot_robust_to_row_reordering(spark):
    """The reference pivots by row POSITION (Final_app.py:54-66) and
    breaks if TWSE reorders; the engine keys on category values."""
    shuffled = {**GOLDEN_OK, "data": random.Random(7).sample(GOLDEN_OK["data"], 5)}
    wide = pivot_to_sink_schema(clean_long(payloads_to_df(spark, [shuffled])))
    row = wide.collect()[0].asDict()
    for col, expected in GOLDEN_OK_EXPECTED.items():
        assert str(row[col]) == str(expected), col


def test_market_closed_routes_to_noop(spark, tmp_path):
    res = run_daily_load(
        spark, payloads_to_df(spark, [GOLDEN_CLOSED]), str(tmp_path / "sink")
    )
    assert res.route == "market_closed"
    assert res.days_loaded == 0


def test_wrong_arity_routes_to_alert(spark, tmp_path):
    msgs = []
    res = run_daily_load(
        spark,
        payloads_to_df(spark, [GOLDEN_WRONG_ARITY]),
        str(tmp_path / "sink"),
        notify=msgs.append,
    )
    assert res.route == "alert"
    assert res.alerts == ["20100106"]
    assert any("資料格式有變動" in m for m in msgs)  # reference S8 alert text


def test_mixed_run_routes_every_day(spark, tmp_path):
    """One run holding a good day, a drifted day, a failed fetch and a
    closed day: alert route naming both bad days, the three texts in
    order, and only the good day in the sink."""
    msgs = []
    sink = str(tmp_path / "sink")
    failed = {"stat": None, "date": "20220104"}
    payloads = payloads_to_df(spark, [GOLDEN_OK, GOLDEN_WRONG_ARITY, failed, GOLDEN_CLOSED])
    res = run_daily_load(spark, payloads, sink, notify=msgs.append)
    assert (res.route, res.days_loaded) == ("alert", 1)
    assert res.alerts == ["20100106", "20220104"]
    assert res.fetch_failed == ["20220104"]
    assert msgs == [
        "資料抓取失敗: dt=['20220104']",
        "資料格式有變動，請確認資料格式: dt=['20100106']",
        "每日盤後資訊已完成更新: dt=['20220819']",
    ]
    assert [r.asDict() for r in read_sink(spark, sink).collect()] == [GOLDEN_OK_EXPECTED]


def test_idempotent_daily_load(spark, tmp_path):
    """SURVEY §7 hard-part 1: rerunning a day must not duplicate it
    (the reference's retry double-inserts; we partition-overwrite)."""
    sink = str(tmp_path / "sink")
    payloads = payloads_to_df(spark, [GOLDEN_OK])
    run_daily_load(spark, payloads, sink)
    run_daily_load(spark, payloads, sink)
    assert read_sink(spark, sink).count() == 1
    assert read_sink(spark, sink, dt="20220819").count() == 1
    assert dict(read_sink(spark, sink).dtypes)["dt"] == "string"


def test_day_lookup_runs_one_job_with_one_task(spark, tmp_path):
    """The S4 lookup reads only its day's directory: over 40 days (more
    than Spark's 32-path threshold for a parallel listing job) it is one
    job of one task, with no listing or schema-inference job before it."""
    sink = str(tmp_path / "sink")
    days = [(date(2022, 1, 3) + timedelta(n)).strftime("%Y%m%d") for n in range(40)]
    rows = [(dt, *(Decimal(n * 12 + i) for i in range(12))) for n, dt in enumerate(days)]
    overwrite_day_partitions(spark.createDataFrame(rows, SINK_SCHEMA), sink)
    sc = spark.sparkContext
    group = "test-day-lookup"
    sc.setJobGroup(group, "one-day lookup")
    try:
        got = read_sink(spark, sink, days[7]).collect()
    finally:
        sc._jsc.clearJobGroup()
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    tracker = sc.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    tasks = sum(tracker.getStageInfo(s).numTasks for j in jobs for s in tracker.getJobInfo(j).stageIds)
    assert (len(jobs), tasks) == (1, 1)
    assert [tuple(r) for r in got] == [rows[7]]


def test_degenerate_lookups(spark, tmp_path):
    """A day with no partition, in a sink or with no sink at all, is an
    empty frame of the sink schema; a dt that is not yyyyMMdd is refused
    before it becomes a path; the full read of a missing sink fails."""
    sink, never = str(tmp_path / "sink"), str(tmp_path / "never")
    run_daily_load(spark, payloads_to_df(spark, [GOLDEN_OK]), sink)
    full = read_sink(spark, sink)
    assert full.dtypes == [("dt", "string")] + [(c, "decimal(38,0)") for c in SINK_COLUMNS[1:]]
    for missing in (read_sink(spark, sink, "20220820"), read_sink(spark, never, "20220819")):
        assert missing.collect() == []
        assert missing.dtypes == full.dtypes
    for bad in ("2022-08-19", "../x"):
        with pytest.raises(ValueError):
            read_sink(spark, sink, bad)
    with pytest.raises(AnalysisException) as err:
        read_sink(spark, never)
    assert err.value.getCondition() == "PATH_NOT_FOUND"


def test_validate_flags_bad_dif(spark):
    tampered = {
        **GOLDEN_OK,
        "data": [
            ["自營商(自行買賣)", "100", "40", "61"],  # dif != buy - sell
            ["自營商(避險)", "10", "4", "6"],
            ["投信", "10", "4", "6"],
            ["外資及陸資", "10", "4", "6"],
            ["合計", "130", "52", "79"],
        ],
    }
    checks = validate(clean_long(payloads_to_df(spark, [tampered]))).collect()
    assert len(checks) == 1
    assert checks[0].arity_ok
    assert not checks[0].dif_ok


# -- property-based checks (SURVEY §5 item 3) --------------------------------

money = st.integers(min_value=0, max_value=10**14)


@settings(max_examples=10, deadline=None)
@given(st.lists(st.tuples(money, money), min_size=4, max_size=4))
def test_property_random_payload_roundtrip(spark, amounts):
    """For any well-formed payload: cleaned arity == 12, dif == buy-sell
    survives the pipeline, and de-comma(format(x)) == x."""
    cats = ["自營商(自行買賣)", "自營商(避險)", "投信", "外資及陸資"]
    data = [
        [c, f"{b:,}", f"{s:,}", f"{b - s:,}"] for c, (b, s) in zip(cats, amounts)
    ]
    tb, ts = sum(b for b, _ in amounts), sum(s for _, s in amounts)
    data.append(["合計", f"{tb:,}", f"{ts:,}", f"{tb - ts:,}"])
    payload = {**GOLDEN_OK, "data": data}
    long_df = clean_long(payloads_to_df(spark, [payload]))
    checks = validate(long_df).collect()
    assert checks[0].arity_ok and checks[0].dif_ok
    got = {r.unit_name: (int(r.buy), int(r.sell)) for r in long_df.collect()}
    assert got == {c: ab for c, ab in zip(cats, amounts)}


def test_payload_schema_gate_malformed(spark):
    """from_json-style schema enforcement: a payload with null data
    yields no rows (quietly filtered), not a crash — P7 semantics."""
    broken = {**GOLDEN_OK, "data": None}
    assert clean_long(payloads_to_df(spark, [broken])).count() == 0
