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
    FETCH_FAILED_LABEL,
    MEASURES,
    SINK_COLUMNS,
    SINK_SCHEMA,
    clean_long,
    day_rows,
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
from airflow_scraping_etl_tutorial_spark.sources.twse import (
    CATEGORIES,
    TOTAL_ROW_LABEL,
    payloads_to_df,
    register,
)


def _jobs(spark, group, action):
    """Run ``action`` in its own job group: (its result, the task count
    of each stage of each Spark job it ran, in job order)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = action()
    finally:
        sc._jsc.clearJobGroup()
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    tracker = sc.statusTracker()
    jobs = sorted(tracker.getJobIdsForGroup(group))
    return out, [[tracker.getStageInfo(s).numTasks for s in tracker.getJobInfo(j).stageIds] for j in jobs]


def _day_sink(spark, sink, n):
    """A sink of ``n`` consecutive days: (their dts, their rows)."""
    days = [(date(2022, 1, 3) + timedelta(k)).strftime("%Y%m%d") for k in range(n)]
    rows = [(dt, *(Decimal(k * 12 + i) for i in range(12))) for k, dt in enumerate(days)]
    overwrite_day_partitions(spark.createDataFrame(rows, SINK_SCHEMA), sink)
    return days, rows


def test_clean_long_golden(spark):
    rows = clean_long(payloads_to_df(spark, [GOLDEN_OK])).orderBy("unit_name").collect()
    assert len(rows) == 4  # 合計 dropped
    assert all(r.dif == r.buy - r.sell for r in rows)
    by_name = {r.unit_name: r for r in rows}
    assert int(by_name["自營商(自行買賣)"].buy) == 2279109983
    assert int(by_name["外資及陸資"].dif) == -7298108131


def test_pivot_matches_reference_golden_row(spark):
    wide = pivot_to_sink_schema(payloads_to_df(spark, [GOLDEN_OK]))
    assert wide.columns == list(SINK_COLUMNS)
    row = wide.collect()[0].asDict()
    for col, expected in GOLDEN_OK_EXPECTED.items():
        assert str(row[col]) == str(expected), col


def test_pivot_robust_to_row_reordering(spark):
    """The reference pivots by row POSITION (Final_app.py:54-66) and
    breaks if TWSE reorders; the engine keys on category values."""
    shuffled = {**GOLDEN_OK, "data": random.Random(7).sample(GOLDEN_OK["data"], 5)}
    wide = pivot_to_sink_schema(payloads_to_df(spark, [shuffled]))
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
    """The S4 lookup reads only its day's directory: over 40 days, with
    the listing threshold at Spark's default of 32 paths (the session
    raises it), it is one job of one task, with no listing or
    schema-inference job before it. A lookup that lists the whole sink
    would add a parallel listing job."""
    sink = str(tmp_path / "sink")
    days, rows = _day_sink(spark, sink, 40)
    key = "spark.sql.sources.parallelPartitionDiscovery.threshold"
    saved = spark.conf.get(key)
    spark.conf.set(key, "32")
    try:
        got, jobs = _jobs(spark, "test-day-lookup", lambda: read_sink(spark, sink, days[7]).collect())
    finally:
        spark.conf.set(key, saved)
    assert jobs == [[1]]
    assert [tuple(r) for r in got] == [rows[7]]


def test_full_read_lists_partitions_without_a_job(spark, tmp_path):
    """The full read of more than 32 day partitions lists them in-process:
    one scan job, no distributed listing job before it."""
    sink = str(tmp_path / "sink")
    _, rows = _day_sink(spark, sink, 40)
    got, jobs = _jobs(spark, "test-full-read", lambda: read_sink(spark, sink).collect())
    assert len(jobs) == 1
    assert sorted(tuple(r) for r in got) == rows


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
    checks = validate(payloads_to_df(spark, [tampered])).collect()
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
    payloads = payloads_to_df(spark, [payload])
    checks = validate(payloads).collect()
    assert checks[0].arity_ok and checks[0].dif_ok
    got = {r.unit_name: (int(r.buy), int(r.sell)) for r in clean_long(payloads).collect()}
    assert got == {c: ab for c, ab in zip(cats, amounts)}


def test_payload_schema_gate_malformed(spark):
    """from_json-style schema enforcement: a payload with null data
    yields no rows (quietly filtered), not a crash — P7 semantics."""
    broken = {**GOLDEN_OK, "data": None}
    assert clean_long(payloads_to_df(spark, [broken])).count() == 0


# -- the per-payload projection -----------------------------------------------


def test_degenerate_days_route(spark, tmp_path):
    """Empty ``data`` and ``data`` holding only 合計 are closed days; a
    row with a null label is dropped; a stat=NULL row is a failed fetch
    that alerts."""
    sink = str(tmp_path / "sink")
    total = GOLDEN_OK["data"][-1]
    for data in ([], [total]):
        res = run_daily_load(spark, payloads_to_df(spark, [{**GOLDEN_OK, "data": data}]), sink)
        assert (res.route, res.days_loaded, res.alerts) == ("market_closed", 0, [])
    unlabelled = {**GOLDEN_OK, "data": [[None, "1", "2", "-1"], *GOLDEN_OK["data"]]}
    res = run_daily_load(spark, payloads_to_df(spark, [unlabelled]), sink)
    assert (res.route, res.days_loaded) == ("loaded", 1)
    assert [r.asDict() for r in read_sink(spark, sink).collect()] == [GOLDEN_OK_EXPECTED]
    msgs = []
    failed = {"stat": None, "date": "20220104"}
    res = run_daily_load(spark, payloads_to_df(spark, [failed]), sink, notify=msgs.append)
    assert (res.route, res.days_loaded, res.alerts, res.fetch_failed) == ("alert", 0, ["20220104"], ["20220104"])
    assert msgs == ["資料抓取失敗: dt=['20220104']"]


def test_short_or_long_row_alerts_and_writes_nothing(spark, tmp_path):
    """A category row that lost or gained a column is schema drift: the
    day alerts and nothing is written, rather than loading NULL or
    misread amounts. So does a day whose every row lost its last
    column."""
    sink = str(tmp_path / "sink")
    rows = GOLDEN_OK["data"]
    for name, data in (
        ("short", [rows[0][:3], *rows[1:]]),
        ("long", [[*rows[0], "0"], *rows[1:]]),
        ("all_short", [r[:3] for r in rows]),
    ):
        msgs = []
        res = run_daily_load(spark, payloads_to_df(spark, [{**GOLDEN_OK, "data": data}]), sink, notify=msgs.append)
        assert (res.route, res.days_loaded, res.alerts, res.fetch_failed) == ("alert", 0, ["20220819"], []), name
        assert msgs == ["資料格式有變動，請確認資料格式: dt=['20220819']"], name
    assert not (tmp_path / "sink").exists()


def test_duplicate_date_alerts_and_writes_none_of_its_rows(spark, tmp_path):
    """A date held by two payload rows alerts and none of its rows is
    written, whether the duplicate comes from the seam or the reader;
    the run's other days still load."""
    register(spark)
    sink = str(tmp_path / "sink")
    msgs = []
    other = {**GOLDEN_OK, "date": "20220822"}
    res = run_daily_load(spark, payloads_to_df(spark, [GOLDEN_OK, other, GOLDEN_OK]), sink, notify=msgs.append)
    assert (res.route, res.days_loaded, res.alerts, res.fetch_failed) == ("alert", 1, ["20220819"], [])
    assert msgs == [
        "資料格式有變動，請確認資料格式: dt=['20220819']",
        "每日盤後資訊已完成更新: dt=['20220822']",
    ]
    assert [r.dt for r in read_sink(spark, sink).collect()] == ["20220822"]
    twice = spark.read.format("twse").option("dates", "20220819,20220819").load()
    res = run_daily_load(spark, twice, sink)
    assert (res.route, res.days_loaded, res.alerts) == ("alert", 0, ["20220819"])
    assert read_sink(spark, sink, "20220819").collect() == []


def test_daily_load_job_counts(spark, tmp_path):
    """Over the in-memory payload frame the verdict collect runs no
    Spark job, so a loaded day runs one job (the write) and a closed or
    alert-only day none. Through the twse reader the verdicts are one
    narrow scan: one collect job of one task per date, no shuffle stage
    (a shuffle would add a stage or, under AQE, a job), then the write."""
    sink = str(tmp_path / "sink")
    for name, payload, jobs in (("ok", GOLDEN_OK, [[1]]), ("closed", GOLDEN_CLOSED, []), ("alert", GOLDEN_WRONG_ARITY, [])):
        _, got = _jobs(spark, f"test-load-jobs-{name}", lambda p=payload: run_daily_load(spark, payloads_to_df(spark, [p]), sink))
        assert got == jobs, name
    register(spark)
    dates = "20220819,20100106,20220820,20220821,20220822"
    reader = spark.read.format("twse").option("dates", dates)
    res, got = _jobs(spark, "test-load-jobs-reader", lambda: run_daily_load(spark, reader.load(), sink))
    assert (res.route, res.days_loaded, res.alerts) == ("alert", 1, ["20100106"])
    assert got == [[5], [1]]


def _aggregate_oracle(payloads):
    """The day rows as explode + ``groupBy(dt)``, with a failed fetch
    made one marker row first: the aggregate the pipeline ran before its
    per-payload projection, plus the cell count of each row for the
    arity gate, kept here as the oracle."""
    marker = F.array(F.lit(FETCH_FAILED_LABEL), *[F.lit(None).cast("string")] * 3)
    marked = payloads.withColumns(
        {
            "stat": F.coalesce("stat", F.lit("OK")),
            "data": F.when(F.col("stat").isNull(), F.array(marker)).otherwise(F.col("data")),
        }
    )
    unit, row = F.col("unit_name"), F.col("row")
    long_df = (
        marked.filter(F.col("stat") == "OK")
        .select(F.col("date").alias("dt"), F.explode("data").alias("row"))
        .select(
            "dt",
            F.get(row, 0).alias("unit_name"),
            *[F.regexp_replace(F.get(row, i), ",", "").cast("decimal(38,0)").alias(m) for i, m in enumerate(MEASURES, 1)],
            F.size(row).alias("cells"),
        )
        .filter(unit != TOTAL_ROW_LABEL)
    )
    n_bad_dif = F.sum(F.when(F.col("dif") != F.col("buy") - F.col("sell"), 1).otherwise(0))
    return long_df.groupBy("dt").agg(
        *[
            F.first(F.when(unit == label, F.col(m)), ignorenulls=True).alias(f"{prefix}_{m}")
            for label, prefix in CATEGORIES
            for m in MEASURES
        ],
        F.sum(F.col("cells") - 1).alias("n_values"),
        ((F.count(F.lit(1)) * 3 == 12) & F.bool_and(F.col("cells") == 4)).alias("arity_ok"),
        (n_bad_dif == 0).alias("dif_ok"),
        F.max(unit == FETCH_FAILED_LABEL).alias("fetch_failed"),
    )


MUTATIONS = (
    "reorder", "extra_dealer", "only_total", "empty", "null_data", "null_label",
    "null_amount", "null_twin", "bad_dif", "short_row", "long_row", "failed", "closed",
)  # fmt: skip


def _mutated_day(dt, amounts, mutations, rng):
    """A well-formed payload for ``dt``, then each mutation in turn."""
    fmt = "{:,}".format
    data = [[label, fmt(b), fmt(s), fmt(b - s)] for (label, _), (b, s) in zip(CATEGORIES, amounts)]
    tb, ts = sum(b for b, _ in amounts), sum(s for _, s in amounts)
    data.append([TOTAL_ROW_LABEL, fmt(tb), fmt(ts), fmt(tb - ts)])
    payload = {**GOLDEN_OK, "date": dt, "data": data}
    for m in mutations:
        data = payload.get("data") or []
        if m == "reorder":
            payload["data"] = rng.sample(data, len(data))
        elif m == "extra_dealer":
            payload["data"] = [["自營商", "1,000", "400", "600"], *data]
        elif m == "only_total":
            payload["data"] = [r for r in data if r[0] == TOTAL_ROW_LABEL]
        elif m == "empty":
            payload["data"] = []
        elif m == "null_data":
            payload["data"] = None
        elif m == "null_label":
            payload["data"] = [*data, [None, "1", "2", "-1"]]
        elif m == "null_twin" and data:  # a category row again, amounts null
            payload["data"] = [[rng.choice(data)[0], None, None, None], *data]
        elif m in ("null_amount", "bad_dif") and data:
            k = rng.randrange(len(data))
            j, value = (rng.randrange(1, 4), None) if m == "null_amount" else (3, "1")
            payload["data"] = [*data[:k], [*data[k][:j], value, *data[k][j + 1 :]], *data[k + 1 :]]
        elif m in ("short_row", "long_row") and data:  # a row lost or gained a column
            k = rng.randrange(len(data))
            row = data[k][:-1] if m == "short_row" else [*data[k], "0"]
            payload["data"] = [*data[:k], row, *data[k + 1 :]]
        elif m == "failed":
            payload = {"stat": None, "date": dt}
        elif m == "closed":
            payload = {**GOLDEN_CLOSED, "date": dt}
    return payload


@settings(max_examples=25, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.lists(st.tuples(money, money), min_size=4, max_size=4),
            st.lists(st.sampled_from(MUTATIONS), max_size=3),
        ),
        min_size=1,
        max_size=4,
    ),
    st.randoms(use_true_random=False),
)
def test_day_rows_equal_the_grouped_aggregate(spark, days, rng):
    """For mutated payloads, one date each, the per-payload projection
    equals the grouped aggregate over the long rows, value and type."""
    payloads = payloads_to_df(
        spark,
        [_mutated_day(f"202201{k + 10}", amounts, muts, rng) for k, (amounts, muts) in enumerate(days)],
    )
    got, want = day_rows(payloads), _aggregate_oracle(payloads)
    assert got.dtypes == want.dtypes
    assert sorted(got.collect()) == sorted(want.collect())
