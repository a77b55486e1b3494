"""The spark-submit job entry point, driven through main() with an
injected fetcher (the network seam), covering all three exit routes and
a multi-day backfill."""

from __future__ import annotations

import pytest

from airflow_scraping_etl_tutorial_spark.jobs.daily_load import date_range, main
from airflow_scraping_etl_tutorial_spark.pipeline.investment import read_sink
from airflow_scraping_etl_tutorial_spark.sources.golden import (
    GOLDEN_CLOSED,
    GOLDEN_OK,
    GOLDEN_WRONG_ARITY,
)
from airflow_scraping_etl_tutorial_spark.sources.twse import payloads_to_df


def fetcher_for(payloads):
    def fetch(spark, dates):
        by_date = {p["date"]: p for p in payloads}
        return payloads_to_df(spark, [by_date[d] for d in dates if d in by_date])

    return fetch


def test_date_range():
    assert date_range("20220830", "20220902") == [
        "20220830",
        "20220831",
        "20220901",
        "20220902",
    ]


def test_job_loads_and_exits_zero(spark, tmp_path):
    sink = str(tmp_path / "sink")
    rc = main(
        ["--date", "20220819", "--sink", sink], fetcher=fetcher_for([GOLDEN_OK])
    )
    assert rc == 0
    assert read_sink(spark, sink, dt="20220819").count() == 1


def test_job_alert_exit_code(spark, tmp_path):
    rc = main(
        ["--date", "20100106", "--sink", str(tmp_path / "sink")],
        fetcher=fetcher_for([GOLDEN_WRONG_ARITY]),
    )
    assert rc == 3  # the Airflow-visible alert contract


def test_job_backfill_range(spark, tmp_path):
    sink = str(tmp_path / "sink")
    rc = main(
        ["--date", "20220819", "--backfill-to", "20220820", "--sink", sink],
        fetcher=fetcher_for([GOLDEN_OK, GOLDEN_CLOSED]),
    )
    assert rc == 0  # closed day inside a backfill is a no-op, not an alert
    assert read_sink(spark, sink).count() == 1


def test_failed_fetch_alerts_instead_of_market_closed(spark, tmp_path, capsys):
    """A day whose fetch failed arrives as a stat=NULL row. It is a
    missed trading day, not a closed market: the job alerts with the
    day's date and the fetch-failed text, and exits 4 so the DAG's
    retry policy applies, while a good day in the same range loads."""
    sink = str(tmp_path / "sink")
    failed = {"stat": None, "date": "20220822"}
    notes = []
    rc = main(
        ["--date", "20220822", "--sink", sink],
        fetcher=fetcher_for([failed]),
        notify=notes.append,
    )
    assert rc == 4
    assert capsys.readouterr().out.strip() == "route=alert days_loaded=0 alerts=20220822"
    assert notes == ["資料抓取失敗: dt=['20220822']"]

    rc = main(
        ["--date", "20220819", "--backfill-to", "20220822", "--sink", sink],
        fetcher=fetcher_for([GOLDEN_OK, GOLDEN_CLOSED, failed]),
    )
    assert rc == 4
    assert "route=alert days_loaded=1 alerts=20220822" in capsys.readouterr().out
    assert [r.dt for r in read_sink(spark, sink).collect()] == ["20220819"]


def test_dag_module_import_gated():
    from airflow_scraping_etl_tutorial_spark.orchestration import daily_dag

    assert daily_dag.HAVE_AIRFLOW is False
    assert daily_dag.dag is None
    assert "--date" in daily_dag.SPARK_SUBMIT
