"""Source-path tests: the ``twse`` data source fetching over real HTTP
from a local cassette server (the reader runs in the Python workers, so
the endpoint is injected through the ``source`` URL-template option,
not a driver-side monkeypatch), and the table catalog's events ns->µs
conversion."""

from __future__ import annotations

import json
import threading
from contextlib import contextmanager
from datetime import datetime
from http.server import BaseHTTPRequestHandler, HTTPServer
from zoneinfo import ZoneInfo

from pyspark.sql import functions as F

from airflow_scraping_etl_tutorial_spark.jobs import daily_load
from airflow_scraping_etl_tutorial_spark.orchestration import minirunner
from airflow_scraping_etl_tutorial_spark.pipeline.investment import (
    pivot_to_sink_schema,
    read_sink,
    run_daily_load,
)
from airflow_scraping_etl_tutorial_spark.sources import twse
from airflow_scraping_etl_tutorial_spark.sources.golden import (
    GOLDEN_CLOSED,
    GOLDEN_OK,
    GOLDEN_OK_EXPECTED,
)
from airflow_scraping_etl_tutorial_spark.sources.tables import load

SF_DIR = "/root/testdata/sf0.001"

PATH = "/fund/BFI82U?response=json&dayDate="  # the reference's query string


@contextmanager
def cassette(payloads: dict):
    """A local HTTP server answering the TWSE path with the recorded
    payload for each date, HTTP 500 for any other date. Yields the
    ``source`` URL template and the list of request paths it saw."""
    requested = []

    class _Cassette(BaseHTTPRequestHandler):
        def do_GET(self):  # noqa: N802 (http.server API)
            requested.append(self.path)
            p = payloads.get(self.path.rsplit("=", 1)[-1])
            if p is None:
                self.send_response(500)
                self.end_headers()
                return
            body = json.dumps(p).encode("utf-8")
            self.send_response(200)
            self.send_header("Content-Type", "application/json")
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

        def log_message(self, *a):  # silence test output
            pass

    srv = HTTPServer(("127.0.0.1", 0), _Cassette)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    try:
        yield f"http://127.0.0.1:{srv.server_port}{PATH}{{date}}", requested
    finally:
        srv.shutdown()
        srv.server_close()


def read_twse(spark, dates: list[str], source: str):
    twse.register(spark)
    return (
        spark.read.format("twse")
        .option("dates", ",".join(dates))
        .option("source", source)
        .load()
    )


def test_distributed_backfill_fetch(spark, tmp_path):
    """A 3-day backfill through the one reader: one partition and one
    request per date; a day the server answers with HTTP 500 degrades
    to a stat=NULL row (alert route), not a scan failure, while the
    good day still loads."""
    dates = ["20220819", "20220820", "20220822"]
    payloads = {"20220819": GOLDEN_OK, "20220820": GOLDEN_CLOSED}
    with cassette(payloads) as (source, requested):
        df = read_twse(spark, dates, source)
        assert df.rdd.getNumPartitions() == 3
        rows = {r.date: r for r in df.collect()}
        assert sorted(requested) == [PATH + d for d in dates]
        assert rows["20220819"].stat == "OK"
        assert rows["20220820"].stat != "OK"
        assert rows["20220822"].stat is None  # failed fetch -> null-stat row

        # the load scans once: again exactly one request per date
        requested.clear()
        sink = str(tmp_path / "sink")
        res = run_daily_load(spark, df, sink)
        assert sorted(requested) == [PATH + d for d in dates]
    assert (res.route, res.days_loaded, res.alerts) == ("alert", 1, ["20220822"])
    assert res.fetch_failed == ["20220822"]
    assert [r.dt for r in read_sink(spark, sink).collect()] == ["20220819"]


def test_scheduled_run_retries_a_failed_fetch(spark, tmp_path, monkeypatch):
    """A TWSE outage at the scheduled time is retried, not skipped: the
    first attempt's fetch gets HTTP 500, so the live job alerts with the
    fetch-failed text and exits 4 (not the never-retried 3); the retry,
    after the endpoint recovers, loads the day."""
    served, notes = {}, []
    sink = str(tmp_path / "sink")

    def job(date):
        rc = daily_load.main(["--date", date, "--sink", sink], notify=notes.append)
        served[date] = GOLDEN_OK  # the endpoint is back for the next attempt
        return rc

    with cassette(served) as (source, requested):
        monkeypatch.setattr(twse, "TWSE_URL", source)  # read on the driver by main
        res = minirunner.run_once(
            job, datetime(2022, 8, 19, 18, 0, tzinfo=ZoneInfo("Asia/Taipei")), sleep=lambda s: None
        )
    assert (res.state, res.exit_codes) == (minirunner.SUCCESS, [4, 0])
    assert requested == [PATH + "20220819"] * 2
    assert notes == ["資料抓取失敗: dt=['20220819']", "每日盤後資訊已完成更新: dt=['20220819']"]
    assert read_sink(spark, sink, dt="20220819").first().asDict() == GOLDEN_OK_EXPECTED


def test_events_ts_microsecond_conversion(spark):
    """tables.load converts TIMESTAMP(NANOS) -> TimestampType exactly
    (integer ns->µs division, cross-checked against DuckDB's reading
    of the same file)."""
    import duckdb

    e = load(spark, SF_DIR, "events")
    assert dict(e.dtypes)["ts"] == "timestamp"
    got = {
        r.event_id: r.us
        for r in e.select("event_id", F.unix_micros("ts").alias("us"))
        .orderBy("event_id")
        .limit(5)
        .collect()
    }
    duck = dict(
        duckdb.sql(
            f"SELECT event_id, CAST(EPOCH_US(ts) AS BIGINT) FROM "
            f"read_parquet('{SF_DIR}/events.parquet') ORDER BY event_id LIMIT 5"
        ).fetchall()
    )
    assert got == duck


def test_events_ts_normalized_for_all_on_disk_formats(spark, tmp_path):
    """tables.load's ts contract: TimestampType with identical instants
    no matter how a fixture drop landed on disk — TIMESTAMP(NANOS)
    (read as raw long under nanosAsLong), timestamp[us] WITHOUT
    timezone (TIMESTAMP_NTZ under Spark 4), or tz-aware timestamp[us].
    Guards against the Spark-4 fixture drift that broke unix_micros
    call sites (sessionization q82, as-of join q84)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from airflow_scraping_etl_tutorial_spark.sources import tables

    micros = [1660867200000000, 1660867260500000, 1660870800123456]
    base = {
        "event_id": pa.array([1, 2, 3], pa.int64()),
        "user_id": pa.array([10, 10, 11], pa.int64()),
        "event_type": pa.array(["view", "click", "purchase"]),
        "value": pa.array([1.0, 2.0, 3.0], pa.float64()),
        "props": pa.array(['{"k": 1}'] * 3),
    }
    variants = {
        "ns": pa.array([m * 1000 for m in micros], pa.timestamp("ns")),
        "ntz": pa.array(micros, pa.timestamp("us")),
        "tz": pa.array(micros, pa.timestamp("us", tz="UTC")),
    }
    for name, ts_arr in variants.items():
        d = tmp_path / name
        d.mkdir()
        pq.write_table(
            pa.table({**base, "ts": ts_arr}), str(d / "events.parquet")
        )
        df = tables.load(spark, str(d), "events")
        assert dict(df.dtypes)["ts"] == "timestamp", name
        got = [
            r.us
            for r in df.select(F.unix_micros("ts").alias("us"))
            .orderBy("event_id")
            .collect()
        ]
        assert got == micros, name


def test_real_http_client_against_recorded_cassette(spark):
    """S1 cassette test: the REAL client (urlopen in the Python worker,
    nothing stubbed) fetches the recorded golden TWSE payload from a
    local HTTP server and the result flows through the full transform
    to the exact 13-column sink row. The bytes on the wire, the HTTP
    status handling, and the JSON decode path are all the production
    ones (dags/Final_app.py:26-28) — only the host differs."""
    with cassette({"20220819": GOLDEN_OK}) as (source, requested):
        df = read_twse(spark, ["20220819"], source)
        row = pivot_to_sink_schema(df).first().asDict()
    # the client sent the reference's exact query string, once
    assert requested == ["/fund/BFI82U?response=json&dayDate=20220819"]
    assert row == GOLDEN_OK_EXPECTED
