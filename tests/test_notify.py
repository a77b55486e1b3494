"""Notification delivery tests: the REAL http client path exercised
against a local in-process server (api_base injection), including the
retry contract — no network, no Telegram account."""

from __future__ import annotations

import json
import threading
from http.server import BaseHTTPRequestHandler, HTTPServer

import pytest

from airflow_scraping_etl_tutorial_spark.sources.notify import (
    NotificationError,
    TelegramNotifier,
)


class _Recorder(BaseHTTPRequestHandler):
    requests: list[tuple[str, dict]] = []
    fail_first_n = 0

    def do_POST(self):  # noqa: N802
        body = json.loads(self.rfile.read(int(self.headers["Content-Length"])))
        type(self).requests.append((self.path, body))
        if type(self).fail_first_n > 0:
            type(self).fail_first_n -= 1
            self.send_response(500)
        else:
            self.send_response(200)
        self.end_headers()
        self.wfile.write(b"{}")

    def log_message(self, *a):  # quiet
        pass


@pytest.fixture
def http_server():
    _Recorder.requests = []
    _Recorder.fail_first_n = 0
    srv = HTTPServer(("127.0.0.1", 0), _Recorder)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    yield f"http://127.0.0.1:{srv.server_port}", _Recorder
    srv.shutdown()


def test_sendmessage_shape_and_delivery(http_server):
    base, rec = http_server
    notify = TelegramNotifier("TOKEN123", "chat42", api_base=base)
    notify("每日盤後資訊已完成更新: dt=['2022-08-19']")
    assert len(rec.requests) == 1
    path, body = rec.requests[0]
    assert path == "/botTOKEN123/sendMessage"
    assert body["chat_id"] == "chat42"
    assert "每日盤後資訊已完成更新" in body["text"]


def test_retry_then_succeed(http_server):
    base, rec = http_server
    rec.fail_first_n = 1
    notify = TelegramNotifier("T", "c", api_base=base, retries=2, retry_delay_s=0.01)
    notify("alert")
    assert len(rec.requests) == 2  # one failure + one success


def test_exhausted_retries_raise(http_server):
    base, rec = http_server
    rec.fail_first_n = 99
    notify = TelegramNotifier("T", "c", api_base=base, retries=1, retry_delay_s=0.01)
    with pytest.raises(NotificationError, match="after 2 attempts"):
        notify("alert")


def test_pipeline_wiring_with_notifier(spark, http_server, tmp_path):
    """S7 end to end: run_daily_load's success branch delivers through
    the HTTP notifier (the reference's insert_data >> notice edge)."""
    base, rec = http_server
    from airflow_scraping_etl_tutorial_spark.pipeline.investment import run_daily_load
    from airflow_scraping_etl_tutorial_spark.sources.golden import GOLDEN_OK
    from airflow_scraping_etl_tutorial_spark.sources.twse import payloads_to_df

    notify = TelegramNotifier("T", "c", api_base=base)
    res = run_daily_load(
        spark, payloads_to_df(spark, [GOLDEN_OK]), str(tmp_path / "sink"), notify=notify
    )
    assert res.route == "loaded"
    assert any("每日盤後資訊已完成更新" in b["text"] for _, b in rec.requests)


def test_deployed_job_notifies_from_env_credentials(spark, http_server, tmp_path, monkeypatch):
    """The spark-submit job builds its notifier from TELEGRAM_TOKEN and
    TELEGRAM_CHAT_ID: a golden load sends exactly one success text."""
    base, rec = http_server
    from functools import partial

    from airflow_scraping_etl_tutorial_spark.jobs.daily_load import main
    from airflow_scraping_etl_tutorial_spark.sources import notify

    monkeypatch.setenv("TELEGRAM_TOKEN", "T")
    monkeypatch.setenv("TELEGRAM_CHAT_ID", "c")
    monkeypatch.setattr(notify, "TelegramNotifier", partial(TelegramNotifier, api_base=base))
    rc = main(["--date", "20220819", "--sink", str(tmp_path / "sink"), "--source", "golden"])
    assert rc == 0
    assert rec.requests == [
        ("/botT/sendMessage", {"chat_id": "c", "text": "每日盤後資訊已完成更新: dt=['20220819']"})
    ]
