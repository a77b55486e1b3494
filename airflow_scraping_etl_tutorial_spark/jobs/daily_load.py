"""spark-submit entry point for the daily TWSE load.

The orchestration split (per BASELINE.json "Airflow orchestrating Spark
jobs for scraping/transform/load"): Airflow owns WHEN (schedule, retry,
alert routing — reference C5: @daily, retries=2, retry_delay=5min);
this job owns WHAT (the whole scrape->clean->validate->load dataflow as
one Spark plan). The reference's five-task DAG with XCom handoffs
collapses into one spark-submit because the data plane never needs to
re-enter the control plane (SURVEY.md §3.4).

Usage:
    spark-submit .../jobs/daily_load.py --date 20220819 --sink /data/investment
    python -m airflow_scraping_etl_tutorial_spark.jobs.daily_load \
        --date 20220819 --sink /tmp/investment [--backfill-to 20220831]

Notifications: when TELEGRAM_TOKEN and TELEGRAM_CHAT_ID are both set
(the deployment's bot credentials, like the reference's Telegram
connection), the success and alert texts go to that chat through
sources/notify.py::TelegramNotifier; otherwise the job sends none.

Exit codes (the Airflow-visible contract):
    0 = loaded (or clean market-closed no-op)
    3 = validation alert (schema drift — reference alert route)
    4 = a day's fetch failed (transport error or unreadable payload);
        like any other non-zero exit the Airflow retry policy applies, so
        a brief TWSE outage loads the day on a later attempt
    other = hard failure (Airflow retry policy applies)
"""

from __future__ import annotations

import argparse
import os
import sys
from datetime import datetime, timedelta


def date_range(start: str, end: str) -> list[str]:
    d0 = datetime.strptime(start, "%Y%m%d")
    d1 = datetime.strptime(end, "%Y%m%d")
    return [
        (d0 + timedelta(days=i)).strftime("%Y%m%d") for i in range((d1 - d0).days + 1)
    ]


def main(argv: list[str] | None = None, fetcher=None, notify=None) -> int:
    parser = argparse.ArgumentParser(description=__doc__)
    parser.add_argument("--date", required=True, help="yyyyMMdd (reference P9 format)")
    parser.add_argument("--backfill-to", help="inclusive end date for a backfill range")
    parser.add_argument("--sink", required=True, help="parquet sink path")
    parser.add_argument(
        "--source",
        choices=["twse", "golden"],
        default="twse",
        help="'golden' replays the captured fixture payloads offline "
        "(demo/smoke mode; 'twse' hits the live endpoint)",
    )
    args = parser.parse_args(argv)
    token, chat_id = os.environ.get("TELEGRAM_TOKEN"), os.environ.get("TELEGRAM_CHAT_ID")
    if notify is None and token and chat_id:
        from ..sources.notify import TelegramNotifier

        notify = TelegramNotifier(token, chat_id)

    from ..pipeline.investment import run_daily_load
    from ..session import get_spark
    from ..sources import twse

    spark = get_spark("daily_load")
    dates = (
        date_range(args.date, args.backfill_to) if args.backfill_to else [args.date]
    )
    if fetcher is not None:
        payloads = fetcher(spark, dates)
    else:
        # one planned scan, one partition (one fetch) per day
        twse.register(spark)
        payloads = (
            spark.read.format("twse")
            .option("dates", ",".join(dates))
            .option("source", "golden" if args.source == "golden" else twse.TWSE_URL)
            .load()
        )

    result = run_daily_load(spark, payloads, args.sink, notify=notify)
    print(
        f"route={result.route} days_loaded={result.days_loaded} "
        f"alerts={','.join(result.alerts) or '-'}"
    )
    if result.fetch_failed:
        return 4
    return 3 if result.route == "alert" else 0


if __name__ == "__main__":
    sys.exit(main())
