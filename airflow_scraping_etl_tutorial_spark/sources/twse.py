"""TWSE "Three Major Institutional Investors" JSON source.

The reference scrapes
``https://www.twse.com.tw/fund/BFI82U?response=json&dayDate={yyyyMMdd}``
once per day (reference: dags/Final_app.py:26-28,45-47) and parses the
payload with driver-side dict access. Here the feed is one Spark data
source (Python Data Source API): ``spark.read.format("twse")`` is a
planned scan with one input partition per trading day, so a 20-year
backfill (~5k days) is ~5k scan tasks scheduled and retried like any
other. It is a batch source only: the reference runs once a day, and
the deployed job (jobs/daily_load.py) reads one day per run. Rows are
typed by PAYLOAD_SCHEMA (shape captured in dags/scrapy_develop.ipynb
cell-2), so the pipeline composes with no glue:
``clean_long(spark.read.format("twse")...load())`` is the reference's
crawl->clean hop.

Options:
- ``dates`` (required): comma-separated yyyyMMdd trading days.
- ``source``: ``golden`` (default) replays the committed golden payloads
  by date, fully offline; otherwise an http(s) URL template with ``{date}``
  (``TWSE_URL`` for the live endpoint), fetched in the Python workers,
  one request per date. An unreachable or malformed day becomes a
  stat=NULL row for that date instead of failing the scan;
  pipeline/investment.py::run_daily_load routes it to the alert path.

``payloads_to_df`` is the in-memory seam: payload dicts already in hand
(tests, generated benchmark days, an injected fetcher) become the same
typed frame, built from one local Arrow batch, so a one-day load pays
for one task, not one per core.
"""

from __future__ import annotations

import json
from collections.abc import Iterable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T
from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition

TWSE_URL = "https://www.twse.com.tw/fund/BFI82U?response=json&dayDate={date}"

# Shape of the TWSE JSON document (scrapy_develop.ipynb cell-2).
PAYLOAD_SCHEMA = T.StructType(
    [
        T.StructField("stat", T.StringType()),
        T.StructField("title", T.StringType()),
        T.StructField("fields", T.ArrayType(T.StringType())),
        T.StructField("date", T.StringType()),
        T.StructField("data", T.ArrayType(T.ArrayType(T.StringType()))),
        T.StructField("params", T.MapType(T.StringType(), T.StringType())),
        T.StructField("notes", T.ArrayType(T.StringType())),
    ]
)

# The four investor-category rows the ETL keeps, in sink-column order
# (dags/Final_app.py:54-66 xcom key order; ipynb cell-1 column list), and
# the grand-total row it drops (Final_app.py:49).
CATEGORIES = (
    ("自營商(自行買賣)", "dealer"),
    ("自營商(避險)", "dealer_hedge"),
    ("投信", "investment"),
    ("外資及陸資", "foreign"),
)
TOTAL_ROW_LABEL = "合計"


def _payload_row(p: dict) -> tuple:
    """The one payload-dict -> PAYLOAD_SCHEMA-row mapping, shared by the
    seam and the reader so the tuple cannot drift from the schema."""
    return tuple(p.get(f.name) for f in PAYLOAD_SCHEMA.fields)


def payloads_to_df(spark: SparkSession, payloads: Iterable[dict]) -> DataFrame:
    """Payload dicts in hand -> a PAYLOAD_SCHEMA frame, sent to the JVM
    as one local Arrow batch. A Python list would be pickled into one
    slice per core, so a one-day load would run on every core; from
    the batch it runs on one task per row, up to the core count."""
    import pandas as pd  # deferred: importing the plan catalog must not load pandas

    rows = [_payload_row(p) for p in payloads]
    return spark.createDataFrame(pd.DataFrame(rows, columns=PAYLOAD_SCHEMA.fieldNames()), PAYLOAD_SCHEMA)


def _http_get_json(url: str, timeout: float = 30.0) -> dict:
    """Fetch one JSON document (stdlib only; no extra deps)."""
    from urllib.request import urlopen  # deferred: the golden path never needs it

    with urlopen(url, timeout=timeout) as resp:  # noqa: S310 (scheme checked in _parse_options)
        return json.loads(resp.read().decode("utf-8"))


def _payload_for(date: str, source: str) -> dict:
    if source == "golden":
        from .golden import GOLDEN_CLOSED, GOLDEN_OK, GOLDEN_WRONG_ARITY

        by_date = {
            p["date"]: p for p in (GOLDEN_OK, GOLDEN_CLOSED, GOLDEN_WRONG_ARITY)
        }
        if date in by_date:
            return by_date[date]
        # unknown date in golden mode -> the closed-day shape for that
        # date (deterministic; routes to the no-op path like P8)
        return {
            **GOLDEN_CLOSED,
            "date": date,
            "params": {"response": "json", "dayDate": date},
        }
    try:
        p = _http_get_json(source.format(date=date))
    except Exception:  # noqa: BLE001 — any transport failure
        return {"stat": None, "date": date}
    # keep the row attributable to its trading day even when the
    # payload omits/nulls 'date' (schema drift)
    return p if p.get("date") else {**p, "date": date}


def _parse_options(options) -> tuple[list[str], str]:
    """(dates, source) from the reader options, refusing bad values
    before any partition runs."""
    dates = options.get("dates", "")
    if not dates:
        raise ValueError("twse source requires option('dates', 'd1,d2,...')")
    source = options.get("source", "golden")
    if source != "golden" and not (
        source.startswith(("http://", "https://")) and "{date}" in source
    ):
        raise ValueError(
            f"unknown twse source {source!r} (golden | http(s) URL template with {{date}})"
        )
    return [d.strip() for d in dates.split(",") if d.strip()], source


class _DatePartition(InputPartition):
    def __init__(self, date: str):
        self.date = date


class TwseDataSource(DataSource):
    """format name: ``twse``; options in the module docstring."""

    @classmethod
    def name(cls) -> str:
        return "twse"

    def schema(self) -> T.StructType:
        return PAYLOAD_SCHEMA

    def reader(self, schema) -> "TwseReader":
        return TwseReader(self.options)


class TwseReader(DataSourceReader):
    def __init__(self, options):
        self._dates, self._source = _parse_options(options)

    def partitions(self):
        # one partition per trading day: a 20-year backfill becomes
        # ~5k independent scan tasks, scheduled/retried like any scan
        return [_DatePartition(d) for d in self._dates]

    def read(self, partition: _DatePartition):
        yield _payload_row(_payload_for(partition.date, self._source))


def register(spark: SparkSession) -> None:
    """Register the format with a session: spark.read.format('twse')."""
    spark.dataSource.register(TwseDataSource)
