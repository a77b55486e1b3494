"""TWSE "Three Major Institutional Investors" JSON source.

The reference scrapes
``https://www.twse.com.tw/fund/BFI82U?response=json&dayDate={yyyyMMdd}``
once per day (reference: dags/Final_app.py:26-28,45-47) and parses the
payload with driver-side dict access. Here the feed is one Spark data
source (Python Data Source API): ``spark.read.format("twse")`` is a
planned scan with one input partition per trading day, so a 20-year
backfill (~5k days) is ~5k scan tasks scheduled and retried like any
other, and ``spark.readStream.format("twse")`` is the same feed as a
Structured Streaming source. Rows are typed by PAYLOAD_SCHEMA (shape
captured in dags/scrapy_develop.ipynb cell-2), so the pipeline composes
with no glue: ``clean_long(spark.read.format("twse")...load())`` is the
reference's crawl->clean hop.

Options:
- ``dates`` (required): comma-separated yyyyMMdd trading days.
- ``source``: ``golden`` (default) replays the committed golden payloads
  by date, fully offline; otherwise an http(s) URL template with ``{date}``
  (``TWSE_URL`` for the live endpoint), fetched in the Python workers,
  one request per date. An unreachable or malformed day becomes a
  stat=NULL row for that date instead of failing the scan;
  pipeline/investment.py::run_daily_load routes it to the alert path.
- ``batch_days`` (streaming only): max dates per micro-batch; default
  all available, so trigger(availableNow) drains in one batch; 1 is the
  strict daily cadence.

``payloads_to_df`` is the in-memory seam: payload dicts already in hand
(tests, generated benchmark days, an injected fetcher) become the same
typed frame.
"""

from __future__ import annotations

import json
from collections.abc import Iterable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T
from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    InputPartition,
    SimpleDataSourceStreamReader,
)

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
    seam and both readers so the tuple cannot drift from the schema."""
    return tuple(p.get(f.name) for f in PAYLOAD_SCHEMA.fields)


def payloads_to_df(spark: SparkSession, payloads: Iterable[dict]) -> DataFrame:
    """Materialize raw payload dicts as a typed DataFrame (test seam)."""
    return spark.createDataFrame([_payload_row(p) for p in payloads], PAYLOAD_SCHEMA)


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

    def simpleStreamReader(self, schema) -> "TwseStreamReader":
        return TwseStreamReader(self.options)


class TwseReader(DataSourceReader):
    def __init__(self, options):
        self._dates, self._source = _parse_options(options)

    def partitions(self):
        # one partition per trading day: a 20-year backfill becomes
        # ~5k independent scan tasks, scheduled/retried like any scan
        return [_DatePartition(d) for d in self._dates]

    def read(self, partition: _DatePartition):
        yield _payload_row(_payload_for(partition.date, self._source))


class TwseStreamReader(SimpleDataSourceStreamReader):
    """STREAMING form of the feed (SimpleDataSourceStreamReader): the
    reference's once-a-day cadence as a Structured Streaming source.
    The offset is CONTENT-based AND POSITION-VALIDATED —
    ``{"last_date": d, "n_consumed": k}``, the last consumed trading
    day plus how many days were consumed to reach it (``None``/0
    before the first batch) — so progress is exactly-once and
    replayable ACROSS restarts exactly when the consumed PREFIX of the
    ``dates`` option is unchanged (appending future days is the normal
    calendar evolution and always compatible). Every other mutation
    fails LOUDLY instead of silently skipping or re-reading days: a
    list missing the committed date (removal/rename), a date
    backfilled/inserted/reordered BEFORE the committed one (the
    committed date's position no longer equals ``n_consumed``; a bare
    ``last_date`` cursor would silently skip a backfilled day and
    replay a DIFFERENT row set for a committed range), and the older
    positional ``next_idx`` form (unvalidatable against a reordered
    list). ``read`` advances
    by ``batch_days`` dates (default: all available, so availableNow
    drains in one batch; set 1 for the strict
    one-day-per-micro-batch cadence) and ``readBetweenOffsets``
    re-yields any committed range deterministically after a restart —
    both ends position-validated first, so an insertion inside the
    range refuses rather than replaying rows that were never in the
    committed batch.
    In production the date list is the trading calendar up to today;
    offline it is the test's golden dates — same doctrine as the batch
    reader.

    The simple (driver-side) reader variant is the honest choice for a
    1-document-per-day feed: per-batch volume is tiny, so the
    partition-planning machinery of the full DataSourceStreamReader
    would buy nothing.
    """

    def __init__(self, options):
        self._dates, self._source = _parse_options(options)
        # The position check below resolves a committed date with
        # list.index (FIRST occurrence) — that is only a sound cursor
        # when dates are unique, so make uniqueness an explicit
        # contract here rather than let a duplicated day surface later
        # as a misdiagnosed 'mutated before the cursor' refusal.
        dupes = sorted({d for d in self._dates if self._dates.count(d) > 1})
        if dupes:
            raise ValueError(
                f"twse stream: 'dates' option contains duplicate trading "
                f"days {dupes} — each day is one micro-batch and must "
                "appear exactly once"
            )
        raw = options.get("batch_days")
        self._batch_days = max(1, int(raw)) if raw else None  # None = all

    def initialOffset(self) -> dict:
        return {"last_date": None, "n_consumed": 0}

    def _idx_after(self, offset: dict) -> int:
        """Index of the first UNCONSUMED date under `offset`. Fails
        loudly when the offset shape is not the content+position form
        this reader writes (e.g. a positional next_idx checkpoint from
        an older build, or a bare last_date from an earlier
        form — neither can be validated against a mutated list), when
        a committed date no longer exists in the current list
        (removal/rename), or when it exists at a DIFFERENT position
        than when it was committed (a date backfilled / inserted /
        reordered before the cursor — resuming 'after' the date would
        silently skip the inserted days)."""
        if "last_date" not in offset or "n_consumed" not in offset:
            raise ValueError(
                f"twse stream: unrecognized checkpoint offset {offset!r} — "
                "this reader commits {'last_date': <yyyyMMdd>, "
                "'n_consumed': <int>}; start a fresh checkpoint"
            )
        last = offset["last_date"]
        n_consumed = offset["n_consumed"]
        if last is None:
            if n_consumed != 0:
                raise ValueError(
                    f"twse stream: inconsistent checkpoint offset "
                    f"{offset!r} (no last_date but n_consumed != 0)"
                )
            return 0
        try:
            idx = self._dates.index(last)
        except ValueError:
            raise ValueError(
                f"twse stream restart: committed offset date {last!r} is "
                "not in the current 'dates' option — the list changed "
                "incompatibly (day removed/renamed); restore the committed "
                "date or start a fresh checkpoint"
            ) from None
        if idx + 1 != n_consumed:
            raise ValueError(
                f"twse stream restart: committed offset date {last!r} was "
                f"consumed at position {n_consumed} but now sits at "
                f"position {idx + 1} — the 'dates' option mutated before "
                "the cursor (day backfilled/inserted/reordered); only "
                "APPENDING future days is checkpoint-compatible. Restore "
                "the committed prefix or start a fresh checkpoint"
            )
        return idx + 1

    def read(self, start: dict):
        lo = self._idx_after(start)
        step = self._batch_days or len(self._dates)
        hi = min(lo + step, len(self._dates))
        end = (
            {"last_date": self._dates[hi - 1], "n_consumed": hi}
            if hi > 0
            else {"last_date": None, "n_consumed": 0}
        )
        return self._rows(lo, hi), end

    def readBetweenOffsets(self, start: dict, end: dict):
        return self._rows(self._idx_after(start), self._idx_after(end))

    def commit(self, end: dict) -> None:
        pass  # nothing upstream to acknowledge; the cursor IS the state

    def _rows(self, lo: int, hi: int):
        # a LIST ITERATOR, not a generator and not a bare list: the
        # engine's prefetch cache (datasource_internal) both
        # copy.copy()s the returned value AND calls next() on it —
        # generators aren't copyable, lists aren't iterators; a
        # list_iterator is both. At one document per day
        # materializing is free anyway.
        return iter(
            [
                _payload_row(_payload_for(date, self._source))
                for date in self._dates[lo:hi]
            ]
        )


def register(spark: SparkSession) -> None:
    """Register the format with a session: spark.read.format('twse')."""
    spark.dataSource.register(TwseDataSource)
