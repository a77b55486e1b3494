"""Seeded TWSE payloads in the ``sources/golden.py`` shape, plus the
oracle each pipeline route and sink row is checked against.

The calendar is fixed, so every seed loads the same number of days and
the sink ends each round with the same partition count: weekends are
market-closed, and a fixed number of weekdays per batch drift in arity
(an extra category row, the pre-IFRS shape of ``GOLDEN_WRONG_ARITY``).
The seed picks the amounts and which weekdays drift.
"""

from __future__ import annotations

import json
import random
from dataclasses import dataclass
from datetime import date, timedelta

from airflow_scraping_etl_tutorial_spark.sources.golden import FIELDS, GOLDEN_CLOSED
from airflow_scraping_etl_tutorial_spark.sources.twse import CATEGORIES, TOTAL_ROW_LABEL

DRIFT_LABEL = "自營商"  # the pre-2014 dealer row that breaks the 12-value arity
MONEY_COLUMNS = tuple(
    f"{prefix}_{m}" for _, prefix in CATEGORIES for m in ("buy", "sell", "dif")
)

LOADED, CLOSED, ALERT = "loaded", "market_closed", "alert"


@dataclass(frozen=True)
class Day:
    dt: str  # yyyyMMdd
    route: str  # LOADED | CLOSED | ALERT
    payload: dict
    row: tuple | None  # expected 13-column sink row (dt first) when LOADED


def _fmt(n: int) -> str:
    return f"{n:,}"


def _title(d: date) -> str:
    return f"{d.year - 1911}年{d.month:02d}月{d.day:02d}日 三大法人買賣金額統計表"


def _day(rng: random.Random, d: date, drift: bool) -> Day:
    dt = d.strftime("%Y%m%d")
    if d.weekday() >= 5:
        payload = dict(GOLDEN_CLOSED, date=dt, params={"response": "json", "dayDate": dt})
        return Day(dt, CLOSED, payload, None)
    amounts = [(rng.randrange(10**8, 6 * 10**10), rng.randrange(10**8, 6 * 10**10)) for _ in CATEGORIES]
    data = [[label, _fmt(b), _fmt(s), _fmt(b - s)] for (label, _), (b, s) in zip(CATEGORIES, amounts)]
    tb, ts = sum(b for b, _ in amounts), sum(s for _, s in amounts)
    data.append([TOTAL_ROW_LABEL, _fmt(tb), _fmt(ts), _fmt(tb - ts)])
    if drift:
        b, s = rng.randrange(10**6, 10**9), rng.randrange(10**6, 10**9)
        data.insert(0, [DRIFT_LABEL, _fmt(b), _fmt(s), _fmt(b - s)])
    payload = {
        "stat": "OK",
        "title": _title(d),
        "fields": list(FIELDS),
        "date": dt,
        "data": data,
        "params": {"response": "json", "dayDate": dt},
        "notes": ["自營商表示證券自營商專戶。"],
    }
    if drift:
        return Day(dt, ALERT, payload, None)
    row = (dt,) + tuple(v for b, s in amounts for v in (b, s, b - s))
    return Day(dt, LOADED, payload, row)


def make_days(seed: int, start: date, n_days: int, n_drift: int, salt: str) -> list[Day]:
    """``n_days`` consecutive calendar days from ``start``; exactly
    ``n_drift`` of their weekdays (seed-chosen) drift in arity."""
    rng = random.Random(f"{seed}:{salt}")
    days = [start + timedelta(days=i) for i in range(n_days)]
    weekdays = [d for d in days if d.weekday() < 5]
    drift = set(rng.sample(weekdays, n_drift))
    return [_day(rng, d, d in drift) for d in days]


def payload_bytes(days: list[Day]) -> bytes:
    """Canonical serialization, for the same-seed determinism check."""
    return json.dumps([d.payload for d in days], ensure_ascii=False, sort_keys=True).encode()
