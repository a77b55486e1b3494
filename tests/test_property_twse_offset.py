"""Property test for the TWSE stream reader's checkpoint contract
(sources/twse.py::TwseStreamReader): over hypothesis-driven
consume/restart schedules, the reader must deliver EVERY date EXACTLY
ONCE when the consumed prefix is preserved (appends allowed at any
restart), and must raise — never skip or re-read — when the prefix
mutates (insertion, removal, or reorder before the cursor). Pure
driver-side Python: the reader's offset logic has no Spark dependency,
so the property runs hundreds of schedules in seconds."""

from __future__ import annotations

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from airflow_scraping_etl_tutorial_spark.sources.twse import (
    TwseStreamReader,
)

# golden dates the offline transport recognizes; the offset logic only
# compares strings, so a synthetic dense calendar is fine
_CAL = [f"202301{d:02d}" for d in range(1, 21)]


def _reader(dates: list[str], batch_days: int) -> TwseStreamReader:
    return TwseStreamReader(
        {"dates": ",".join(dates), "source": "golden", "batch_days": str(batch_days)}
    )


class _NoFetch(TwseStreamReader):
    """Offset logic only — read() normally fetches payloads; the
    property needs just the (dates-consumed, end-offset) bookkeeping,
    so _rows is stubbed to echo the dates themselves."""

    def _rows(self, lo: int, hi: int):
        return iter(self._dates[lo:hi])


def _nofetch(dates: list[str], batch_days: int) -> _NoFetch:
    return _NoFetch(
        {"dates": ",".join(dates), "source": "golden", "batch_days": str(batch_days)}
    )


@given(
    n_initial=st.integers(min_value=1, max_value=10),
    appends=st.lists(st.integers(min_value=0, max_value=4), max_size=5),
    batch_days=st.integers(min_value=1, max_value=4),
)
@settings(max_examples=200, deadline=None)
def test_append_only_evolution_is_exactly_once(n_initial, appends, batch_days):
    """Consume in batches; between batches, append 0+ future days and
    RESTART (a fresh reader resumes from the committed offset). Every
    date must be seen exactly once, in calendar order."""
    dates = _CAL[:n_initial]
    used = n_initial
    seen: list[str] = []
    r = _nofetch(dates, batch_days)
    off = r.initialOffset()
    for extra in appends + [0]:
        # drain what's currently visible
        while True:
            rows, off = r.read(off)
            got = list(rows)
            if not got:
                break
            seen.extend(got)
        # append and restart
        dates = dates + _CAL[used : used + extra]
        used += extra
        r = _nofetch(dates, batch_days)
    assert seen == dates  # exactly once, in order


@given(
    n_initial=st.integers(min_value=2, max_value=8),
    consume=st.integers(min_value=1, max_value=7),
    insert_at=st.integers(min_value=0, max_value=6),
    batch_days=st.integers(min_value=1, max_value=3),
)
@settings(max_examples=200, deadline=None)
def test_mutation_before_cursor_always_raises(
    n_initial, consume, insert_at, batch_days
):
    """After committing some days, restart with a date INSERTED: a
    position STRICTLY BEFORE the cursor mutates the consumed prefix
    and must refuse the offset (never silently skip the inserted day);
    a position at-or-after the cursor preserves the prefix and must
    resume cleanly WITH the inserted day still delivered."""
    consume = min(consume, n_initial)
    dates = _CAL[:n_initial]
    r = _nofetch(dates, batch_days)
    off = r.initialOffset()
    got = 0
    while got < consume:
        rows, off = r.read(off)
        batch = list(rows)
        if not batch:
            break
        got += len(batch)
    assert off["n_consumed"] == got >= 1
    insert_at = min(insert_at, len(dates))
    mutated = dates[:insert_at] + ["20991231"] + dates[insert_at:]
    r2 = _nofetch(mutated, batch_days)
    if insert_at < got:
        # prefix mutated: the bare-last_date cursor of the first
        # round-11 form silently skipped this day — must now refuse
        with pytest.raises(ValueError, match="mutated before the cursor"):
            r2.read(off)
    else:
        # prefix preserved: resume delivers everything after the
        # cursor, INCLUDING the inserted day, exactly once
        seen: list[str] = []
        off2 = off
        while True:
            rows, off2 = r2.read(off2)
            batch = list(rows)
            if not batch:
                break
            seen.extend(batch)
        assert seen == mutated[got:]


@given(
    n_initial=st.integers(min_value=2, max_value=8),
    consume=st.integers(min_value=1, max_value=7),
    batch_days=st.integers(min_value=1, max_value=3),
)
@settings(max_examples=100, deadline=None)
def test_removed_committed_date_always_raises(n_initial, consume, batch_days):
    consume = min(consume, n_initial)
    dates = _CAL[:n_initial]
    r = _nofetch(dates, batch_days)
    off = r.initialOffset()
    got = 0
    while got < consume:
        rows, off = r.read(off)
        batch = list(rows)
        if not batch:
            break
        got += len(batch)
    assert got >= 1
    last = off["last_date"]
    mutated = [d for d in dates if d != last]
    if not mutated:
        return  # option requires a non-empty list; out of contract
    r2 = _nofetch(mutated, batch_days)
    with pytest.raises(ValueError, match="not in the current 'dates'"):
        r2.read(off)
