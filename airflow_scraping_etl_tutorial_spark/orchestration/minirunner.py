"""Minimal scheduler runtime for the daily DAG's schedule/retry
contract — so C5 (schedule + retry, reference dags/Final_app.py:14-20)
is EXERCISED, not just declared, in a sandbox where Airflow cannot be
installed.

Semantics implemented (and tested in tests/test_orchestration.py)
match Airflow's for the single-task daily DAG this repo deploys
(orchestration/daily_dag.py — the policy constants are imported from
there, one source of truth):

- ``@daily`` interval scheduling anchored at the DAG's start_date:
  the run for data interval [end - 1 day, end) fires AT ``end``;
  the job's template argument is ``data_interval_end`` rendered in the
  DAG's timezone as yyyyMMdd (the reference's time_zone.py lesson).
- retries: a non-zero, non-skip exit retries up to ``RETRIES`` times
  with ``RETRY_DELAY_SECONDS`` between attempts (sleep is injected so
  tests run instantly).
- skip_on_exit_code: the validation-alert exit (3) routes the run to
  SKIPPED immediately — never retried, exactly like BashOperator's
  ``skip_on_exit_code`` (retrying an alert would re-fire the
  notification per attempt).
- catchup: ``due_intervals`` enumerates every complete interval
  between start_date and "now" so a backfill executes one run per
  missed day, newest-last (the idempotent sink makes reruns safe —
  operators/rollup.py).

This is NOT an Airflow replacement: no task graph beyond what the
deployed DAG has (one task), no executor pool, no metadata DB. It is
the smallest machine that makes the declared policy falsifiable.
"""

from __future__ import annotations

import time as _time
from collections.abc import Callable, Iterator
from dataclasses import dataclass, field
from datetime import datetime, timedelta, timezone
from zoneinfo import ZoneInfo

from .daily_dag import (
    RETRIES,
    RETRY_DELAY_SECONDS,
    SCHEDULE,
    SKIP_ON_EXIT_CODE,
    START,
)

#: terminal run states (Airflow TaskInstance state names)
SUCCESS = "success"
SKIPPED = "skipped"
FAILED = "failed"

# The interval step is DERIVED from the DAG's declared schedule so the
# deployed DAG and the tested policy cannot drift (a cron schedule this
# table doesn't know is a loud failure, not a silently-wrong daily step).
_SCHEDULE_STEP = {
    "@daily": timedelta(days=1),
    "@weekly": timedelta(weeks=1),
    "@hourly": timedelta(hours=1),
}
STEP = _SCHEDULE_STEP[SCHEDULE]


def start_datetime() -> datetime:
    """The DAG's start_date as an aware datetime."""
    iso, tz = START
    return datetime.fromisoformat(iso).replace(tzinfo=ZoneInfo(tz))


def due_intervals(now: datetime, start: datetime | None = None) -> Iterator[datetime]:
    """All ``data_interval_end``s due at or before ``now`` under the
    DAG's declared schedule (STEP).

    Airflow fires a run once its data interval has COMPLETED: the run
    for [e - STEP, e) fires at e, so e <= now means due (an interval
    ending exactly now IS due)."""
    e = (start or start_datetime()) + STEP
    while e <= now:
        yield e
        e += STEP


def render_date(data_interval_end: datetime) -> str:
    """The job's --date argument: data_interval_end in the DAG's
    timezone, yyyyMMdd (daily_dag.SPARK_SUBMIT's template)."""
    return data_interval_end.astimezone(ZoneInfo(START[1])).strftime("%Y%m%d")


@dataclass
class RunResult:
    state: str
    attempts: int
    exit_codes: list[int] = field(default_factory=list)


def run_once(
    job: Callable[[str], int],
    data_interval_end: datetime,
    *,
    retries: int = RETRIES,
    retry_delay: float = RETRY_DELAY_SECONDS,
    skip_on_exit_code: int = SKIP_ON_EXIT_CODE,
    sleep: Callable[[float], None] = _time.sleep,
) -> RunResult:
    """Execute one scheduled run under the DAG's retry policy.

    ``job`` receives the rendered date string and returns an exit code
    (jobs/daily_load.py's CLI contract: 0 ok, 3 validation alert,
    4 failed fetch, anything else infrastructure failure; every non-zero
    exit but 3 is retried)."""
    date = render_date(data_interval_end)
    codes: list[int] = []
    for attempt in range(1, retries + 2):  # first try + retries
        rc = job(date)
        codes.append(rc)
        if rc == 0:
            return RunResult(SUCCESS, attempt, codes)
        if rc == skip_on_exit_code:
            return RunResult(SKIPPED, attempt, codes)
        if attempt <= retries:
            sleep(retry_delay)
    return RunResult(FAILED, retries + 1, codes)


def catchup(
    job: Callable[[str], int],
    now: datetime,
    start: datetime | None = None,
    **policy,
) -> dict[str, RunResult]:
    """Run every due interval in order (a backfill): date -> result.
    A FAILED day does not block later days — each daily run is an
    independent DAG run, and the idempotent sink makes re-running a
    failed day later safe."""
    out: dict[str, RunResult] = {}
    for e in due_intervals(now.astimezone(timezone.utc), start):
        out[render_date(e)] = run_once(job, e, **policy)
    return out
