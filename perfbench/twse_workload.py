"""``twse_etl``: the paper's daily TWSE pipeline, used the way the
reference uses it.

The reference's deployed DAG (``dags/Final_app.py``, ``@daily``) loads
one day per scheduled run, and its read-back DAG (``dags/insert_data.py``)
reads the sink right after a load; the read a user of the sink makes is
the one-day lookup ``SELECT * FROM investment_data WHERE dt=...``
(reference S4, ``README.md:339``). So one pass is one scheduled trading
day: the daily load through ``minirunner.run_once`` ->
``jobs.daily_load.main`` with an injected fetcher (the deployed path),
then the S4 lookup of that day (``read_sink(sink, dt)`` plus its
action). The sink holds two years of history, loaded in set-up by two
year-sized backfills (``payloads_to_df`` -> ``run_daily_load``). After
each pass the benchmark removes the day's partition, so every pass reads
the same partitions: a read costs O(partitions).
"""

from __future__ import annotations

import contextlib
import io
import os
import random
import shutil
import time
from datetime import date, datetime
from zoneinfo import ZoneInfo

from airflow_scraping_etl_tutorial_spark.jobs import daily_load
from airflow_scraping_etl_tutorial_spark.orchestration import minirunner
from airflow_scraping_etl_tutorial_spark.pipeline import investment
from airflow_scraping_etl_tutorial_spark.pipeline.investment import SINK_COLUMNS, read_sink
from airflow_scraping_etl_tutorial_spark.sources.twse import payloads_to_df

import twse_data as td
from common import Ctx, Op, PassResult

# Year-sized backfills that make the history: start, calendar days,
# drifting weekdays: 513 loaded days, so 513 partitions.
HISTORY = ((date(2020, 1, 1), 366, 5), (date(2021, 1, 1), 365, 5))
# The scheduled days after the history: Sat 1 Jan 2022 (market closed),
# then eight weeks whose weekdays are the passes' trading days, in turn
# (the warm passes take the last two).
NEW_DAYS = (date(2022, 1, 1), 58, 0)
TPE = ZoneInfo("Asia/Taipei")


class TwseEtl:
    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        self.sink = os.path.join(ctx.work_dir, "sink")
        self.untimed = PassResult(-1)  # set-up and end-of-run ops and checks

    def setup(self) -> None:
        ctx = self.ctx
        with ctx.tracer.span("data.generate"):
            self.history, new, self.expected, self.by_dt = make_days(ctx.seed)
        self.closed = new[0]
        self.days = [d for d in new if d.route == td.LOADED]
        if ctx.tracer.enabled:
            self.trace_run_daily_load()
        shutil.rmtree(self.sink, ignore_errors=True)
        for batch in self.history:
            self.run_op("backfill", batch, self.untimed)
        # Warm-up, untimed: every route of the daily path (a closed day,
        # a day that drifted in the history) and two passes.
        drift = next(d for d in self.history[-1] if d.route == td.ALERT)
        self.run_op("daily", self.closed, self.untimed)
        self.run_op("daily", drift, self.untimed)
        for warm in (-2, -1):
            self.untimed.ops += self.run_pass(warm).ops

    def trace_run_daily_load(self) -> None:
        """Wrap ``investment.run_daily_load`` in a span for this process.
        ``daily_load.main`` looks it up when called, so the wrapper sees
        the deployed path too."""
        orig, tracer = investment.run_daily_load, self.ctx.tracer

        def traced(*a, **k):
            with tracer.span("pipeline.run_daily_load"):
                return orig(*a, **k)

        investment.run_daily_load = traced

    def run_pass(self, pass_no: int) -> PassResult:
        """One scheduled trading day: its daily load, then its lookup."""
        day = self.days[pass_no % len(self.days)]
        res = PassResult(pass_no)
        t0 = time.perf_counter()
        self.run_op("daily", day, res)
        self.run_op("read", day, res)
        res.wall = time.perf_counter() - t0
        shutil.rmtree(os.path.join(self.sink, f"dt={day.dt}"), ignore_errors=True)
        return res

    def run_op(self, kind: str, arg, res: PassResult) -> None:
        ctx = self.ctx
        op = ctx.next_op()
        rec = Op(op, kind if kind == "backfill" else f"{kind}:{arg.dt}", kind)
        if kind == "backfill":
            rec.parts["days"] = sum(d.route == td.LOADED for d in arg)
        ctx.job_group(op, kind)
        t0 = time.perf_counter()
        try:
            with ctx.tracer.span(f"op.{kind}", op):
                rec.ok = getattr(self, kind)(arg)
            rec.latency = time.perf_counter() - t0
        except Exception as e:  # noqa: BLE001 - a failing op is a result
            rec.error, rec.ok = f"{type(e).__name__}: {e}", False
        if ctx.tracer.enabled and rec.error is None:
            self.layer_figures(rec, res)
        res.ops.append(rec)

    def check(self) -> PassResult:
        """After the timed passes: re-load a day the history already
        holds (the reference's retry), then the whole sink must equal
        the history's rows, which is also the idempotency check."""
        res = self.untimed
        again = random.Random(f"{self.ctx.seed}:reload").choice(sorted(self.expected))
        self.run_op("daily", self.by_dt[again], res)
        rows = read_sink(self.ctx.spark, self.sink).collect()
        res.ops.append(Op(-1, "sink", "check", ok={r["dt"]: as_tuple(r) for r in rows} == self.expected))
        files, size, days = sink_stats(self.sink)
        res.add("sink.files_per_day", files / max(days, 1))
        res.add("sink.bytes_per_day", size / max(days, 1))
        shutil.rmtree(self.sink, ignore_errors=True)
        return res

    # -- the three op types; each returns whether its output was right --

    def backfill(self, days) -> bool:
        spark, tracer = self.ctx.spark, self.ctx.tracer
        with tracer.span("twse.to_df"):
            df = payloads_to_df(spark, [d.payload for d in days])
        r = investment.run_daily_load(spark, df, self.sink)
        drift = sorted(d.dt for d in days if d.route == td.ALERT)
        n_loaded = sum(d.route == td.LOADED for d in days)
        return (r.route, r.days_loaded, r.alerts) == ("alert" if drift else "loaded", n_loaded, drift)

    def daily(self, day) -> bool:
        tracer, by_dt = self.ctx.tracer, self.by_dt
        notes: list[str] = []

        def fetcher(spark_, dts):
            with tracer.span("twse.to_df"):
                return payloads_to_df(spark_, [by_dt[d].payload for d in dts])

        def job(dt: str) -> int:
            return daily_load.main(["--date", dt, "--sink", self.sink], fetcher=fetcher, notify=notes.append)

        out = io.StringIO()
        end = datetime.strptime(day.dt, "%Y%m%d").replace(hour=18, tzinfo=TPE)
        with contextlib.redirect_stdout(out), tracer.span("jobs.run_once"):
            r = minirunner.run_once(job, end, sleep=lambda s: None)
        want_state = minirunner.SKIPPED if day.route == td.ALERT else minirunner.SUCCESS
        want_notes = {td.LOADED: 1, td.ALERT: 1, td.CLOSED: 0}[day.route]
        return (
            r.state == want_state
            and r.attempts == 1
            and out.getvalue().startswith(f"route={day.route} ")
            and len(notes) == want_notes
        )

    def read(self, day) -> bool:
        tracer = self.ctx.tracer
        with tracer.span("read.plan"):
            df = read_sink(self.ctx.spark, self.sink, day.dt)
        with tracer.span("read.exec"):
            rows = df.collect()
        return [as_tuple(r) for r in rows] == [day.row]

    def op_latencies(self, passes: list[PassResult]) -> list[float]:
        """The daily loads: the op the deployed DAG runs."""
        return [o.latency for p in passes for o in p.ops if o.kind == "daily" and o.latency is not None]

    def layer_figures(self, rec: Op, res: PassResult) -> None:
        """Stage metrics of the op's job group, and the split of each
        ``run_daily_load`` into validate (up to the end of the
        validation collect) and write (the rest)."""
        ctx = self.ctx
        m = ctx.stage_metrics(rec.op, rec.kind)
        res.add_stages(m)
        if rec.kind == "daily":
            res.add("daily.jobs", m["jobs"])
        spans = [s for s in ctx.tracer.spans if s.op == rec.op and s.name == "pipeline.run_daily_load"]
        if not spans:
            return
        collects = [
            done
            for name, _, done in ctx.job_times(rec.op, rec.kind)
            if name.startswith("collect at") and "investment.py" in name
        ]
        s = spans[-1]
        split = max(collects) - ctx.epoch_offset if collects else s.end
        split = min(max(split, s.start), s.end)
        res.add("pipeline.validate_s", split - s.start)
        res.add("pipeline.write_s", s.end - split)


def make_days(seed: int, history=HISTORY, new_days=NEW_DAYS):
    """(history batches, new days, expected sink rows by dt after the
    history, payload Day by dt)."""
    batches = [td.make_days(seed, *h, salt=f"history-{h[0]:%Y}") for h in history]
    new = td.make_days(seed, *new_days, salt="daily")
    by_dt = {d.dt: d for b in batches for d in b} | {d.dt: d for d in new}
    expected = {d.dt: d.row for b in batches for d in b if d.route == td.LOADED}
    return batches, new, expected, by_dt


def as_tuple(row) -> tuple:
    """A sink row as (dt, 12 ints) in sink-schema order."""
    return tuple(row[c] if c == "dt" else int(row[c]) for c in SINK_COLUMNS)


def sink_stats(sink: str) -> tuple[int, int, int]:
    """(data files, their bytes, day partitions) on disk."""
    files = size = days = 0
    for root, dirs, names in os.walk(sink):
        days += sum(d.startswith("dt=") for d in dirs)
        for n in names:
            if n.startswith("part-"):
                files += 1
                size += os.path.getsize(os.path.join(root, n))
    return files, size, days
