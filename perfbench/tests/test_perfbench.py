"""Checks of the benchmark itself: seeded inputs, metric names, and
that a wrong output is counted as a failure.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [BENCH, ROOT]

import twse_data as td  # noqa: E402
from common import END_TO_END, HEADLINE, Ctx, Op, PassResult, layer_units, tally  # noqa: E402
from spans import Tracer  # noqa: E402
from twse_workload import HISTORY, TwseEtl, make_days  # noqa: E402


def test_same_seed_gives_byte_identical_payloads():
    a = td.payload_bytes(td.make_days(7, *HISTORY[0], salt="x"))
    b = td.payload_bytes(td.make_days(7, *HISTORY[0], salt="x"))
    c = td.payload_bytes(td.make_days(8, *HISTORY[0], salt="x"))
    assert a == b
    assert a != c


@pytest.mark.parametrize("seed", [0, 1, 12345])
def test_every_seed_loads_the_same_days(seed):
    """Fixed calendar and drift count: the history has the same
    partition count and every pass loads a trading day, whatever the seed."""
    history, new, expected, _ = make_days(seed)
    for batch, (_, _, n_drift) in zip(history, HISTORY):
        assert sum(d.route == td.ALERT for d in batch) == n_drift
        assert all((d.route == td.CLOSED) == (d.payload["stat"] != "OK") for d in batch)
    assert len(expected) == 513
    assert new[0].route == td.CLOSED
    assert sum(d.route == td.LOADED for d in new) == 40
    for row in expected.values():
        vals = row[1:]
        assert all(vals[i + 2] == vals[i] - vals[i + 1] for i in range(0, 12, 3))


def test_metric_names_match_benchmark_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == layer_units()


def test_traced_summary_emits_exactly_the_layer_metrics():
    import run

    tracer = Tracer(enabled=True)
    ctx = Ctx(1, tracer, "", "", None)
    with tracer.span("session.start"):
        pass
    passes = [PassResult(1, wall=2.2)]
    tracer.pass_no = 1
    with tracer.span("op.daily", 5):
        with tracer.span("jobs.run_once"):
            pass
    passes[0].ops = [
        Op(5, "daily:20220103", "daily", latency=0.5),
        Op(6, "read:20220103", "read", latency=0.7),
        Op(7, HEADLINE[0], latency=1.0, parts={"build": 0.4, "exec": 0.6}),
    ]
    untimed = PassResult(-1, [Op(1, "backfill", "backfill", latency=2.0, parts={"days": 10})])
    host = {"host.steal_jiffies": 0, "host.iowait_jiffies": 0, "host.loadavg": 0.5}
    metrics = run.layer_metrics(ctx, passes, untimed, host, 0.0)
    assert set(metrics) == set(layer_units())
    assert metrics[f"q.{HEADLINE[0]}.exec_s"] == 0.6
    assert metrics["backfill_days_per_s"] == 5.0
    assert metrics["read_day_p50_s"] == 0.7


def test_wrong_outputs_count_as_failures():
    p = PassResult(0, ops=[Op(1, "a"), Op(2, "b"), Op(3, "c", ok=False), Op(4, "d", error="boom")])
    checks = PassResult(-1, ops=[Op(-1, "a", "check"), Op(-1, "b", "check", ok=False)])
    assert tally([p]) == (4, 2)
    assert tally([p, checks]) == (6, 3)


@pytest.fixture(scope="module")
def spark():
    from airflow_scraping_etl_tutorial_spark.session import get_spark

    return get_spark("perfbench-test", master="local[1]")


def small_twse(tmp_path, spark, seed=3) -> TwseEtl:
    """A TwseEtl on a two-week history, so the test stays short."""
    from datetime import date

    w = TwseEtl(Ctx(seed, Tracer(enabled=False), str(tmp_path), "", spark))
    history, new, w.expected, w.by_dt = make_days(seed, ((date(2021, 3, 1), 14, 1),), (date(2021, 3, 13), 9, 0))
    w.history, w.closed, w.days = history, new[0], [d for d in new if d.route == td.LOADED]
    for batch in history:
        w.run_op("backfill", batch, w.untimed)
    return w


def test_corrupted_expected_row_is_a_failure(spark, tmp_path):
    """The TWSE checks compare against the generated oracle: a pass and
    the end-of-run checks are clean, then a corrupted expected row fails
    both the day's lookup and the whole-sink check, so fail_ratio rises."""
    w = small_twse(tmp_path / "ok", spark)
    passes = [w.run_pass(i) for i in range(2)]
    w.run_op("daily", w.closed, w.untimed)
    assert tally(passes + [w.check()]) == (4 + 1 + 1 + 1 + 1, 0)

    w = small_twse(tmp_path / "bad", spark)
    day = w.days[0]
    bad_row = day.row[:1] + (day.row[1] + 1,) + day.row[2:]
    w.by_dt[day.dt] = w.days[0] = td.Day(day.dt, day.route, day.payload, bad_row)
    some = next(iter(w.expected))
    w.expected[some] = w.expected[some][:1] + (w.expected[some][1] + 1,) + w.expected[some][2:]
    passes = [w.run_pass(0)]
    attempted, failed = tally(passes + [w.check()])
    assert [o.name for o in passes[0].ops if not o.ok] == [f"read:{day.dt}"]
    assert failed == 2  # the lookup of that day, and the whole-sink check
    assert failed / attempted > 0
