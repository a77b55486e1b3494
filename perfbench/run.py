"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. One long-lived process per run: set-up
(session, registry import, data generation, warm-up), then timed passes
in a closed loop until ``--seconds`` have passed (at least one pass),
then the output checks the timed ops do not make themselves. The last
stdout line is the result: ``{"correct", "attempted", "failed",
"metrics"}``; a run record with the host counters goes to stderr. See
perfbench/README.md.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
sys.path.insert(1, ROOT)

from common import END_TO_END, HEADLINE, Ctx, PassResult, layer_units, median, tally  # noqa: E402
from spans import Tracer, cpu_count, host_counters, host_record  # noqa: E402

WORKLOADS = ("headline_sf0.1", "twse_etl")


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    try:
        import __spark_entry__

        if args.workload == "headline_sf0.1":
            from headline import Headline as Workload
        else:
            from twse_workload import TwseEtl as Workload
    except ImportError as e:
        print(f"perfbench: the program is not importable from {ROOT}: {e}", file=sys.stderr)
        return 2
    for sub in ("spark-local", "tmp"):
        os.makedirs(os.path.join(WORK, sub), exist_ok=True)
    # Spark's scratch files and Python temp files stay in the checkout.
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    os.environ["SPARK_GRAFT_CPUS"] = str(cpu_count())
    data_root = os.path.dirname(__spark_entry__.SF_SMOKE_DIR)

    tracer = Tracer(enabled=bool(args.trace))
    ctx = Ctx(args.seed, tracer, WORK, data_root)
    with tracer.span("session.start"):
        from airflow_scraping_etl_tutorial_spark.session import get_spark

        ctx.spark = get_spark("perfbench")
    try:
        w = Workload(ctx)
        w.setup()
        setup_s = time.perf_counter() - T_START
        host0 = host_counters()
        ctx.readout_s = 0.0
        passes: list[PassResult] = []
        t0 = time.perf_counter()
        while not passes or time.perf_counter() - t0 < args.seconds:
            tracer.pass_no = len(passes)
            passes.append(w.run_pass(len(passes)))
        host = host_record(host0, host_counters())
        measure_s = time.perf_counter() - t0
        tracer.pass_no = None
        # Outside the timed region: the output checks the timed ops do
        # not make themselves, and the set-up ops.
        untimed = w.check()
    finally:
        stop_spark(ctx.spark)

    attempted, failed = tally(passes + [untimed])
    op_lat = w.op_latencies(passes)
    if tracer.enabled:
        metrics = layer_metrics(ctx, passes, untimed, host, failed / attempted)
        tracer.write(os.path.join(WORK, f"trace-{args.workload}-{args.seed}.json"))
        units = layer_units()
    else:
        metrics = {
            "setup_s": setup_s,
            "pass_s": median([p.wall for p in passes]),
            "op_p50_s": median(op_lat),
        }
        units = END_TO_END
    ops = [o for r in passes + [untimed] for o in r.ops]
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "setup_s": setup_s,
        "measure_s": measure_s,
        "wall_s": time.perf_counter() - T_START,
        "pass_s": [p.wall for p in passes],
        "op_samples": len(op_lat),
        "failed": [o.name for o in ops if o.error or not o.ok],
        "errors": [o.error for o in ops if o.error][:5],
        **host,
    }
    print("perfbench run: " + json.dumps(record), file=sys.stderr)
    print(
        json.dumps(
            {
                "correct": failed == 0,
                "attempted": attempted,
                "failed": failed,
                "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
            }
        )
    )
    return 0


def layer_metrics(
    ctx: Ctx, traced: list[PassResult], untimed: PassResult, host: dict, fail_ratio: float
) -> dict[str, float]:
    """Per-layer figures of a traced run: per-pass totals (mean over
    its passes) of span self times, counters and stage metrics; set-up
    figures from the set-up spans and the untimed ops."""
    nums = {p.pass_no for p in traced}
    n = len(traced)
    tracer = ctx.tracer
    span_s: dict[str, float] = {}  # self time per span name, traced passes
    setup: dict[str, float] = {}
    for s, st in zip(tracer.spans, tracer.self_times()):
        if s.pass_no in nums:
            span_s[s.name] = span_s.get(s.name, 0.0) + st
        elif s.pass_no is None:
            setup[s.name] = setup.get(s.name, 0.0) + st
    c: dict[str, float] = {}
    for p in traced:
        for k, v in p.counters.items():
            c[k] = c.get(k, 0) + v
    ops = [o for p in traced for o in p.ops]
    dailies = [o for o in ops if o.kind == "daily" and o.latency is not None]
    reads = [o.latency for o in ops if o.kind == "read" and o.latency is not None]
    backfills = [o for o in untimed.ops if o.kind == "backfill" and o.latency is not None]
    traced_s = median([p.wall for p in traced])
    readout_s = ctx.readout_s / n
    # Spark-side wall: the noop write of each query, or the whole of each TWSE op.
    exec_s = span_s.get("exec.exec", 0.0) + sum(o.latency for o in ops if o.kind != "query" and o.latency)
    run_s = c.get("stage.run_ms", 0) / 1e3 / n
    out = {
        "session.start_s": setup.get("session.start", 0.0),
        "plans.import_s": setup.get("plans.import", 0.0),
        "plans.build_s": span_s.get("plans.build", 0.0) / n,
        "plans.build_jobs": c.get("plans.build_jobs", 0) / n,
        "exec.exec_s": exec_s / n,
        "exec.run_s": run_s,
        "exec.cpu_s": c.get("stage.cpu_ns", 0) / 1e9 / n,
        "exec.gc_s": c.get("stage.gc_ms", 0) / 1e3 / n,
        "exec.cpu_util": run_s / (exec_s / n * cpu_count()) if exec_s else 0.0,
        "exec.input_bytes": c.get("stage.input_bytes", 0) / n,
        "exec.shuffle_read_bytes": c.get("stage.shuffle_read_bytes", 0) / n,
        "exec.shuffle_write_bytes": c.get("stage.shuffle_write_bytes", 0) / n,
        "exec.spill_bytes": c.get("stage.disk_spill_bytes", 0) / n,
        "exec.jobs": c.get("stage.jobs", 0) / n,
        "exec.stages": c.get("stage.stages", 0) / n,
        "exec.tasks": c.get("stage.tasks", 0) / n,
        "caching.release_s": span_s.get("caching.release", 0.0) / n,
        "caching.released": c.get("caching.released", 0) / n,
        "twse.to_df_s": span_s.get("twse.to_df", 0.0) / n,
        "pipeline.validate_s": c.get("pipeline.validate_s", 0.0) / n,
        "pipeline.write_s": c.get("pipeline.write_s", 0.0) / n,
        "pipeline.jobs_per_daily": c.get("daily.jobs", 0) / len(dailies) if dailies else 0.0,
        "read.plan_s": span_s.get("read.plan", 0.0) / n,
        "read.exec_s": span_s.get("read.exec", 0.0) / n,
        "sink.files_per_day": untimed.counters.get("sink.files_per_day", 0.0),
        "sink.bytes_per_day": untimed.counters.get("sink.bytes_per_day", 0.0),
        "jobs.overhead_s": span_s.get("jobs.run_once", 0.0) / n,
        "backfill_days_per_s": (
            sum(o.parts["days"] for o in backfills) / sum(o.latency for o in backfills) if backfills else 0.0
        ),
        "read_day_p50_s": median(reads) if reads else 0.0,
        **host,
        # The in-run estimate of what tracing adds: the status-store
        # reads after each op (spans cost two clock reads).
        "trace.pass_s": traced_s,
        "trace.readout_s": readout_s,
        "trace.overhead_pct": readout_s / (traced_s - readout_s) * 100,
        "fail_ratio": fail_ratio,
    }
    for name in HEADLINE:
        mine = [o for o in ops if o.name == name and o.latency is not None]
        for part in ("build", "exec"):
            out[f"q.{name}.{part}_s"] = sum(o.parts[part] for o in mine) / len(mine) if mine else 0.0
    return out


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM it started to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        proc.wait(timeout=60)


if __name__ == "__main__":
    sys.exit(main())
