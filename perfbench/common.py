"""Run context, per-op and per-pass records, and the metric names."""

from __future__ import annotations

import statistics
import time
from dataclasses import dataclass, field

from spans import STAGE_FIELDS, Tracer, group_job_times, group_stage_metrics

END_TO_END = {"setup_s": "s", "pass_s": "s", "op_p50_s": "s"}

# The bench.py headline set, pinned by name: registry order re-ranks
# whenever a correctness artifact lands, so it must not pick the set.
HEADLINE = (
    "q01_flagship_revenue_by_region_year",
    "q04_groupby_agg_pricing_summary",
    "q05_rollup_totals",
    "q09_join_left_outer",
    "q13_join_range_inequality",
    "q16_window_topk_per_group",
    "q18_global_topk",
    "q22_pivot_revenue_by_status",
    "q30_string_functions",
    "q40_json_extraction",
    "q26_salted_join_equivalence",
    "q60_dedup_exact_text",
    "q63_text_quality_score",
    "q68_minhash_near_duplicates",
    "q70_ngram_jaccard_pairs",
    "q71_cosine_topk_bruteforce",
    "q75_embedding_near_dup_lsh",
    "q77_training_data_prep_pipeline",
    "q80_events_hourly_tumbling",
    "q82_events_sessionization",
    "q84_asof_join_purchase_signup",
    "q154_semdedup_semantic_dedup",
    "q226_dup_graph_pagerank",
    "q235_bm25_retrieval",
    "q247_ohlc_daily_candles",
    "q250_connected_components_minlabel",
    "q288_dictionary_encoding_benefit",
    "q296_ab_chisquare_conversion",
    "q312_zorder_skipping_benefit",
    "q331_conformal_coverage",
    "q438_variant_json_extraction",
    "q452_bitmap_exact_distinct",
)

# Layer metrics every traced run reports; a layer the workload never
# calls reads 0. Values are per timed pass (a mean over the run's passes)
# unless the name says otherwise.
LAYER_UNITS = {
    "session.start_s": "s",
    "plans.import_s": "s",
    "plans.build_s": "s",
    "plans.build_jobs": "count",
    "exec.exec_s": "s",
    "exec.run_s": "s",
    "exec.cpu_s": "s",
    "exec.gc_s": "s",
    "exec.cpu_util": "ratio",
    "exec.input_bytes": "bytes",
    "exec.shuffle_read_bytes": "bytes",
    "exec.shuffle_write_bytes": "bytes",
    "exec.spill_bytes": "bytes",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "caching.release_s": "s",
    "caching.released": "count",
    "twse.to_df_s": "s",
    "pipeline.validate_s": "s",
    "pipeline.write_s": "s",
    "pipeline.jobs_per_daily": "count",
    "read.plan_s": "s",
    "read.exec_s": "s",
    "sink.files_per_day": "count",
    "sink.bytes_per_day": "bytes",
    "jobs.overhead_s": "s",
    "backfill_days_per_s": "1/s",
    "read_day_p50_s": "s",
    "host.steal_jiffies": "count",
    "host.iowait_jiffies": "count",
    "host.loadavg": "load",
    "trace.pass_s": "s",
    "trace.readout_s": "s",
    "trace.overhead_pct": "%",
    "fail_ratio": "ratio",
}


def layer_units() -> dict[str, str]:
    out = dict(LAYER_UNITS)
    for n in HEADLINE:
        out[f"q.{n}.build_s"] = "s"
        out[f"q.{n}.exec_s"] = "s"
    return out


@dataclass
class Op:
    op: int
    name: str
    kind: str = "query"  # or a TWSE op type, or "check" (untimed)
    latency: float | None = None  # None when the op raised
    parts: dict[str, float] = field(default_factory=dict)
    error: str | None = None
    ok: bool = True  # False when its output failed the check


@dataclass
class PassResult:
    pass_no: int
    ops: list[Op] = field(default_factory=list)
    wall: float = 0.0
    counters: dict[str, float] = field(default_factory=dict)

    def add(self, name: str, value: float) -> None:
        self.counters[name] = self.counters.get(name, 0) + value

    def add_stages(self, m: dict[str, int]) -> None:
        for k in ("jobs", "stages", *STAGE_FIELDS.values()):
            self.add(f"stage.{k}", m[k])


@dataclass
class Ctx:
    seed: int
    tracer: Tracer
    work_dir: str
    data_root: str
    spark: object = None
    ops_started: int = 0
    readout_s: float = 0.0  # time spent reading the status store
    # epoch seconds minus perf_counter, to place status-store job times on span clocks
    epoch_offset: float = field(default_factory=lambda: time.time() - time.perf_counter())

    def next_op(self) -> int:
        self.ops_started += 1
        return self.ops_started

    def job_group(self, op: int, phase: str) -> None:
        self.spark.sparkContext.setJobGroup(f"op{op}.{phase}", phase)

    def stage_metrics(self, op: int, phase: str) -> dict[str, int]:
        t0 = time.perf_counter()
        try:
            return group_stage_metrics(self.spark, f"op{op}.{phase}")
        finally:
            self.readout_s += time.perf_counter() - t0

    def job_times(self, op: int, phase: str) -> list[tuple[str, float, float]]:
        t0 = time.perf_counter()
        try:
            return group_job_times(self.spark, f"op{op}.{phase}")
        finally:
            self.readout_s += time.perf_counter() - t0


def tally(results: list[PassResult]) -> tuple[int, int]:
    """(attempted, failed) over ops and output checks: one fails when it
    raised or its output was wrong."""
    ops = [o for r in results for o in r.ops]
    return len(ops), sum(1 for o in ops if o.error or not o.ok)


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else float("nan")
