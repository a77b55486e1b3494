"""Spans, per-op Spark stage metrics and the host record.

Spans are kept in memory and written out when the run ends. A span is
(name, start, end, parent, op); a layer's self time is its duration
minus the part its child spans cover. With tracing off, ``span`` is a
no-op context manager, so the untraced run times the same calls.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

# StageData fields summed per op (Spark status-store names -> ours).
STAGE_FIELDS = {
    "executorRunTime": "run_ms",
    "executorCpuTime": "cpu_ns",
    "jvmGcTime": "gc_ms",
    "inputBytes": "input_bytes",
    "shuffleReadBytes": "shuffle_read_bytes",
    "shuffleWriteBytes": "shuffle_write_bytes",
    "memoryBytesSpilled": "memory_spill_bytes",
    "diskBytesSpilled": "disk_spill_bytes",
    "numTasks": "tasks",
}


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    op: int | None
    pass_no: int | None


@dataclass
class Tracer:
    enabled: bool
    spans: list[Span] = field(default_factory=list)
    _stack: list[int] = field(default_factory=list)
    pass_no: int | None = None

    @contextmanager
    def span(self, name: str, op: int | None = None):
        if not self.enabled:
            yield
            return
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        if op is None and parent is not None:
            op = self.spans[parent].op
        self.spans.append(Span(name, time.perf_counter(), 0.0, parent, op, self.pass_no))
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx].end = time.perf_counter()

    def self_times(self) -> list[float]:
        """Self time per span, aligned with ``spans``. Children of one
        parent run one after another, so their durations add up."""
        out = [s.end - s.start for s in self.spans]
        for s in self.spans:
            if s.parent is not None:
                out[s.parent] -= s.end - s.start
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([asdict(s) for s in self.spans], f)


def group_stage_metrics(spark, group: str) -> dict[str, int]:
    """Jobs and stages of one Spark job group, read from the status
    store right after the group's op. Summing whole-store totals would
    silently truncate once the store drops old stages (1000 kept by
    default); one group's stages are always still there."""
    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    store = jsc.statusStore()
    jvm = sc._jvm
    job_ids = sc.statusTracker().getJobIdsForGroup(group)
    stage_ids: set[int] = set()
    for j in job_ids:
        it = store.job(j).stageIds().iterator()
        while it.hasNext():
            stage_ids.add(it.next())
    out = dict.fromkeys(STAGE_FIELDS.values(), 0)
    out["jobs"] = len(job_ids)
    out["stages"] = 0
    no_quantiles = sc._gateway.new_array(jvm.double, 0)
    for sid in stage_ids:
        it = store.stageData(sid, False, jvm.java.util.ArrayList(), False, no_quantiles).iterator()
        while it.hasNext():
            sd = it.next()
            if sd.status().toString() == "SKIPPED":
                continue
            out["stages"] += 1
            for java_name, ours in STAGE_FIELDS.items():
                out[ours] += getattr(sd, java_name)()
    return out


def group_job_times(spark, group: str) -> list[tuple[str, float, float]]:
    """(name, submitted, completed) per job of a group, as epoch
    seconds at the status store's millisecond resolution."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    out = []
    for j in sc.statusTracker().getJobIdsForGroup(group):
        jd = store.job(j)
        sub, done = jd.submissionTime(), jd.completionTime()
        if sub.isDefined() and done.isDefined():
            out.append((jd.name(), sub.get().getTime() / 1e3, done.get().getTime() / 1e3))
    return out


def host_counters() -> dict[str, float]:
    """Cumulative steal and iowait jiffies over all CPUs, and the
    1-minute load average."""
    with open("/proc/stat") as f:
        cpu = f.readline().split()
    with open("/proc/loadavg") as f:
        load1 = float(f.readline().split()[0])
    # cpu user nice system idle iowait irq softirq steal ...
    return {"iowait_jiffies": int(cpu[5]), "steal_jiffies": int(cpu[8]), "loadavg": load1}


def host_record(before: dict[str, float], after: dict[str, float]) -> dict[str, float]:
    return {
        "host.steal_jiffies": after["steal_jiffies"] - before["steal_jiffies"],
        "host.iowait_jiffies": after["iowait_jiffies"] - before["iowait_jiffies"],
        "host.loadavg": after["loadavg"],
    }


def cpu_count() -> int:
    return len(os.sched_getaffinity(0))
