"""Tracing for the benchmark's traced run (``--trace 1``).

Spans are recorded by the benchmark's own code around each call it makes
into a module of the engine: name, layer, start, end, parent and a shared
op id. They stay in memory and are written out when the run ends. A
layer's self time is a span's duration minus the part of it covered by its
child spans.

Spark-side numbers come from the driver's in-process status store, which
works with ``spark.ui.enabled=false``: every op runs under its own job
group, and at the end of a round the stage records of the round's jobs
are summed. Executor run time is stored in ms and CPU time in ns.

With tracing off every method here is a no-op, so the end-to-end run pays
nothing for it.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass

CATALYST_PHASES = ("analysis", "optimization", "planning")


@dataclass
class Span:
    name: str
    layer: str
    start: float
    end: float
    parent: int | None
    op: int


def self_times(spans: list[Span]) -> dict[str, float]:
    """Self time per layer: each span's duration minus the union of the
    intervals its direct children cover, clipped to the span."""
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    out: dict[str, float] = {}
    for i, s in enumerate(spans):
        covered = 0.0
        cur_lo = cur_hi = None
        for c in sorted(children.get(i, []), key=lambda c: c.start):
            lo, hi = max(c.start, s.start), min(c.end, s.end)
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s.layer] = out.get(s.layer, 0.0) + (s.end - s.start - covered)
    return out


class Tracer:
    """Span recorder plus Spark status-store reader for one run."""

    def __init__(self, enabled: bool, spark=None):
        self.enabled = enabled
        self.spark = spark
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._op = 0
        self._groups: list[str] = []  # job groups since the last take_counters
        self.overhead_s = 0.0  # time spent inside the tracer's own reads
        self.catalyst_ms = {p: 0.0 for p in CATALYST_PHASES}

    def new_op(self) -> int:
        self._op += 1
        if self.enabled:
            group = f"pb-op-{self._op}"
            self._groups.append(group)
            self.spark.sparkContext.setJobGroup(group, group)
        return self._op

    @contextmanager
    def span(self, name: str, layer: str):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        idx = len(self.spans)
        self.spans.append(Span(name, layer, time.perf_counter(), 0.0, parent, self._op))
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx].end = time.perf_counter()

    def catalyst(self, df) -> None:
        """Add the Catalyst phase times of ``df``'s own QueryExecution.
        Its tracker holds only ``analysis`` until that same QueryExecution
        is planned (an action plans a new one), so plan it here: traced
        run only, and counted as tracing overhead."""
        if not self.enabled:
            return
        t0 = time.perf_counter()
        qe = df._jdf.queryExecution()
        qe.executedPlan()
        phases = qe.tracker().phases()
        for p in CATALYST_PHASES:
            opt = phases.get(p)
            if opt.isDefined():
                self.catalyst_ms[p] += float(opt.get().durationMs())
        self.overhead_s += time.perf_counter() - t0

    def take_counters(self) -> dict:
        """Sum the status-store records of every job launched under an op
        since the last call, and reset the counters."""
        if not self.enabled:
            return {}
        t0 = time.perf_counter()
        sc = self.spark.sparkContext
        tracker = sc.statusTracker()
        job_ids: list[int] = []
        for g in self._groups:
            job_ids.extend(tracker.getJobIdsForGroup(g))
        stage_ids: set[int] = set()
        for j in job_ids:
            info = tracker.getJobInfo(j)
            if info is not None:
                stage_ids.update(info.stageIds)
        store = sc._jsc.sc().statusStore()
        no_quantiles = sc._gateway.new_array(sc._gateway.jvm.double, 0)
        stages = store.stageList(None, False, False, no_quantiles, None)
        rec = {
            "jobs": len(job_ids), "stages": 0, "tasks": 0,
            "executor_run_s": 0.0, "executor_cpu_s": 0.0,
            "shuffle_read_bytes": 0, "shuffle_write_bytes": 0,
            "spill_bytes": 0, "input_bytes": 0, "input_records": 0,
        }
        for i in range(stages.size()):
            s = stages.apply(i)
            if s.stageId() not in stage_ids or s.numCompleteTasks() == 0:
                continue  # skipped stages ran no task
            rec["stages"] += 1
            rec["tasks"] += s.numCompleteTasks() + s.numFailedTasks()
            rec["executor_run_s"] += s.executorRunTime() / 1e3
            rec["executor_cpu_s"] += s.executorCpuTime() / 1e9
            rec["shuffle_read_bytes"] += s.shuffleReadBytes()
            rec["shuffle_write_bytes"] += s.shuffleWriteBytes()
            rec["spill_bytes"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
            rec["input_bytes"] += s.inputBytes()
            rec["input_records"] += s.inputRecords()
        rec.update({f"catalyst_{p}_ms": v for p, v in self.catalyst_ms.items()})
        self.catalyst_ms = {p: 0.0 for p in CATALYST_PHASES}
        self._groups = []
        self.overhead_s += time.perf_counter() - t0
        rec["overhead_s"] = self.overhead_s
        self.overhead_s = 0.0
        return rec

    def op_jobs(self, op: int) -> int:
        """Spark jobs launched under ``op``'s job group."""
        tracker = self.spark.sparkContext.statusTracker()
        return len(tracker.getJobIdsForGroup(f"pb-op-{op}"))

    def dump(self, path: str, extra: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump({"spans": [asdict(s) for s in self.spans], **extra}, fh)


def peak_rss_mb(pids: list[int]) -> float:
    """Sum of ``VmHWM`` (peak resident set) over ``pids``, in MiB."""
    total_kb = 0
    for pid in pids:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    total_kb += int(line.split()[1])
    return total_kb / 1024.0
