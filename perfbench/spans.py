"""Spans around the benchmark's calls into gmx, and Spark's per-stage
metrics attributed to them.

With tracing on, every call span gets its own Spark job group; after the
timed loop the jobs of each group are looked up in Spark's status store
(kept with the UI off) and their stages' task metrics are summed onto the
span.  Spans live in memory and are written out when the run ends.  With
tracing off, ``span`` only runs its body, so the plain run pays nothing.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

from stats import self_time


@dataclass
class Span:
    name: str
    parent: int | None
    start: float
    end: float = 0.0
    group: str | None = None
    attrs: dict = field(default_factory=dict)


# per-stage fields summed onto a span, and their names in the status store
STAGE_FIELDS = {
    "executor_run_ms": "executorRunTime",
    "executor_cpu_ns": "executorCpuTime",
    "input_bytes": "inputBytes",
    "output_bytes": "outputBytes",
    "output_records": "outputRecords",
    "shuffle_read_bytes": "shuffleReadBytes",
    "shuffle_write_bytes": "shuffleWriteBytes",
    "memory_spill_bytes": "memoryBytesSpilled",
    "disk_spill_bytes": "diskBytesSpilled",
    "tasks": "numTasks",
}


class Tracer:
    def __init__(self, sc, enabled: bool) -> None:
        self.sc = sc
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self.bookkeeping_s = 0.0

    @contextmanager
    def span(self, name: str, spark: bool = False, **attrs):
        """Record ``name`` around the body; ``spark=True`` also tags the
        Spark jobs the body launches so their stage metrics attach here."""

        if not self.enabled:
            yield attrs
            return
        t0 = time.perf_counter()
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        span = Span(name, parent, 0.0, attrs=attrs)
        if spark:
            span.group = f"perfbench-{sid}"
            self.sc.setJobGroup(span.group, name)
        self.spans.append(span)
        self._stack.append(sid)
        span.start = time.perf_counter()
        self.bookkeeping_s += span.start - t0
        try:
            yield span.attrs
        finally:
            t1 = time.perf_counter()
            span.end = t1
            self._stack.pop()
            if spark:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.bookkeeping_s += time.perf_counter() - t1

    def collect_stage_metrics(self) -> None:
        """Attach summed stage metrics to every span that owns a job group."""

        if not self.enabled:
            return
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        tracker = self.sc.statusTracker()
        jvm, gw = self.sc._jvm, self.sc._gateway
        no_status = jvm.java.util.ArrayList()
        no_quantiles = gw.new_array(jvm.double, 0)
        quantiles = gw.new_array(jvm.double, 2)
        quantiles[0], quantiles[1] = 0.5, 1.0
        for span in self.spans:
            if span.group is None:
                continue
            sums = dict.fromkeys(STAGE_FIELDS, 0)
            jobs = tracker.getJobIdsForGroup(span.group)
            straggler, biggest = 1.0, -1
            for job in jobs:
                stage_ids = store.job(job).stageIds()
                it = stage_ids.iterator()
                while it.hasNext():
                    sd = store.stageData(it.next(), False, no_status, False, no_quantiles).apply(0)
                    if str(sd.status()) == "SKIPPED":
                        continue
                    for key, getter in STAGE_FIELDS.items():
                        sums[key] += getattr(sd, getter)()
                    run_ms = sd.executorRunTime()
                    if sd.numTasks() > 1 and run_ms > biggest:
                        summary = store.taskSummary(sd.stageId(), sd.attemptId(), quantiles)
                        if summary.isDefined():
                            q = summary.get().executorRunTime()
                            biggest = run_ms
                            straggler = q.apply(1) / max(q.apply(0), 1.0)
            sums["jobs"] = len(jobs)
            sums["max_task_over_median"] = straggler
            span.attrs.update(sums)

    def self_times(self) -> dict[int, float]:
        kids: dict[int, list[tuple[float, float]]] = {}
        for span in self.spans:
            if span.parent is not None:
                kids.setdefault(span.parent, []).append((span.start, span.end))
        return {
            i: self_time(s.start, s.end, kids.get(i, ())) for i, s in enumerate(self.spans)
        }

    def write(self, path) -> None:
        selfs = self.self_times()
        rows = [
            {
                "id": i, "name": s.name, "parent": s.parent,
                "start_s": s.start, "end_s": s.end,
                "self_s": selfs[i], "attrs": s.attrs,
            }
            for i, s in enumerate(self.spans)
        ]
        with open(path, "w") as fh:
            json.dump(rows, fh, indent=1)
