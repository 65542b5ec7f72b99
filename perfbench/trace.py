"""In-memory spans with per-span Spark counters, read from outside the
package.

Every span runs its Spark work under a job group of its own. When the span
closes, the tracer drains Spark's listener bus and reads the status store
(`statusTracker().getJobIdsForGroup`, `statusStore().lastStageAttempt`),
which works with `spark.ui.enabled=false`.

Plans are lazy, so a layer's work runs inside the action of whichever layer
consumes it. The benchmark therefore materialises each layer at its own
boundary in a span of its own and links it to the consuming span as a
child. A span's self time is its duration minus the durations of its
children: for spans that nest in time this is the part of the interval the
children do not cover, and for a separately materialised input it is the
work the consuming layer adds on top of that input.
"""

from __future__ import annotations

import json
import time
from dataclasses import asdict, dataclass, field

COUNTERS = (
    "jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s",
    "shuffle_write_bytes", "input_bytes", "output_bytes",
)


@dataclass
class Span:
    span_id: int
    name: str
    run_id: str
    start: float  # epoch seconds, the clock Spark's stage times use
    end: float = 0.0
    parent: int | None = None
    attrs: dict = field(default_factory=dict)
    counters: dict = field(default_factory=dict)
    stage_intervals: list = field(default_factory=list)

    @property
    def duration(self) -> float:
        return self.end - self.start


def union_length(intervals, lo: float, hi: float) -> float:
    """Length of the union of (start, end) intervals clipped to [lo, hi]."""
    total, reach = 0.0, lo
    for s, e in sorted(intervals):
        s, e = max(s, reach), min(e, hi)
        if e > s:
            total += e - s
            reach = e
    return total


def driver_gap(span: Span) -> float:
    """Time in the span during which no stage of its job group was active:
    planning, scheduling and driver-side work between stages."""
    return span.duration - union_length(
        span.stage_intervals, span.start, span.end
    )


def self_values(spans: list[Span], value) -> dict[int, float]:
    """span_id -> value(span) minus the summed value(child) of its
    children; with `Span.duration` this is the self time, and it applies
    alike to additive counters such as executor CPU."""
    out = {s.span_id: value(s) for s in spans}
    for s in spans:
        if s.parent is not None:
            out[s.parent] -= value(s)
    return out


class Tracer:
    """Records spans for one run; `spans` is written out by `dump`."""

    def __init__(self, spark, run_id: str):
        self._sc = spark.sparkContext
        self.run_id = run_id
        self.spans: list[Span] = []

    def open(self, name: str, parent: Span | None = None, **attrs) -> Span:
        span = Span(
            len(self.spans), name, self.run_id, time.time(),
            parent=None if parent is None else parent.span_id, attrs=attrs,
        )
        self.spans.append(span)
        self._sc.setJobGroup(self._group(span), name)
        return span

    def close(self, span: Span) -> None:
        span.end = time.time()
        self._sc._jsc.clearJobGroup()
        span.counters, span.stage_intervals = self._read(self._group(span))

    def _group(self, span: Span) -> str:
        return f"{self.run_id}:{span.span_id}"

    def _read(self, group: str) -> tuple[dict, list]:
        jsc = self._sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        tracker, store = self._sc.statusTracker(), jsc.statusStore()
        jobs = tracker.getJobIdsForGroup(group)
        stage_ids = set()
        for j in jobs:
            info = tracker.getJobInfo(j)
            if info is not None:
                stage_ids.update(info.stageIds)
        c = dict.fromkeys(COUNTERS, 0)
        c["jobs"] = len(jobs)
        intervals = []
        for sid in stage_ids:
            st = store.lastStageAttempt(sid)
            if not st.submissionTime().isDefined():
                continue  # skipped: its shuffle output was reused
            c["stages"] += 1
            c["tasks"] += st.numTasks()
            c["executor_run_s"] += st.executorRunTime() / 1e3
            c["executor_cpu_s"] += st.executorCpuTime() / 1e9
            c["shuffle_write_bytes"] += st.shuffleWriteBytes()
            c["input_bytes"] += st.inputBytes()
            c["output_bytes"] += st.outputBytes()
            if st.completionTime().isDefined():
                intervals.append((
                    st.submissionTime().get().getTime() / 1e3,
                    st.completionTime().get().getTime() / 1e3,
                ))
        return c, intervals

    def dump(self, path) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(asdict(s)) + "\n")
