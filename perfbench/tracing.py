"""Spans kept in memory, and Spark counters attributed to them from outside.

A span has a name, start, end, parent and request id. The benchmark opens
spans around its own calls into the engine; streaming trigger phases are
rebuilt from ``StreamingQueryProgress.durationMs``. Spark work is tied to
a span through the job group the benchmark sets before the call: job and
stage ids come from ``statusTracker()`` and the per-stage executor
metrics from the JVM status store, which is kept with the UI off.
"""

from __future__ import annotations

import contextlib
import json
import time
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    request_id: str
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory span store; ``enabled=False`` records nothing."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[Span] = []

    def add(self, name, start, end, parent=None, request_id="", **attrs) -> int | None:
        if not self.enabled:
            return None
        self.spans.append(Span(len(self.spans), name, start, end, parent, str(request_id), attrs))
        return len(self.spans) - 1

    @contextlib.contextmanager
    def span(self, name, parent=None, request_id="", **attrs):
        """Time the block; yields the span id (None when disabled)."""
        if not self.enabled:
            yield None
            return
        sid = self.add(name, time.time(), 0.0, parent, request_id, **attrs)
        try:
            yield sid
        finally:
            self.spans[sid].end = time.time()

    def children(self) -> dict[int, list[Span]]:
        out: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                out.setdefault(s.parent, []).append(s)
        return out

    def self_times(self) -> dict[int, float]:
        """Span duration minus the part of it covered by its children."""
        kids = self.children()
        out = {}
        for s in self.spans:
            covered, cur_start, cur_end = 0.0, None, None
            for c in sorted(kids.get(s.id, []), key=lambda c: c.start):
                lo, hi = max(c.start, s.start), min(c.end, s.end)
                if hi <= lo:
                    continue
                if cur_end is None or lo > cur_end:
                    if cur_end is not None:
                        covered += cur_end - cur_start
                    cur_start, cur_end = lo, hi
                else:
                    cur_end = max(cur_end, hi)
            if cur_end is not None:
                covered += cur_end - cur_start
            out[s.id] = s.duration - covered
        return out

    def nesting_errors(self, slack: float = 0.0) -> list[str]:
        """Children outside their parents, or spans that end before they start."""
        errs = []
        by_id = {s.id: s for s in self.spans}
        for s in self.spans:
            if s.end < s.start:
                errs.append(f"{s.name}#{s.id} ends before it starts")
            if s.parent is not None:
                p = by_id[s.parent]
                if s.start < p.start - slack or s.end > p.end + slack:
                    errs.append(f"{s.name}#{s.id} outside its parent {p.name}#{p.id}")
                if s.request_id != p.request_id:
                    errs.append(f"{s.name}#{s.id} request id differs from its parent's")
        return errs

    def dump(self, path: str) -> None:
        selfs = self.self_times()
        with open(path, "w") as f:
            json.dump([dict(asdict(s), self_s=selfs[s.id]) for s in self.spans], f)


#: StageData getters summed per span, with their scale to seconds / units.
_STAGE_FIELDS = {
    "tasks": ("numTasks", 1),
    "executor_run_s": ("executorRunTime", 1e-3),
    "executor_cpu_s": ("executorCpuTime", 1e-9),
    "gc_s": ("jvmGcTime", 1e-3),
    "input_bytes": ("inputBytes", 1),
    "input_rows": ("inputRecords", 1),
    "shuffle_read_bytes": ("shuffleReadBytes", 1),
    "shuffle_write_bytes": ("shuffleWriteBytes", 1),
    "spill_bytes": ("diskBytesSpilled", 1),
}


class SparkCounters:
    """Job, stage and executor counters for the jobs of one job group."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.tracker = self.sc.statusTracker()
        self.jsc = self.sc._jsc.sc()
        self.store = self.jsc.statusStore()

    def set_group(self, group: str) -> None:
        self.sc.setJobGroup(group, group)

    def clear_group(self) -> None:
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        self.sc.setLocalProperty("spark.job.description", None)

    def drain(self) -> None:
        """Wait until the status store has seen every finished job's events."""
        self.jsc.listenerBus().waitUntilEmpty()

    def job_ids(self, group: str) -> list[int]:
        return sorted(self.tracker.getJobIdsForGroup(group))

    def job_description(self, job_id: int) -> str:
        desc = self.store.job(job_id).description()
        return desc.get() if desc.isDefined() else ""

    def totals(self, job_ids) -> dict[str, float]:
        """Jobs, stages run (skipped ones excluded) and their summed metrics."""
        out = {"jobs": len(job_ids), "stages": 0, **{k: 0.0 for k in _STAGE_FIELDS}}
        seen = set()
        for jid in job_ids:
            info = self.tracker.getJobInfo(jid)
            for sid in info.stageIds if info else ():
                if sid in seen:
                    continue
                seen.add(sid)
                try:
                    st = self.store.lastStageAttempt(sid)
                except Exception:  # py4j error: stage never ran or was evicted
                    continue
                if st.status().toString() != "COMPLETE":
                    continue
                out["stages"] += 1
                for key, (getter, scale) in _STAGE_FIELDS.items():
                    out[key] += getattr(st, getter)() * scale
        return out
