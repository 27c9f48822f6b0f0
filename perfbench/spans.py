"""Spans recorded by the benchmark around its calls into each layer, and
the Spark task metrics attributed to them.

A span is ``(id, name, parent, start, end, run_id)``. Spans are kept in
memory and written out once at the end of the run. While a span is
open, every Spark job the driver thread submits carries the span's job
group, so the task metrics in Spark's event log can be summed per span.
"""

from __future__ import annotations

import glob
import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    start: float
    end: float = 0.0
    run_id: str = ""
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start

    @property
    def group(self) -> str:
        return f"{self.run_id}:{self.id}"


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span duration minus the part of its interval that its direct
    children cover (overlapping children count once)."""
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    out: dict[int, float] = {}
    for s in spans:
        covered, cur_start, cur_end = 0.0, None, None
        for c in sorted(children.get(s.id, ()), key=lambda c: c.start):
            a, b = max(c.start, s.start), min(c.end, s.end)
            if b <= a:
                continue
            if cur_end is None or a > cur_end:
                if cur_end is not None:
                    covered += cur_end - cur_start
                cur_start, cur_end = a, b
            else:
                cur_end = max(cur_end, b)
        if cur_end is not None:
            covered += cur_end - cur_start
        out[s.id] = s.duration - covered
    return out


class Tracer:
    def __init__(self, run_id: str, spark_context=None):
        self.run_id = run_id
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._sc = spark_context

    def _set_group(self, span: Span | None) -> None:
        if self._sc is None:
            return
        if span is None:
            self._sc.setLocalProperty("spark.jobGroup.id", None)
            self._sc.setLocalProperty("spark.job.description", None)
        else:
            self._sc.setJobGroup(span.group, span.name)

    @contextmanager
    def span(self, name: str, **attrs):
        parent = self._stack[-1] if self._stack else None
        s = Span(
            id=len(self.spans),
            name=name,
            parent=parent.id if parent else None,
            start=time.perf_counter(),
            run_id=self.run_id,
            attrs=dict(attrs),
        )
        self.spans.append(s)
        self._stack.append(s)
        self._set_group(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            self._set_group(parent)

    def dump(self, path: str) -> None:
        st = self_times(self.spans)
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps({**asdict(s), "self_s": st[s.id]}) + "\n")


@dataclass
class GroupMetrics:
    jobs: int = 0
    tasks: int = 0
    run_ms: float = 0.0
    gc_ms: float = 0.0
    spill_bytes: int = 0
    shuffle_write_bytes: int = 0
    input_records: int = 0
    # per stage: list of task executor run times (ms)
    stage_task_ms: dict = field(default_factory=dict)

    def add(self, other: GroupMetrics) -> None:
        self.jobs += other.jobs
        self.tasks += other.tasks
        self.run_ms += other.run_ms
        self.gc_ms += other.gc_ms
        self.spill_bytes += other.spill_bytes
        self.shuffle_write_bytes += other.shuffle_write_bytes
        self.input_records += other.input_records
        for k, v in other.stage_task_ms.items():
            self.stage_task_ms.setdefault(k, []).extend(v)

    def task_skew(self) -> float:
        """Max over median task time in the stage with the most task time."""
        if not self.stage_task_ms:
            return 0.0
        times = max(self.stage_task_ms.values(), key=sum)
        ordered = sorted(times)
        med = ordered[len(ordered) // 2]
        return ordered[-1] / med if med > 0 else 1.0


def read_event_log(event_dir: str) -> dict[str, GroupMetrics]:
    """Task metrics per job group from Spark's JSON event log."""
    groups: dict[str, GroupMetrics] = {}
    stage_group: dict[int, str] = {}
    for path in glob.glob(f"{event_dir}/*"):
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    g = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if g:
                        groups.setdefault(g, GroupMetrics()).jobs += 1
                elif kind == "SparkListenerStageSubmitted":
                    g = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if g:
                        stage_group[ev["Stage Info"]["Stage ID"]] = g
                elif kind == "SparkListenerTaskEnd":
                    g = stage_group.get(ev["Stage ID"])
                    m = ev.get("Task Metrics")
                    if g is None or not m:
                        continue
                    gm = groups.setdefault(g, GroupMetrics())
                    gm.tasks += 1
                    gm.run_ms += m.get("Executor Run Time", 0)
                    gm.gc_ms += m.get("JVM GC Time", 0)
                    gm.spill_bytes += m.get("Memory Bytes Spilled", 0) + m.get(
                        "Disk Bytes Spilled", 0
                    )
                    gm.shuffle_write_bytes += (m.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0
                    )
                    gm.input_records += (m.get("Input Metrics") or {}).get("Records Read", 0)
                    gm.stage_task_ms.setdefault(ev["Stage ID"], []).append(
                        m.get("Executor Run Time", 0)
                    )
    return groups
