"""Spans around the calls the benchmark makes into each layer, and the
Spark event-log digest that attributes task metrics to them.

Spans are kept in memory in both modes (the end-to-end metrics are read
off them).  Only a traced run turns on Spark's event log, sets a job group
per span and registers a StreamingQueryListener; it writes the spans out
when the run ends.
"""

from __future__ import annotations

import json
import os
import threading
import time
import uuid
from collections import defaultdict
from collections.abc import Callable
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    start: float  # epoch seconds, the clock Spark's event log uses
    end: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, traced: bool):
        self.traced = traced
        self.run_id = uuid.uuid4().hex
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self.spark = None  # set once the measured session exists

    @contextmanager
    def span(self, name: str, **attrs):
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), name, parent.id if parent else None, time.time(), attrs=attrs)
        self.spans.append(s)
        self._stack.append(s)
        self._set_group(s)
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()
            self._set_group(self._stack[-1] if self._stack else None)

    def _set_group(self, s: Span | None) -> None:
        # Main thread only: a streaming trigger's thread carries the
        # stream's own job group, and its jobs are attributed by time.
        if self.traced and self.spark is not None and threading.current_thread() is threading.main_thread():
            sc = self.spark.sparkContext
            if s is None:
                sc.setLocalProperty("spark.jobGroup.id", None)
            else:
                sc.setJobGroup(f"{self.run_id}:{s.id}", s.name)

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps({
                    "run": self.run_id, "id": s.id, "name": s.name, "parent": s.parent,
                    "start": s.start, "end": s.end, **({"attrs": s.attrs} if s.attrs else {}),
                }) + "\n")


# ---------------------------------------------------------------------------
# Event log
# ---------------------------------------------------------------------------


@dataclass
class StageDigest:
    job: int
    tasks: int = 0
    submit_ms: int = 0
    complete_ms: int = 0
    run_ms: int = 0
    cpu_ns: int = 0
    gc_ms: int = 0
    sched_delay_ms: int = 0
    input_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    output_bytes: int = 0
    output_records: int = 0


@dataclass
class JobDigest:
    id: int
    submit_ms: int
    group: str | None
    stages: list[int]
    span: int | None = None


def read_event_log(path: str) -> tuple[dict[int, JobDigest], dict[int, StageDigest]]:
    jobs: dict[int, JobDigest] = {}
    stages: dict[int, StageDigest] = {}
    stage_job: dict[int, int] = {}
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                j = JobDigest(ev["Job ID"], ev["Submission Time"], props.get("spark.jobGroup.id"),
                              list(ev.get("Stage IDs", [])))
                jobs[j.id] = j
                for sid in j.stages:
                    stage_job[sid] = j.id
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                sid = info["Stage ID"]
                st = stages.setdefault(sid, StageDigest(stage_job.get(sid, -1)))
                st.submit_ms = info.get("Submission Time", 0)
                st.complete_ms = info.get("Completion Time", 0)
            elif kind == "SparkListenerTaskEnd":
                sid = ev["Stage ID"]
                st = stages.setdefault(sid, StageDigest(stage_job.get(sid, -1)))
                info, m = ev["Task Info"], ev.get("Task Metrics") or {}
                st.tasks += 1
                run = m.get("Executor Run Time", 0)
                st.run_ms += run
                st.cpu_ns += m.get("Executor CPU Time", 0)
                st.gc_ms += m.get("JVM GC Time", 0)
                dur = info.get("Finish Time", 0) - info.get("Launch Time", 0)
                st.sched_delay_ms += max(0, dur - run - m.get("Executor Deserialize Time", 0)
                                         - m.get("Result Serialization Time", 0)
                                         - info.get("Getting Result Time", 0))
                st.input_bytes += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
                st.shuffle_write_bytes += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                st.spill_bytes += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                out = m.get("Output Metrics") or {}
                st.output_bytes += out.get("Bytes Written", 0)
                st.output_records += out.get("Records Written", 0)
    return jobs, stages


def attribute_jobs(tracer: Tracer, jobs: dict[int, JobDigest]) -> None:
    """Job → span: the span whose job group the job carries; a job run on
    another thread (a streaming trigger) goes to the innermost span open
    when it was submitted."""
    prefix = tracer.run_id + ":"
    for j in jobs.values():
        if j.group and j.group.startswith(prefix):
            j.span = int(j.group[len(prefix):])
            continue
        t = j.submit_ms / 1000.0
        best = None
        for s in tracer.spans:
            if s.start <= t <= s.end and (best is None or s.start >= best.start):
                best = s
        j.span = best.id if best else None


def stage_sums(
    jobs: dict[int, JobDigest],
    stages: dict[int, StageDigest],
    pick: Callable[[JobDigest], bool],
) -> tuple[int, dict[str, float]]:
    """Job count and summed stage metrics of the jobs ``pick`` selects."""
    picked = {j.id for j in jobs.values() if pick(j)}
    sums: dict[str, float] = defaultdict(float)
    for st in stages.values():
        if st.job not in picked:
            continue
        sums["stages"] += 1
        for k in ("tasks", "run_ms", "cpu_ns", "gc_ms", "sched_delay_ms", "input_bytes",
                  "shuffle_write_bytes", "spill_bytes", "output_bytes", "output_records"):
            sums[k] += getattr(st, k)
        if st.input_bytes > 0:
            sums["scan_tasks"] += st.tasks
            if st.tasks == 1:
                sums["single_task_scan_ms"] += st.complete_ms - st.submit_ms
    return len(picked), sums
