"""Spans kept in memory, and Spark event-log parsing.

A span is ``(name, start, end, parent, op)``; times are epoch seconds so they
line up with the event log's millisecond timestamps. Spark jobs are tied to
an op phase by the job group the benchmark sets before each phase
(``op<N>:<phase>``). Jobs that run under another group (a streaming query sets
its own) are tied to the phase span whose interval holds their submission.
"""

from __future__ import annotations

import glob
import json
import os
import re
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass

PYTHON_TIME_METRIC = "time to run Python workers"


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    op: int | None


class Tracer:
    """In-memory span recorder. When disabled, ``span`` records nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, op: int | None = None):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        if op is None and parent is not None:
            op = self.spans[parent].op
        idx = len(self.spans)
        self.spans.append(Span(name, time.time(), 0.0, parent, op))
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx].end = time.time()

    def wrap(self, name: str, fn):
        """``fn`` with every call recorded as a span named ``name``."""

        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    def children(self, idx: int) -> list[Span]:
        return [s for s in self.spans if s.parent == idx]

    def self_times(self) -> dict[str, float]:
        """Per span name: duration minus the part its child spans cover."""
        out: dict[str, float] = {}
        for i, s in enumerate(self.spans):
            covered = _union([(c.start, c.end) for c in self.children(i)], s.start, s.end)
            out[s.name] = out.get(s.name, 0.0) + (s.end - s.start) - covered
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump([asdict(s) for s in self.spans], fh)


def _union(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


@dataclass
class Job:
    job_id: int
    group: str | None
    submit: float
    end: float = 0.0
    stages: tuple = ()
    tasks: int = 0
    run_s: float = 0.0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    python_s: float = 0.0
    shuffle_bytes: int = 0
    spill_bytes: int = 0
    stages_run: int = 0


def _rolling_index(path: str) -> int:
    """Order of a rolling event-log file (``events_<index>_<app id>``)."""
    m = re.match(r"events_(\d+)_", os.path.basename(path))
    return int(m.group(1)) if m else -1


def read_event_log(log_dir: str) -> list[Job]:
    """Jobs with their stage and task totals, from an uncompressed event log."""
    files = sorted((p for p in glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)
                    if os.path.isfile(p)), key=_rolling_index)
    if not files:
        raise RuntimeError(f"no Spark event log under {log_dir}")
    jobs: dict[int, Job] = {}
    stage_job: dict[int, int] = {}
    for path in files:
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    job = Job(ev["Job ID"], props.get("spark.jobGroup.id"),
                              ev["Submission Time"] / 1000.0, stages=tuple(ev["Stage IDs"]))
                    jobs[job.job_id] = job
                    for sid in job.stages:
                        stage_job.setdefault(sid, job.job_id)
                elif kind == "SparkListenerJobEnd":
                    jobs[ev["Job ID"]].end = ev["Completion Time"] / 1000.0
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    if info["Stage ID"] in stage_job:
                        jobs[stage_job[info["Stage ID"]]].stages_run += 1
                elif kind == "SparkListenerTaskEnd":
                    job = jobs.get(stage_job.get(ev["Stage ID"], -1))
                    metrics = ev.get("Task Metrics")
                    if job is None or metrics is None:
                        continue
                    job.tasks += 1
                    job.run_s += metrics["Executor Run Time"] / 1e3
                    job.cpu_s += metrics["Executor CPU Time"] / 1e9
                    job.gc_s += metrics["JVM GC Time"] / 1e3
                    job.shuffle_bytes += metrics["Shuffle Write Metrics"]["Shuffle Bytes Written"]
                    job.spill_bytes += metrics["Disk Bytes Spilled"]
                    for acc in ev["Task Info"].get("Accumulables", []):
                        if acc.get("Name") == PYTHON_TIME_METRIC:
                            job.python_s += float(acc.get("Update", 0)) / 1e3
    return sorted(jobs.values(), key=lambda j: j.job_id)


def attribute_jobs(jobs: list[Job], tracer: Tracer, phases: set[str]) -> tuple[dict, int]:
    """Map ``(op, phase) -> [Job]``. A job's group names its phase; a job
    under a foreign group falls to the phase span holding its submission.
    Returns the map and the number of jobs placed by time."""
    by_group = {}
    phase_spans = [s for s in tracer.spans if s.name in phases and s.op is not None]
    for s in phase_spans:
        by_group[f"op{s.op}:{s.name}"] = (s.op, s.name)
    out: dict[tuple, list[Job]] = {}
    by_time = 0
    for job in jobs:
        key = by_group.get(job.group or "")
        if key is None:
            for s in phase_spans:
                if s.start <= job.submit <= s.end:
                    key = (s.op, s.name)
                    by_time += 1
                    break
        if key is not None:
            out.setdefault(key, []).append(job)
    return out, by_time


def job_cover(jobs: list[Job], lo: float, hi: float) -> float:
    """Seconds of ``[lo, hi]`` during which at least one of ``jobs`` ran."""
    return _union([(j.submit, j.end or hi) for j in jobs], lo, hi)
