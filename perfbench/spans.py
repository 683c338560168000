"""Spans kept by the benchmark around each call into the engine, and the
Spark event log that says what the engine's jobs did inside them.

Nothing here touches the engine's code: spans are recorded around the
engine's public functions, and each execution span tags its jobs with
``SparkContext.setJobGroup`` so the event log attributes jobs, tasks,
shuffle, spill, GC and executor time to that span.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import time
from dataclasses import asdict, dataclass, field

from stats import covered, merge_intervals, self_time, uncovered


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    group: str | None = None  # Spark job group of an execution span
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory span recorder. With ``enabled`` false, ``span`` only
    times the block (the untraced runs still need stage times)."""

    def __init__(self, sc=None, enabled: bool = False) -> None:
        self.sc = sc
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._groups = 0

    @contextlib.contextmanager
    def span(self, name: str, job_group: bool = False, **attrs):
        sp = Span(
            name, time.time(),
            parent=self._stack[-1] if self._stack else None, attrs=attrs,
        )
        idx = len(self.spans)
        self.spans.append(sp)
        self._stack.append(idx)
        if job_group and self.enabled and self.sc is not None:
            self._groups += 1
            sp.group = f"{name}#{self._groups}"
            self.sc.setJobGroup(sp.group, name)
        try:
            yield sp
        finally:
            sp.end = time.time()
            self._stack.pop()
            if sp.group is not None:
                self.sc.setJobGroup(self._enclosing_group(), "")

    def _enclosing_group(self) -> str:
        for i in reversed(self._stack):
            if self.spans[i].group:
                return self.spans[i].group
        return ""

    def children(self, idx: int) -> list[Span]:
        return [s for s in self.spans if s.parent == idx]

    def self_time(self, idx: int) -> float:
        sp = self.spans[idx]
        return self_time((sp.start, sp.end), [(c.start, c.end) for c in self.children(idx)])

    def named(self, name: str, window: Span | None = None) -> list[Span]:
        """Spans called ``name``; with ``window``, only those it contains."""
        return [
            s for s in self.spans
            if s.name == name and (window is None or window.start <= s.start <= window.end)
        ]

    def total(self, name: str, window: Span | None = None) -> float:
        return sum(s.dur for s in self.named(name, window))

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for i, s in enumerate(self.spans):
                rec = asdict(s)
                rec["id"] = i
                rec["self_s"] = self.self_time(i)
                fh.write(json.dumps(rec) + "\n")


@dataclass
class Job:
    job_id: int
    group: str | None
    submit: float  # seconds since epoch
    end: float
    stages: list[int]
    tasks: int = 0
    run_s: float = 0.0  # executor run time
    cpu_s: float = 0.0
    gc_s: float = 0.0
    task_wall_s: float = 0.0  # launch -> finish, summed over tasks
    shuffle_read_b: int = 0
    shuffle_write_b: int = 0
    spill_b: int = 0  # memory + disk bytes spilled
    ok: bool = True


def parse_event_log(lines) -> list[Job]:
    """Jobs, with their tasks' metrics summed, from Spark event-log JSON
    lines. A task is charged to every job that lists its stage (Spark
    shares a stage between jobs only when a later job reuses its
    shuffle output, and then the stage's tasks ran once, for the first)."""
    jobs: dict[int, Job] = {}
    stage_job: dict[int, int] = {}
    for line in lines:
        line = line.strip()
        if not line:
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            jid = ev["Job ID"]
            jobs[jid] = Job(
                jid, props.get("spark.jobGroup.id") or None,
                ev["Submission Time"] / 1000.0, 0.0, list(ev.get("Stage IDs", [])),
            )
            for s in jobs[jid].stages:
                stage_job.setdefault(s, jid)
        elif kind == "SparkListenerJobEnd":
            job = jobs.get(ev["Job ID"])
            if job is not None:
                job.end = ev["Completion Time"] / 1000.0
                job.ok = (ev.get("Job Result") or {}).get("Result") == "JobSucceeded"
        elif kind == "SparkListenerTaskEnd":
            job = jobs.get(stage_job.get(ev.get("Stage ID"), -1))
            if job is None:
                continue
            info = ev.get("Task Info") or {}
            m = ev.get("Task Metrics") or {}
            job.tasks += 1
            job.run_s += m.get("Executor Run Time", 0) / 1000.0
            job.cpu_s += m.get("Executor CPU Time", 0) / 1e9
            job.gc_s += m.get("JVM GC Time", 0) / 1000.0
            if info.get("Finish Time") and info.get("Launch Time"):
                job.task_wall_s += (info["Finish Time"] - info["Launch Time"]) / 1000.0
            sr = m.get("Shuffle Read Metrics") or {}
            job.shuffle_read_b += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            sw = m.get("Shuffle Write Metrics") or {}
            job.shuffle_write_b += sw.get("Shuffle Bytes Written", 0)
            job.spill_b += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
    return sorted(jobs.values(), key=lambda j: j.job_id)


def read_event_logs(log_dir: str) -> list[Job]:
    jobs: list[Job] = []
    for path in sorted(glob.glob(os.path.join(log_dir, "*"))):
        with open(path) as fh:
            jobs.extend(parse_event_log(fh))
    return jobs


MB = 1 << 20


def job_metrics(jobs: list[Job]) -> dict[str, float]:
    """Whole-set counters of a list of jobs."""
    return {
        "jobs": len(jobs),
        "tasks": sum(j.tasks for j in jobs),
        "executor_run_s": sum(j.run_s for j in jobs),
        "executor_cpu_s": sum(j.cpu_s for j in jobs),
        "gc_s": sum(j.gc_s for j in jobs),
        "shuffle_read_mb": sum(j.shuffle_read_b for j in jobs) / MB,
        "shuffle_write_mb": sum(j.shuffle_write_b for j in jobs) / MB,
        "shuffle_mb": sum(j.shuffle_write_b for j in jobs) / MB,
        "spill_mb": sum(j.spill_b for j in jobs) / MB,
        "task_overhead_s": sum(j.task_wall_s - j.run_s for j in jobs),
    }


def jobs_in(jobs: list[Job], tracer: Tracer, name: str, window: Span | None = None) -> list[Job]:
    """Jobs that ran for the spans called ``name`` (inside ``window``):
    by job group where the span set one, else by submission time inside
    the span (jobs the engine submits from its own threads carry no
    group)."""
    spans = tracer.named(name, window)
    groups = {s.group for s in spans if s.group}
    out = []
    for j in jobs:
        if j.group is not None:
            if j.group in groups:
                out.append(j)
        elif any(s.start <= j.submit <= s.end for s in spans):
            out.append(j)
    return out


def job_coverage(jobs: list[Job], lo: float, hi: float) -> tuple[float, float]:
    """(seconds of [lo, hi] some job covered, seconds no job covered)."""
    iv = merge_intervals([(j.submit, j.end) for j in jobs])
    return covered(iv, lo, hi), uncovered(iv, lo, hi)
