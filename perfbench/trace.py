"""Spans around every call into a program layer, and the Spark event
log parsed into per-layer counts.

A span is (name, layer, start, end, parent, op id, pass). When tracing
is on, every span also sets its own Spark job group, so each job the
layer fires can be attributed to it from the event log; the parent's
group is restored when the span ends. With tracing off, ``span`` costs
one generator frame and records nothing.

Layers are the boundaries the benchmark calls from outside:
``api`` (``TrialFrame`` methods, ``REGISTRY`` builders), ``plan``
(forcing the executed plan), ``action`` (the final collect or write),
and ``op`` (one user-visible step, the parent of the others).
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import time
from dataclasses import dataclass, field

LAYERS = ("api", "plan", "action")


def job_group(sid: int) -> str:
    """The Spark job group of span ``sid``."""
    return f"perfbench-{sid}"


@dataclass
class Span:
    sid: int
    name: str
    layer: str
    start: float
    end: float = 0.0
    parent: int | None = None
    op: int | None = None
    pass_no: int = 0
    attrs: dict = field(default_factory=dict)


class Tracer:
    def __init__(self, sc=None, enabled: bool = False) -> None:
        self.sc = sc
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self.pass_no = 0
        self.op = 0

    @contextlib.contextmanager
    def span(self, name: str, layer: str, **attrs):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), name, layer, 0.0, parent=parent.sid if parent else None,
                 op=self.op, pass_no=self.pass_no, attrs=attrs)
        self.spans.append(s)
        self._stack.append(s)
        self.sc.setJobGroup(job_group(s.sid), name)
        s.start = time.time()
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()
            if parent is not None:
                self.sc.setJobGroup(job_group(parent.sid), parent.name)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)


# ---------------------------------------------------------------------------
# event log
# ---------------------------------------------------------------------------

@dataclass
class Job:
    jid: int
    group: str | None
    start: float
    end: float = 0.0
    stages: list = field(default_factory=list)


@dataclass
class Log:
    jobs: dict            # job id -> Job
    stage_job: dict       # stage id -> first job id that listed it
    stages_run: set       # stage ids that completed with tasks
    tasks: list           # dicts: stage, start, end, run_s, input_rows, sh_read, sh_write, spill


def event_log_files(log_dir: str) -> list[str]:
    """The finished event log of the one application logged to
    ``log_dir``: a single file, or (rolling layout) a directory of
    ``events_<n>_<app>`` parts in order."""
    apps = glob.glob(os.path.join(log_dir, "*"))
    if len(apps) != 1 or apps[0].endswith(".inprogress"):
        raise RuntimeError(f"expected one finished event log in {log_dir}, found {apps}")
    if not os.path.isdir(apps[0]):
        return apps
    parts = glob.glob(os.path.join(apps[0], "events_*"))
    return sorted(parts, key=lambda p: int(os.path.basename(p).split("_")[1]))


def parse_event_log(paths: str | list[str]) -> Log:
    jobs: dict[int, Job] = {}
    stage_job: dict[int, int] = {}
    stages_run: set[int] = set()
    tasks: list[dict] = []
    for line in _lines([paths] if isinstance(paths, str) else paths):
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            j = Job(ev["Job ID"], props.get("spark.jobGroup.id"), ev["Submission Time"] / 1e3)
            j.stages = list(ev.get("Stage IDs", []))
            for sid in j.stages:
                stage_job.setdefault(sid, j.jid)
            jobs[j.jid] = j
        elif kind == "SparkListenerJobEnd":
            if ev["Job ID"] in jobs:
                jobs[ev["Job ID"]].end = ev["Completion Time"] / 1e3
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            if info.get("Number of Tasks", 0) and "Completion Time" in info:
                stages_run.add(info["Stage ID"])
        elif kind == "SparkListenerTaskEnd":
            ti, tm = ev["Task Info"], ev.get("Task Metrics") or {}
            sr = tm.get("Shuffle Read Metrics") or {}
            sw = tm.get("Shuffle Write Metrics") or {}
            tasks.append({
                "stage": ev["Stage ID"],
                "start": ti["Launch Time"] / 1e3,
                "end": ti["Finish Time"] / 1e3,
                "run_s": tm.get("Executor Run Time", 0) / 1e3,
                "input_rows": (tm.get("Input Metrics") or {}).get("Records Read", 0),
                "sh_read": sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
                "sh_write": sw.get("Shuffle Bytes Written", 0),
                "spill": tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0),
            })
    return Log(jobs, stage_job, stages_run, tasks)


def _lines(paths: list[str]):
    for p in paths:
        with open(p, encoding="utf-8") as f:
            yield from f


def covered(intervals, lo: float, hi: float) -> float:
    """Length of [lo, hi] covered by the union of ``intervals``."""
    total, cur = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, cur), min(b, hi)
        if b > a:
            total += b - a
            cur = b
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span duration minus the part of it its child spans cover."""
    kids: dict[int, list] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append((s.start, s.end))
    return {s.sid: (s.end - s.start) - covered(kids.get(s.sid, []), s.start, s.end) for s in spans}


def ledger(spans: list[Span], log: Log) -> dict:
    """Attribute jobs, stages and tasks to spans.

    Returns ``{"spans": {sid: {...}}, "passes": {pass_no: {...}}}``: per
    span its wall, self time, jobs (fired while it was the innermost
    span), stages, tasks, task time, input rows and shuffle bytes; per
    pass the same summed, plus the time no task was running.
    """
    by_group = {job_group(s.sid): s for s in spans}
    selft = self_times(spans)
    per_span = {s.sid: {"name": s.name, "layer": s.layer, "pass": s.pass_no, "op": s.op,
                        "wall_s": s.end - s.start, "self_s": selft[s.sid], "jobs": 0,
                        "stages": 0, "tasks": 0, "task_s": 0.0, "input_rows": 0,
                        "sh_read": 0, "sh_write": 0, "spill": 0, **s.attrs} for s in spans}
    job_span: dict[int, int] = {}
    for j in log.jobs.values():
        s = by_group.get(j.group)
        if s is not None:
            job_span[j.jid] = s.sid
            per_span[s.sid]["jobs"] += 1
    for sid_stage in log.stages_run:
        jid = log.stage_job.get(sid_stage)
        if jid in job_span:
            per_span[job_span[jid]]["stages"] += 1
    task_iv: dict[int, list] = {}
    for t in log.tasks:
        jid = log.stage_job.get(t["stage"])
        if jid not in job_span:
            continue
        rec = per_span[job_span[jid]]
        rec["tasks"] += 1
        rec["task_s"] += t["run_s"]
        rec["input_rows"] += t["input_rows"]
        rec["sh_read"] += t["sh_read"]
        rec["sh_write"] += t["sh_write"]
        rec["spill"] += t["spill"]
        task_iv.setdefault(rec["pass"], []).append((t["start"], t["end"]))
    passes: dict[int, dict] = {}
    for s in spans:
        if s.parent is None and s.layer == "pass":
            passes[s.pass_no] = {
                "wall_s": s.end - s.start,
                "busy_s": covered(task_iv.get(s.pass_no, []), s.start, s.end),
            }
    for rec in per_span.values():
        p = passes.get(rec["pass"])
        if p is None:
            continue
        for k in ("jobs", "stages", "tasks", "task_s", "input_rows", "sh_read", "sh_write", "spill"):
            p[k] = p.get(k, 0) + rec[k]
    return {"spans": per_span, "passes": passes}
