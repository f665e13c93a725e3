"""Spans around calls into the engine's layers, measured from outside.

A span records a name, start, end and parent span. With tracing on it
also records the Spark job-id watermark at both ends: the benchmark is
a single client thread, so every job a call started (engine fan-out
threads included, whatever their job group) has an id in the span's
``(jobs_before, jobs_after]`` range. The watermark is the scheduler's
next job id, not a job-group lookup, so jobs in any group count. After
the session stops, the event log written through the benchmark's own
Spark conf dir gives each of those jobs its stages, tasks, run time,
shuffle and spill.

With tracing off, ``Tracer.span`` only times the call; no Spark query is
made, so the untraced run measures the engine alone.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager


class Span:
    __slots__ = ("name", "start", "end", "parent", "jobs", "children_s")

    def __init__(self, name: str, start: float, parent: "Span | None"):
        self.name = name
        self.start = start
        self.end = start
        self.parent = parent
        self.jobs: tuple[int, int] = (0, 0)
        self.children_s = 0.0

    @property
    def duration(self) -> float:
        return self.end - self.start

    @property
    def self_s(self) -> float:
        # children run sequentially inside their parent (one client
        # thread), so the covered time is the sum of their durations
        return self.duration - self.children_s

    def job_ids(self) -> range:
        return range(self.jobs[0] + 1, self.jobs[1] + 1)


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._scheduler = None
        self.overhead_s = 0.0

    def attach(self, spark) -> None:
        if self.enabled:
            self._scheduler = spark.sparkContext._jsc.sc().dagScheduler()

    def _watermark(self) -> int:
        """The id of the last job submitted so far."""
        t = time.perf_counter()
        last = self._scheduler.nextJobId() - 1
        self.overhead_s += time.perf_counter() - t
        return last

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        jobs0 = self._watermark() if self.enabled else 0
        sp = Span(name, time.perf_counter(), parent)
        self._stack.append(sp)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            if self.enabled:
                sp.jobs = (jobs0, self._watermark())
            if parent is not None:
                parent.children_s += sp.duration
            self.spans.append(sp)

    def named(self, name: str) -> list[Span]:
        """Spans called ``name`` that ran inside a timed operation (an
        ``op.*`` span), so warm-up and check calls are left out."""
        return [s for s in self.spans if s.name == name and _in_op(s)]

    def self_times(self) -> dict:
        """Per span name: calls, total seconds and self seconds."""
        out: dict[str, dict] = {}
        for s in self.spans:
            row = out.setdefault(s.name, {"calls": 0, "total_s": 0.0, "self_s": 0.0})
            row["calls"] += 1
            row["total_s"] += s.duration
            row["self_s"] += s.self_s
        return {k: {m: round(v, 4) if isinstance(v, float) else v for m, v in r.items()} for k, r in out.items()}

    def dump(self, path: str) -> None:
        """Write every span as one JSON line (name, start, end, parent)."""
        index = {id(s): i for i, s in enumerate(self.spans)}
        with open(path, "w") as f:
            for i, s in enumerate(self.spans):
                f.write(
                    json.dumps(
                        {
                            "id": i,
                            "name": s.name,
                            "start": round(s.start, 6),
                            "end": round(s.end, 6),
                            "parent": index.get(id(s.parent)),
                            "jobs": list(s.jobs),
                        }
                    )
                    + "\n"
                )


def _in_op(s: Span) -> bool:
    while s is not None:
        if s.name.startswith("op."):
            return True
        s = s.parent
    return False


class EventLog:
    """Job, stage and task totals parsed from a Spark event log."""

    def __init__(self, paths: list[str]):
        self.job_stages: dict[int, list[int]] = {}
        self.stage: dict[int, dict] = {}
        for ev in _events(paths):
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                self.job_stages[ev["Job ID"]] = list(ev.get("Stage IDs", []))
            elif kind == "SparkListenerTaskEnd":
                st = self.stage.setdefault(ev["Stage ID"], _zero_stage())
                info, m = ev.get("Task Info", {}), ev.get("Task Metrics") or {}
                st["tasks"] += 1
                st["failed_tasks"] += bool(info.get("Failed"))
                st["run_ms"] += m.get("Executor Run Time", 0)
                st["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                st["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                rd = m.get("Shuffle Read Metrics") or {}
                st["shuffle_read_bytes"] += rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0)
                st["input_rows"] += (m.get("Input Metrics") or {}).get("Records Read", 0)
        # a shuffle stage listed by several jobs ran in the first of them;
        # the later ones skipped it and reused its output
        self._owner: dict[int, int] = {}
        for j in sorted(self.job_stages):
            for s in self.job_stages[j]:
                if s in self.stage:
                    self._owner.setdefault(s, j)

    def totals(self, job_ids) -> dict:
        """Sums over the stages the given jobs actually ran; a stage a
        job skipped because its shuffle output was reused counts only for
        the job that ran it."""
        out = _zero_stage()
        out["jobs"] = 0
        stages = set()
        for j in job_ids:
            if j in self.job_stages:
                out["jobs"] += 1
                stages.update(s for s in self.job_stages[j] if self._owner.get(s) == j)
        for s in stages:
            for k, v in self.stage[s].items():
                out[k] += v
        out["stages"] = len(stages)
        return out

    def stages_of(self, job_ids) -> list[dict]:
        """Figures of each stage the given jobs ran, in stage order."""
        ids = set(job_ids)
        return [self.stage[s] for s in sorted(self.stage) if self._owner.get(s) in ids]


def _zero_stage() -> dict:
    return {
        "tasks": 0,
        "failed_tasks": 0,
        "run_ms": 0,
        "spill_bytes": 0,
        "shuffle_write_bytes": 0,
        "shuffle_read_bytes": 0,
        "input_rows": 0,
    }


def _events(paths: list[str]):
    for p in paths:
        with open(p) as f:
            for line in f:
                yield json.loads(line)


def find_event_log(log_dir: str) -> list[str]:
    """The event files of the one application logged under ``log_dir``,
    in write order. Spark writes either one file per application or a
    rolling ``eventlog_v2_<app>/events_<n>_<app>`` directory."""
    for entry in sorted(os.listdir(log_dir)):
        path = os.path.join(log_dir, entry)
        if os.path.isfile(path) and not entry.endswith(".inprogress"):
            return [path]
        if os.path.isdir(path):
            parts = [f for f in os.listdir(path) if f.startswith("events_")]
            return [os.path.join(path, f) for f in sorted(parts, key=lambda f: int(f.split("_")[1]))]
    return []
