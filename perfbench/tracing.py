"""Spans recorded around calls into the engine, and Spark jobs attributed
to them by time interval.

A span holds a name, wall-clock start and end, its parent span and the run
id; spans stay in memory and are written as JSON lines when the run ends.
Spark jobs and stages come from the Spark UI's REST API (the traced run is
the only one that turns the UI on).  Each job belongs to the innermost span
whose interval contains the job's submission time, so the mapping does not
depend on job groups or descriptions the engine may set itself.
"""

from __future__ import annotations

import contextlib
import json
import os
import time
import urllib.request
from datetime import datetime


class Span:
    __slots__ = ("id", "name", "parent", "start", "end", "attrs", "jobs")

    def __init__(self, sid: int, name: str, parent: int | None, attrs: dict):
        self.id, self.name, self.parent, self.attrs = sid, name, parent, attrs
        self.start = time.time()
        self.end: float | None = None
        self.jobs: list[dict] = []

    @property
    def duration(self) -> float:
        return (self.end or time.time()) - self.start


class Tracer:
    """Records spans when ``enabled``; otherwise ``span`` costs one branch
    and returns a shared no-op context, so untraced runs carry no tracing."""

    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._noop = contextlib.nullcontext()

    def span(self, name: str, **attrs):
        if not self.enabled:
            return self._noop
        return self._record(name, attrs)

    @contextlib.contextmanager
    def _record(self, name: str, attrs: dict):
        parent = self._stack[-1].id if self._stack else None
        s = Span(len(self.spans), name, parent, attrs)
        self.spans.append(s)
        self._stack.append(s)
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def children(self, span: Span) -> list[Span]:
        return [s for s in self.spans if s.parent == span.id]

    def self_time(self, span: Span) -> float:
        """Span duration minus the part of it its child spans cover."""
        covered = _union_length([(c.start, c.end or c.start) for c in self.children(span)],
                                span.start, span.end or span.start)
        return span.duration - covered

    def attribute_jobs(self, jobs: list[dict]) -> None:
        """Attach each job to the innermost span containing its submission."""
        for j in jobs:
            t = j["submit"]
            best = None
            for s in self.spans:
                if s.start <= t <= (s.end or float("inf")):
                    if best is None or s.start >= best.start:
                        best = s
            if best is not None:
                best.jobs.append(j)

    def jobs_under(self, span: Span) -> list[dict]:
        """Jobs of ``span`` and of all its descendants."""
        out = list(span.jobs)
        for c in self.children(span):
            out.extend(self.jobs_under(c))
        return out

    def driver_only(self, span: Span) -> float:
        """Part of the span's wall time not covered by any Spark job."""
        ivals = [(j["submit"], j["complete"]) for j in self.jobs_under(span)]
        return span.duration - _union_length(ivals, span.start, span.end or span.start)

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps({
                    "run": self.run_id, "id": s.id, "name": s.name,
                    "parent": s.parent, "start": s.start, "end": s.end,
                    "self_s": self.self_time(s), "attrs": s.attrs,
                    "jobs": [j["id"] for j in s.jobs],
                }) + "\n")


def _union_length(ivals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of intervals, clipped to [lo, hi]."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(a, lo), min(b, hi)) for a, b in ivals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def _ui_time(s: str | None) -> float | None:
    if not s:
        return None
    return datetime.strptime(s.replace("GMT", "+0000"),
                             "%Y-%m-%dT%H:%M:%S.%f%z").timestamp()


class SparkRest:
    """Reads jobs, stages and task lists from the local Spark UI."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self.base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"

    def _get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=30) as r:
            return json.load(r)

    def jobs(self) -> list[dict]:
        """All finished jobs, waiting until the UI's listener has caught up
        (no job still running and the count stable across two polls)."""
        prev = None
        for _ in range(60):
            raw = self._get("/jobs")
            done = all(j["status"] != "RUNNING" for j in raw)
            if done and prev is not None and len(raw) == prev:
                break
            prev = len(raw) if done else None
            time.sleep(0.5)
        stages = {(s["stageId"], s["attemptId"]): s
                  for s in self._get("/stages")}
        out = []
        for j in raw:
            submit, complete = _ui_time(j.get("submissionTime")), _ui_time(j.get("completionTime"))
            if submit is None:
                continue
            ids = set(j["stageIds"])
            # a stage a job reuses from an earlier job shows up as SKIPPED;
            # only the stages the job ran count, so no bytes count twice
            st = [s for (sid, _), s in stages.items()
                  if sid in ids and s.get("status") == "COMPLETE"]
            out.append({
                "id": j["jobId"], "submit": submit,
                "complete": complete if complete is not None else submit,
                "stages": [(s["stageId"], s["attemptId"]) for s in st],
                "shuffle_write_bytes": sum(s.get("shuffleWriteBytes", 0) for s in st),
                "shuffle_read_bytes": sum(s.get("shuffleReadBytes", 0) for s in st),
            })
        return out

    def tasks(self, stage: tuple[int, int]) -> list[dict]:
        sid, att = stage
        return self._get(f"/stages/{sid}/{att}/taskList?length=100000")
