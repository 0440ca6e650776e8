"""In-memory spans for the traced run.

A span records name, start, end, parent and run id. When a SparkContext
is given, each span also runs its Spark jobs under a job group of its own
and reads back, through ``statusTracker``, which jobs and stages ran in
it. Spans stay in memory; the run writes them out when it ends.
"""

from __future__ import annotations

import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, run_id: str, sc=None):
        self.run_id = run_id
        self.sc = sc
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    def _group(self, rec: dict) -> str:
        return f"{self.run_id}/{rec['id']}"

    def _enter_group(self, rec: dict | None) -> None:
        if self.sc is None:
            return
        if rec is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(self._group(rec), rec["name"])

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": len(self.spans), "name": name, "run": self.run_id,
            "parent": parent["id"] if parent else None,
            "start": time.perf_counter(), "end": None, "jobs": [], "stages": [],
        }
        self.spans.append(rec)
        self._stack.append(rec)
        self._enter_group(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if self.sc is not None:
                tracker = self.sc.statusTracker()
                jobs = sorted(tracker.getJobIdsForGroup(self._group(rec)))
                stages: set[int] = set()
                for j in jobs:
                    info = tracker.getJobInfo(j)
                    if info is not None:
                        stages.update(info.stageIds)
                rec["jobs"], rec["stages"] = jobs, sorted(stages)
            self._enter_group(parent)

    def find(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def children(self, rec: dict) -> list[dict]:
        return [s for s in self.spans if s["parent"] == rec["id"]]

    def total_jobs(self, rec: dict) -> list[int]:
        """Jobs of the span and of every span below it."""
        out = list(rec["jobs"])
        for c in self.children(rec):
            out += self.total_jobs(c)
        return out

    def total_stages(self, rec: dict) -> list[int]:
        out = set(rec["stages"])
        for c in self.children(rec):
            out.update(self.total_stages(c))
        return sorted(out)

    def self_time(self, rec: dict) -> float:
        return self_time(rec, self.children(rec))


def self_time(rec: dict, children: list[dict]) -> float:
    """Span duration minus the part of its interval its children cover
    (overlapping children are counted once)."""
    start, end = rec["start"], rec["end"]
    covered = 0.0
    cur_s = cur_e = None
    for c in sorted(children, key=lambda c: c["start"]):
        s, e = max(c["start"], start), min(c["end"], end)
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                covered += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        covered += cur_e - cur_s
    return (end - start) - covered
