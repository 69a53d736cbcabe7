"""Spans around the benchmark's calls into the program's layers.

A span records name, start, end, parent span and run id. Spans live in
memory and are written out once, at the end of the run. Each span in the
main thread sets a Spark job group named after it, so the jobs, stages
and tasks the call launched are counted exactly through the
StatusTracker. Calls that start jobs on other threads (``transfer_all``'s
table pool) are counted from the jobs that carry no group.

A disabled tracer still times its spans (the workloads read their
durations) but sets no job group and keeps nothing.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, spark, run_id: str, enabled: bool):
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._next = 0

    @contextmanager
    def span(self, name: str, ungrouped: bool = False):
        """Time a call; yields the span dict (``dur`` is set on exit)."""
        sp = {"name": name, "run": self.run_id, "parent": self._stack[-1]["id"] if self._stack else None}
        sp["id"] = self._next
        self._next += 1
        before = None
        if self.enabled:
            sp["group"] = f"{self.run_id}/{sp['id']}/{name}"
            if ungrouped:
                before = set(self.sc.statusTracker().getJobIdsForGroup(None))
                self.sc.setLocalProperty("spark.jobGroup.id", None)
            else:
                self.sc.setJobGroup(sp["group"], name)
        self._stack.append(sp)
        sp["start"] = time.perf_counter()
        try:
            yield sp
        finally:
            sp["end"] = time.perf_counter()
            sp["dur"] = sp["end"] - sp["start"]
            self._stack.pop()
            if self.enabled:
                parent = self._stack[-1] if self._stack else None
                if parent is not None and "group" in parent:
                    self.sc.setJobGroup(parent["group"], parent["name"])
                else:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)
                if ungrouped:
                    jobs = set(self.sc.statusTracker().getJobIdsForGroup(None)) - before
                else:
                    jobs = set(self.sc.statusTracker().getJobIdsForGroup(sp["group"]))
                sp.update(self._count(jobs))
                self.spans.append(sp)

    def _count(self, job_ids) -> dict:
        st = self.sc.statusTracker()
        stages = set()
        for j in job_ids:
            info = st.getJobInfo(j)
            if info is not None:
                stages.update(info.stageIds)
        tasks = 0
        for s in stages:
            info = st.getStageInfo(s)
            if info is not None:
                tasks += info.numTasks
        return {"jobs": len(job_ids), "stages": len(stages), "tasks": tasks}

    def total(self, prefix: str, key: str = "dur") -> float:
        """Sum of ``key`` over recorded top-level-or-nested spans whose name
        starts with ``prefix``."""
        return sum(s.get(key, 0) for s in self.spans if s["name"].startswith(prefix))

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)
