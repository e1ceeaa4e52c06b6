"""Spans around every call the benchmark makes into the engine.

A span records name, start, end, parent and run id. While a span is open
its id is the Spark job group of the calling thread, so at close the
status tracker yields the jobs, stages, tasks and failed tasks that ran
inside it (innermost span only; parents add their children up). Spans stay
in memory and are written out once, at the end of the run. Time the tracer
spends on its own bookkeeping is summed in `overhead_s`.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager

_GROUP = "spark.jobGroup.id"


class Tracer:
    def __init__(self, sc, run_id: str):
        self.sc = sc
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self.overhead_s = 0.0

    @contextmanager
    def span(self, name: str, **attrs):
        t = time.perf_counter()
        rec = {"id": len(self.spans), "name": name, "run_id": self.run_id,
               "parent": self._stack[-1]["id"] if self._stack else None,
               **attrs}
        self.spans.append(rec)
        self._stack.append(rec)
        group = f"{self.run_id}-{rec['id']}"
        self.sc.setJobGroup(group, name)
        rec["start"] = time.perf_counter()
        self.overhead_s += rec["start"] - t
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            parent = self._stack[-1] if self._stack else None
            if parent is not None:
                self.sc.setJobGroup(f"{self.run_id}-{parent['id']}",
                                    parent["name"])
            else:
                self.sc.setLocalProperty(_GROUP, None)
            rec.update(self._counts(group))
            self.overhead_s += time.perf_counter() - rec["end"]

    def _counts(self, group: str) -> dict:
        st = self.sc.statusTracker()
        jobs = st.getJobIdsForGroup(group)
        stages = tasks = failed = 0
        for j in jobs:
            info = st.getJobInfo(j)
            for s in (info.stageIds if info else ()):
                si = st.getStageInfo(s)
                if si is None or si.numCompletedTasks + si.numFailedTasks == 0:
                    continue  # skipped (reused shuffle output) or evicted
                stages += 1
                tasks += si.numCompletedTasks
                failed += si.numFailedTasks
        return {"jobs": len(jobs), "stages": stages, "tasks": tasks,
                "failed_tasks": failed}

    # ---------------------------------------------------------- reports

    def children(self, rec: dict) -> list[dict]:
        return [s for s in self.spans if s["parent"] == rec["id"]]

    def total(self, rec: dict, key: str) -> int:
        """A count over the span and all its descendants."""
        return rec.get(key, 0) + sum(self.total(c, key)
                                     for c in self.children(rec))

    def self_time(self, rec: dict) -> float:
        """Duration minus the part of it that child spans cover."""
        return (rec["end"] - rec["start"]) - covered(self.children(rec))

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name and "end" in s]

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps({**s, "self_s": self.self_time(s)
                                     if "end" in s else None}) + "\n")


def covered(spans: list[dict]) -> float:
    """Length of the union of the spans' [start, end] intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s in sorted((s for s in spans if "end" in s),
                    key=lambda s: s["start"]):
        if cur_e is None or s["start"] > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s["start"], s["end"]
        else:
            cur_e = max(cur_e, s["end"])
    if cur_e is not None:
        total += cur_e - cur_s
    return total
