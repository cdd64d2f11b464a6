"""In-memory spans for the traced benchmark run.

A span records (name, start, end, parent, run id) around a call into one
layer of the ER chain. Each span also owns a Spark job group that is
unique to the span and to the iteration, so the jobs (and their tasks)
that the call launched are read back from ``SparkContext.statusTracker``
afterwards. Spans stay in memory and are written out once, at the end.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, sc, run_id: str):
        self.sc = sc
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._n = 0

    def _group(self, name: str) -> str:
        self._n += 1
        return f"{self.run_id}/{self._n}/{name}"

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        rec = {
            "name": name,
            "run_id": self.run_id,
            "parent": parent["group"] if parent else None,
            "group": self._group(name),
        }
        self._stack.append(rec)
        self.sc.setJobGroup(rec["group"], name)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if parent is not None:
                self.sc.setJobGroup(parent["group"], parent["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.spans.append(rec)

    def mark(self, name: str, start: float, end: float, group: str) -> None:
        """Record a span whose boundaries were observed elsewhere (the
        feedback loop's callbacks); ``group`` is the job group that was
        active in between."""
        parent = self._stack[-1]["group"] if self._stack else None
        self.spans.append({
            "name": name, "run_id": self.run_id, "parent": parent,
            "group": group, "start": start, "end": end,
        })

    def new_group(self, name: str) -> str:
        """Switch the active job group without opening a span."""
        group = self._group(name)
        self.sc.setJobGroup(group, name)
        return group

    def finish(self) -> None:
        """Resolve each span's Spark job and task counts (own group only)
        and its self time: duration minus the time its children cover."""
        st = self.sc.statusTracker()
        for rec in self.spans:
            jobs = st.getJobIdsForGroup(rec["group"])
            tasks = 0
            for job in jobs:
                info = st.getJobInfo(job)
                for stage in info.stageIds if info else ():
                    sinfo = st.getStageInfo(stage)
                    if sinfo is not None:
                        tasks += sinfo.numCompletedTasks
            rec["jobs"] = len(jobs)
            rec["tasks"] = tasks
        by_group = {r["group"]: r for r in self.spans}
        covered: dict[str, float] = {}
        for rec in self.spans:
            if rec["parent"] in by_group:
                covered[rec["parent"]] = (
                    covered.get(rec["parent"], 0.0) + rec["end"] - rec["start"]
                )
        for rec in self.spans:
            rec["dur_s"] = rec["end"] - rec["start"]
            rec["self_s"] = rec["dur_s"] - covered.get(rec["group"], 0.0)

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            for rec in self.spans:
                fh.write(json.dumps(rec) + "\n")
