"""Spans around the benchmark's calls into the program.

A span records name, start, end, parent span and operation id, and the
Spark jobs, stages and tasks that ran inside it.  Jobs are found through
``statusTracker`` by the job group the span sets; jobs that the program
submits from its own worker threads (``build_index`` runs its stages on a
thread pool) carry no group, so a span also claims every group-less job
that appeared while it was open.  The benchmark runs one client, so no two
top-level spans overlap.

Spans are kept in memory and written as one JSON file by ``dump``.
``NullTracer`` has the same surface and records nothing; the untraced run
uses it, so both runs make exactly the same calls.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import time


class NullTracer:
    enabled = False

    @contextlib.contextmanager
    def span(self, name: str, op: int | None = None):
        yield {}


class Tracer:
    enabled = True

    def __init__(self, sc):
        self.sc = sc
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._ids = itertools.count(1)

    def _ungrouped(self) -> set[int]:
        return set(self.sc.statusTracker().getJobIdsForGroup(None))

    def _counts(self, job_ids: set[int]) -> dict:
        st = self.sc.statusTracker()
        stages = tasks = 0
        for j in job_ids:
            info = st.getJobInfo(j)
            if info is None:
                continue
            for s in info.stageIds:
                si = st.getStageInfo(s)
                # a stage skipped because its shuffle output was reused
                # never ran; it has no info and no tasks
                if si is not None and si.numTasks and si.numCompletedTasks:
                    stages += 1
                    tasks += si.numTasks
        return {"jobs": len(job_ids), "stages": stages, "tasks": tasks}

    @contextlib.contextmanager
    def span(self, name: str, op: int | None = None):
        sid = next(self._ids)
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": sid,
            "name": name,
            "parent": parent["id"] if parent else None,
            "op": op if op is not None else (parent["op"] if parent else None),
        }
        group = f"perfbench-{sid}"
        before = self._ungrouped()
        self.sc.setJobGroup(group, name)
        self._stack.append(rec)
        rec["start"] = time.time()
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            if parent is not None:
                self.sc.setJobGroup(f"perfbench-{parent['id']}", parent["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            jobs = set(self.sc.statusTracker().getJobIdsForGroup(group))
            jobs |= self._ungrouped() - before
            rec.update(self._counts(jobs))
            self.spans.append(rec)

    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump({**extra, "spans": sorted(self.spans, key=lambda s: s["id"])}, f)
