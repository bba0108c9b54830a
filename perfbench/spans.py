"""Spans for the benchmark: wall time always, Spark job/task counts when
tracing is on.

A span records name, start, end and parent. With tracing on, each open
span also owns a Spark job group (``setJobGroup``), and when it closes
its own jobs, their tasks and failed tasks are read from
``statusTracker()``. Counting at close keeps the count exact even though
Spark retains only the most recent 1,000 jobs. Spans stay in memory and
are written once, by ``dump``, when the run ends.

Tracing is done from outside the package: ``patch`` swaps a module or
class attribute for a wrapper that opens a span around each call, and
``restore`` puts every original back.
"""

from __future__ import annotations

import functools
import json
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._sc = None
        self._seen_stages: set[int] = set()
        self._patched: list[tuple[object, str, object]] = []

    def bind(self, spark_context) -> None:
        """Count jobs on this SparkContext from now on (rebind after a
        session restart)."""
        self._sc = spark_context
        self._seen_stages = set()

    def _set_group(self, span_id: int | None) -> None:
        if self._sc is not None:
            group = f"perfbench-{'idle' if span_id is None else span_id}"
            self._sc.setJobGroup(group, group)

    def _count_jobs(self, rec: dict) -> None:
        tracker = self._sc.statusTracker()
        for job_id in tracker.getJobIdsForGroup(f"perfbench-{rec['id']}"):
            rec["jobs"] += 1
            job = tracker.getJobInfo(job_id)
            for stage_id in (job.stageIds if job else ()):
                # a job lists the shuffle stages it reused; their tasks
                # ran, and were counted, in the job that first ran them
                stage = None if stage_id in self._seen_stages \
                    else tracker.getStageInfo(stage_id)
                if stage is not None:
                    self._seen_stages.add(stage_id)
                    rec["tasks"] += stage.numCompletedTasks
                    rec["failed_tasks"] += stage.numFailedTasks

    @contextmanager
    def span(self, name: str):
        t_in = time.perf_counter()
        rec = {"id": len(self.spans), "name": name,
               "parent": self._stack[-1] if self._stack else None,
               "start": 0.0, "end": 0.0, "overhead_s": 0.0, "error": None,
               "jobs": 0, "tasks": 0, "failed_tasks": 0}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        if self.enabled:
            self._set_group(rec["id"])
        rec["start"] = time.perf_counter()
        rec["overhead_s"] = rec["start"] - t_in
        try:
            yield rec
        except Exception as exc:
            rec["error"] = f"{type(exc).__name__}: {exc}"[:500]
            raise
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if self.enabled and self._sc is not None:
                self._count_jobs(rec)
                self._set_group(self._stack[-1] if self._stack else None)
            rec["overhead_s"] += time.perf_counter() - rec["end"]

    def patch(self, owner: object, attr: str, span_name: str) -> None:
        """Open ``span_name`` around every call of ``owner.attr``."""
        original = getattr(owner, attr)

        @functools.wraps(original)
        def wrapper(*args, **kwargs):
            with self.span(span_name):
                return original(*args, **kwargs)

        self._patched.append((owner, attr, original))
        setattr(owner, attr, wrapper)

    def restore(self) -> None:
        while self._patched:
            owner, attr, original = self._patched.pop()
            setattr(owner, attr, original)

    # -- derived views ----------------------------------------------------

    def _children(self) -> dict[int, list[dict]]:
        kids: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append(s)
        return kids

    def totals(self) -> dict[str, dict]:
        """Per span name: calls, inclusive seconds, self seconds, own and
        inclusive jobs, inclusive tasks and failed tasks. Children run
        sequentially on one thread, so self time is duration minus the
        children's durations and their span bookkeeping."""
        kids = self._children()
        memo: dict[int, tuple[int, int, int]] = {}

        def inclusive(s: dict) -> tuple[int, int, int]:
            if s["id"] not in memo:
                j, t, f = s["jobs"], s["tasks"], s["failed_tasks"]
                for c in kids.get(s["id"], ()):
                    cj, ct, cf = inclusive(c)
                    j, t, f = j + cj, t + ct, f + cf
                memo[s["id"]] = (j, t, f)
            return memo[s["id"]]

        out: dict[str, dict] = {}
        for s in self.spans:
            dur = s["end"] - s["start"]
            child = sum(c["end"] - c["start"] + c["overhead_s"]
                        for c in kids.get(s["id"], ()))
            j, t, f = inclusive(s)
            agg = out.setdefault(s["name"], {
                "calls": 0, "s": 0.0, "self_s": 0.0, "self_jobs": 0,
                "jobs": 0, "tasks": 0, "failed_tasks": 0})
            agg["calls"] += 1
            agg["s"] += dur
            agg["self_s"] += dur - child
            agg["self_jobs"] += s["jobs"]
            agg["jobs"] += j
            agg["tasks"] += t
            agg["failed_tasks"] += f
        return out

    def dump(self, path: str, meta: dict) -> None:
        with open(path, "w") as f:
            json.dump({"meta": meta, "spans": self.spans}, f, indent=1)
