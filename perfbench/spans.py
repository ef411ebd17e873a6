"""Spans around calls into the engine's layers, with Spark counters attached.

A span records name, start, end and parent; spans are kept in memory and
written out once at the end of a run. A span opened with ``jobs=True`` also
tags every Spark job launched inside it with its own job group, and right
after the call reads the job, stage and task counters of that group from the
status store. Reading at each span boundary matters: the store keeps only
the last 1000 jobs and stages, so counters read at the end of a long run
would already be evicted.

Nothing here changes what the engine does: job groups are thread-local
properties, and an untraced pass opens no spans at all.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError

COUNTERS = {
    "jobs": "count",
    "stages": "count",
    "tasks": "count",
    "executor_run_s": "s",
    "executor_cpu_s": "s",
    "gc_s": "s",
    "shuffle_read_mb": "MB",
    "shuffle_write_mb": "MB",
    "spill_mb": "MB",
}

_MB = 1024.0 * 1024.0


class Tracer:
    """Span recorder for the traced passes of one run."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._next_id = 0
        self.counting_s = 0.0
        jsc = self.sc._jsc.sc()
        self._store = jsc.statusStore()
        self._bus = jsc.listenerBus()
        self._tracker = self.sc.statusTracker()

    @contextmanager
    def span(self, name: str, jobs: bool = False, **attrs):
        parent = self._stack[-1] if self._stack else None
        rec = {"id": self._next_id, "name": name, "parent": parent and parent["id"], **attrs}
        self._next_id += 1
        if jobs:
            rec["group"] = f"perfbench-{rec['id']}"
            self.sc.setJobGroup(rec["group"], name)
        self._stack.append(rec)
        counting_before = self.counting_s
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            # Time the tracer itself spent inside this span (its children's
            # counter reads), so coverage checks can leave it out.
            rec["tracer_s"] = self.counting_s - counting_before
            self._stack.pop()
            if jobs:
                self._restore_group()
                rec.update(self._group_counters(rec["group"]))
                self.counting_s += time.perf_counter() - rec["end"]
            self.spans.append(rec)

    def _restore_group(self) -> None:
        outer = next((s for s in reversed(self._stack) if "group" in s), None)
        if outer is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(outer["group"], outer["name"])

    def _group_counters(self, group: str) -> dict:
        """Job/stage/task counters for one job group, from the status store."""
        self._bus.waitUntilEmpty()  # the store is fed asynchronously
        out = dict.fromkeys(COUNTERS, 0)
        stage_ids = set()
        for job_id in self._tracker.getJobIdsForGroup(group):
            info = self._tracker.getJobInfo(job_id)
            if info is not None:
                out["jobs"] += 1
                stage_ids.update(info.stageIds)
        for sid in stage_ids:
            try:
                st = self._store.lastStageAttempt(sid)
            except Py4JJavaError:  # stage never submitted (skipped by a reused exchange)
                continue
            if st.status().toString() == "SKIPPED":
                continue
            out["stages"] += 1
            out["tasks"] += st.numCompleteTasks()
            out["executor_run_s"] += st.executorRunTime() / 1e3
            out["executor_cpu_s"] += st.executorCpuTime() / 1e9
            out["gc_s"] += st.jvmGcTime() / 1e3
            out["shuffle_read_mb"] += st.shuffleReadBytes() / _MB
            out["shuffle_write_mb"] += st.shuffleWriteBytes() / _MB
            out["spill_mb"] += (st.memoryBytesSpilled() + st.diskBytesSpilled()) / _MB
        return out

    def dump(self, path: str, meta: dict) -> None:
        with open(path, "w") as f:
            json.dump({"meta": meta, "spans": self.spans}, f, indent=1, default=str)


def children(spans: list[dict], parent_id: int) -> list[dict]:
    return [s for s in spans if s["parent"] == parent_id]


def duration(span: dict) -> float:
    return span["end"] - span["start"]
