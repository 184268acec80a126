"""In-memory spans around calls into the engine, with Spark job counters.

A span records its name, layer, parent, start and end. In a traced run each
span also sets its own Spark job group and, right after the call returns,
reads the jobs of that group from the status tracker and their stages from
the context's status store: tasks, shuffle bytes, spill, executor run/CPU
time and GC. The store keeps only the most recent jobs and stages, so the
counters are read after every span, not at exit.
"""

from __future__ import annotations

import time
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError

COUNTERS = ("jobs", "stages", "tasks", "shuffle_bytes", "spill_bytes",
            "executor_run_s", "executor_cpu_s", "gc_s")


class Tracer:
    def __init__(self, sc, traced: bool):
        self.sc = sc
        self.traced = traced
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    @contextmanager
    def span(self, name: str, layer: str):
        parent = self._stack[-1] if self._stack else None
        rec = {"id": len(self.spans), "name": name, "layer": layer,
               "parent": parent["id"] if parent else None}
        self.spans.append(rec)
        self._stack.append(rec)
        if self.traced:
            self.sc.setJobGroup(self._group(rec), name)
        rec["start"] = time.perf_counter()
        rec["start_epoch_ms"] = time.time() * 1000.0
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if self.traced:
                rec.update(self._counters(self._group(rec)))
                if parent is not None:
                    self.sc.setJobGroup(self._group(parent), parent["name"])
                else:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)

    def _group(self, rec: dict) -> str:
        return f"perfbench-{rec['id']}"

    def _counters(self, group: str) -> dict:
        jsc = self.sc._jsc.sc()
        # The status store is fed by the asynchronous listener bus: drain it
        # so the last stage's task metrics are in before reading.
        jsc.listenerBus().waitUntilEmpty(10_000)
        store = jsc.statusStore()
        out = dict.fromkeys(COUNTERS, 0)
        job_ms, stage_ids = [], set()
        for j in self.sc.statusTracker().getJobIdsForGroup(group):
            job = store.job(j)
            sub = job.submissionTime()
            job_ms.append(sub.get().getTime() if sub.isDefined() else None)
            ids = job.stageIds()
            stage_ids.update(ids.apply(i) for i in range(ids.size()))
        out["jobs"] = len(job_ms)
        out["job_submit_ms"] = job_ms
        for sid in stage_ids:
            try:
                st = store.lastStageAttempt(sid)
            except Py4JJavaError:  # a skipped stage has no attempt
                continue
            if st.numCompleteTasks() == 0:
                continue
            out["stages"] += 1
            out["tasks"] += st.numCompleteTasks()
            out["shuffle_bytes"] += st.shuffleWriteBytes()
            out["spill_bytes"] += st.diskBytesSpilled()
            out["executor_run_s"] += st.executorRunTime() / 1e3
            out["executor_cpu_s"] += st.executorCpuTime() / 1e9
            out["gc_s"] += st.jvmGcTime() / 1e3
        return out


def self_times(spans: list[dict]) -> None:
    """Set ``wall_s`` and ``self_s`` on every span: its duration, and the
    duration minus the part covered by its child spans."""
    for s in spans:
        s["wall_s"] = s["end"] - s["start"]
        s["self_s"] = s["wall_s"]
    for s in spans:
        if s["parent"] is not None:
            spans[s["parent"]]["self_s"] -= s["wall_s"]
