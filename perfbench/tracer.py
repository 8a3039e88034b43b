"""Spans recorded by the benchmark around its calls into each layer.

A span's Spark jobs are every job id above the highest id the status
store held when the span started. This needs no job groups, so it keeps
working when the engine starts setting its own, and it is read when the
span ends because the store keeps only the most recent jobs
(`spark.ui.retainedJobs`, 1000 by default). For each of those jobs the
span sums its completed stages' executor CPU, run time, shuffle and spill
from the same store, and it takes the CPU time of the whole process tree
from /proc, which is the only place the Python UDF workers show up.

Spans stay in memory; `Tracer.spans` is written out when the run ends.
The time the tracer spends on its own bookkeeping is summed separately,
so a traced run can state its overhead.
"""

from __future__ import annotations

import time
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError

from . import procfs


class Tracer:
    """Records spans when `enabled`; otherwise `span` costs one context
    manager and records nothing, so untraced runs measure the engine
    alone."""

    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self.overhead_s = 0.0
        self._stack: list[int] = []
        self._origin = time.perf_counter()
        jsc = spark.sparkContext._jsc.sc()
        self._store = jsc.statusStore()
        self._bus = jsc.listenerBus()

    # ---- status-store reads -------------------------------------------

    def _drain(self) -> None:
        # job and stage events reach the store through the listener bus,
        # asynchronously; wait until every posted event is applied
        self._bus.waitUntilEmpty()

    def max_job_id(self) -> int:
        """The highest job id the status store holds, once every posted
        event is applied; job ids are dense, so the difference of two
        readings counts the jobs launched between them."""
        self._drain()
        jobs = self._store.jobsList(None)   # newest first
        return jobs.head().jobId() if jobs.nonEmpty() else -1

    def _jobs_after(self, watermark: int) -> list:
        out = []
        it = self._store.jobsList(None).iterator()
        while it.hasNext():
            job = it.next()
            if job.jobId() <= watermark:
                break
            out.append(job)
        return out

    def _stage_totals(self, jobs: list) -> dict:
        tot = {"jobs": len(jobs), "stages": 0, "tasks": 0,
               "jvm_cpu_s": 0.0, "task_run_s": 0.0, "shuffle_read_bytes": 0,
               "shuffle_write_bytes": 0, "spill_bytes": 0}
        seen = set()
        for job in jobs:
            ids = job.stageIds()
            for k in range(ids.size()):
                sid = ids.apply(k)
                if sid in seen:
                    continue
                seen.add(sid)
                try:
                    st = self._store.lastStageAttempt(sid)
                except Py4JJavaError:
                    continue            # evicted or never submitted
                if st.status().toString() != "COMPLETE":
                    continue            # skipped: output reused
                tot["stages"] += 1
                tot["tasks"] += st.numTasks()
                tot["jvm_cpu_s"] += st.executorCpuTime() / 1e9
                tot["task_run_s"] += st.executorRunTime() / 1e3
                tot["shuffle_read_bytes"] += st.shuffleReadBytes()
                tot["shuffle_write_bytes"] += st.shuffleWriteBytes()
                tot["spill_bytes"] += (st.memoryBytesSpilled()
                                       + st.diskBytesSpilled())
        return tot

    # ---- spans ----------------------------------------------------------

    @contextmanager
    def span(self, name: str, **attrs):
        """Yields the span's record (a dict the caller may add counts to),
        or None when tracing is off."""
        if not self.enabled:
            yield None
            return
        b0 = time.perf_counter()
        watermark = self.max_job_id()
        cpu0 = procfs.tree_cpu_s()
        rec = {"id": len(self.spans), "name": name,
               "parent": self._stack[-1] if self._stack else None, **attrs}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        t0 = time.perf_counter()
        self.overhead_s += t0 - b0
        try:
            yield rec
        finally:
            t1 = time.perf_counter()
            self._stack.pop()
            self._drain()
            rec.update(self._stage_totals(self._jobs_after(watermark)))
            rec["proc_cpu_s"] = procfs.tree_cpu_s() - cpu0
            rec["start_s"] = t0 - self._origin
            rec["wall_s"] = t1 - t0
            self.overhead_s += time.perf_counter() - t1

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]
