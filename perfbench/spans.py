"""Spans around engine-layer calls, with per-span Spark stage stats.

Each span runs its Spark jobs under a job group of its own. When the
span ends, the group's stages are read from Spark's status store
(``sc._jsc.sc().statusStore()``, reachable with the UI off): executor
run and CPU time, GC time, shuffle bytes, spill, and task skew (max
over median task duration of the span's heaviest stage). Spans are
kept in memory and written out as JSON when the run ends.
"""

from __future__ import annotations

import itertools
import statistics
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self._tracker = self.sc.statusTracker()
        self._store = self.sc._jsc.sc().statusStore()
        self.t0 = time.perf_counter()
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._ids = itertools.count()

    @contextmanager
    def span(self, name: str, op: int):
        """Time the block as span ``name`` of operation ``op``; nested
        spans record this one as their parent."""
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": next(self._ids),
            "name": name,
            "op": op,
            "parent": parent["id"] if parent else None,
            "counts": {},
        }
        group = f"perfbench-{rec['id']}"
        self.sc.setJobGroup(group, name, False)
        self._stack.append(rec)
        start = time.perf_counter()
        try:
            yield rec
        finally:
            end = time.perf_counter()
            self._stack.pop()
            if parent:
                self.sc.setJobGroup(f"perfbench-{parent['id']}", parent["name"], False)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            rec.update(start=start - self.t0, end=end - self.t0, wall_s=end - start)
            rec.update(self._stage_stats(group))
            self.spans.append(rec)

    def _stage_stats(self, group: str) -> dict:
        jobs = self._tracker.getJobIdsForGroup(group)
        # job-end events reach the status store through the listener bus
        # after the action returns; wait for them (bounded)
        deadline = time.perf_counter() + 5.0
        infos = [self._tracker.getJobInfo(j) for j in jobs]
        while any(i is None or i.status == "RUNNING" for i in infos) and time.perf_counter() < deadline:
            time.sleep(0.01)
            infos = [self._tracker.getJobInfo(j) for j in jobs]
        out = {
            "jobs": len(jobs), "stages": 0, "tasks": 0, "run_s": 0.0, "cpu_s": 0.0,
            "gc_s": 0.0, "shuffle_write_mb": 0.0, "shuffle_read_mb": 0.0,
            "spill_mb": 0.0, "task_skew": 1.0,
        }
        heaviest = (-1, None)
        for sid in sorted({s for i in infos if i is not None for s in i.stageIds}):
            try:
                sd = self._store.lastStageAttempt(sid)
            except Exception:  # noqa: BLE001 — evicted from the store
                continue
            if sd.status().toString() == "SKIPPED":
                continue
            out["stages"] += 1
            out["tasks"] += sd.numTasks()
            out["run_s"] += sd.executorRunTime() / 1e3
            out["cpu_s"] += sd.executorCpuTime() / 1e9
            out["gc_s"] += sd.jvmGcTime() / 1e3
            out["shuffle_write_mb"] += sd.shuffleWriteBytes() / 2**20
            out["shuffle_read_mb"] += sd.shuffleReadBytes() / 2**20
            out["spill_mb"] += (sd.memoryBytesSpilled() + sd.diskBytesSpilled()) / 2**20
            if sd.executorRunTime() > heaviest[0]:
                heaviest = (sd.executorRunTime(), (sid, sd.attemptId()))
        if heaviest[1] is not None:
            out["task_skew"] = self._skew(*heaviest[1])
        return out

    def _skew(self, sid: int, attempt: int) -> float:
        tasks = self._store.taskList(sid, attempt, 1 << 20)
        durations = []
        for k in range(tasks.size()):
            d = tasks.apply(k).duration()
            if d.isDefined():
                durations.append(d.get())
        med = statistics.median(durations) if durations else 0
        return max(durations) / med if med > 0 else 1.0

    def self_time(self, rec: dict) -> float:
        """Span wall minus the part of it that child spans cover."""
        kids = sorted((s["start"], s["end"]) for s in self.spans if s["parent"] == rec["id"])
        covered, cur_start, cur_end = 0.0, None, None
        for s, e in kids:
            if cur_end is None or s > cur_end:
                if cur_end is not None:
                    covered += cur_end - cur_start
                cur_start, cur_end = s, e
            else:
                cur_end = max(cur_end, e)
        if cur_end is not None:
            covered += cur_end - cur_start
        return rec["wall_s"] - covered
