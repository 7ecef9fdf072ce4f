"""Spans recorded in the benchmark's own code, and the Spark status
store read from outside the program.

A span is ``{id, parent, trace, name, start, end, attrs}`` with wall
times in epoch seconds, so the job intervals Spark's status store
reports (epoch milliseconds) line up with them. Spans stay in memory
and are written out once, when the run ends. With tracing off,
``Tracer.span`` records nothing.
"""

from __future__ import annotations

import contextlib
import json
import re
import time

_BATCH_RE = re.compile(r"batch = (\d+)")


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._next_id = 1

    def current(self) -> dict | None:
        """The innermost open span."""
        return self._stack[-1] if self._stack else None

    def add(self, name: str, start: float, end: float | None, parent: dict | None,
            trace=None, **attrs) -> dict:
        """Record a span; one measured elsewhere (a Spark job, a progress
        phase) comes with its own times. It inherits its parent's trace."""
        if trace is None and parent is not None:
            trace = parent["trace"]
        rec = {
            "id": self._next_id,
            "parent": parent and parent["id"],
            "trace": trace,
            "name": name,
            "start": start,
            "end": end,
            "attrs": attrs,
        }
        self._next_id += 1
        self.spans.append(rec)
        return rec

    @contextlib.contextmanager
    def span(self, name: str, trace=None, **attrs):
        """Time the body as a child of the innermost open span."""
        if not self.enabled:
            yield None
            return
        rec = self.add(name, time.time(), None, self.current(), trace, **attrs)
        self._stack.append(rec)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.time()

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for rec in self.spans:
                f.write(json.dumps(rec) + "\n")


def _opt(option, default=None):
    return option.get() if option.isDefined() else default


class StatusStore:
    """Jobs and stages from Spark's AppStatusStore, read incrementally.

    The store is fed by the listener bus, so each read first waits for
    the bus to drain. The store retains the last
    ``spark.ui.retainedJobs`` (1,000) jobs, so read at least that often.
    """

    def __init__(self, spark):
        sc = spark.sparkContext
        self._sc = sc._jsc.sc()
        self._store = self._sc.statusStore()
        self._gateway = sc._gateway
        self._last_job = -1
        self._last_job = max((j["job"] for j in self.new_jobs()), default=-1)

    def new_jobs(self) -> list[dict]:
        """Jobs submitted since the previous call, oldest first, each
        with its stages' task counts and metrics."""
        self._sc.listenerBus().waitUntilEmpty()
        seq = self._store.jobsList(None)  # newest first
        out = []
        for i in range(seq.length()):
            j = seq.apply(i)
            job_id = j.jobId()
            if job_id <= self._last_job:
                break
            stage_ids = j.stageIds()
            submit = _opt(j.submissionTime()).getTime() / 1000.0
            end = _opt(j.completionTime())  # None while a job still runs
            out.append(
                {
                    "job": job_id,
                    "submit": submit,
                    "end": end.getTime() / 1000.0 if end is not None else submit,
                    "status": j.status().toString(),
                    "batch": self._batch_of(_opt(j.description(), "")),
                    "stages": [
                        self._stage(stage_ids.apply(k))
                        for k in range(stage_ids.length())
                    ],
                }
            )
        if out:
            self._last_job = out[0]["job"]
        out.reverse()
        return out

    @staticmethod
    def _batch_of(description: str):
        m = _BATCH_RE.search(description or "")
        return int(m.group(1)) if m else None

    def _stage(self, stage_id: int) -> dict:
        try:
            s = self._store.lastStageAttempt(stage_id)
        except Exception:  # never submitted: no record
            return {"stage": stage_id, "status": "NONE", "tasks": 0}
        rec = {
            "stage": stage_id,
            "status": s.status().toString(),
            "tasks": s.numCompleteTasks(),
            "run_ms": s.executorRunTime(),
            "cpu_ms": s.executorCpuTime() / 1e6,
            "gc_ms": s.jvmGcTime(),
            "shuffle_read_b": s.shuffleReadBytes(),
            "shuffle_write_b": s.shuffleWriteBytes(),
            "spill_b": s.memoryBytesSpilled() + s.diskBytesSpilled(),
            "peak_task_mem_b": 0.0,
        }
        if rec["tasks"]:
            q = self._gateway.new_array(self._gateway.jvm.double, 1)
            q[0] = 1.0
            summary = self._store.taskSummary(stage_id, s.attemptId(), q)
            if summary.isDefined():
                rec["peak_task_mem_b"] = summary.get().peakExecutionMemory().apply(0)
        return rec


def gc_ms(spark) -> float:
    """Total GC time of the driver JVM (which runs the executors too)."""
    beans = spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return float(sum(b.getCollectionTime() for b in beans))


def union_ms(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length in ms of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total * 1000.0


def job_totals(jobs: list[dict]) -> dict:
    """Sums over the stages that ran in ``jobs``."""
    stages = [s for j in jobs for s in j["stages"] if s["tasks"]]
    return {
        "jobs": len(jobs),
        "tasks": sum(s["tasks"] for s in stages),
        "run_ms": sum(s["run_ms"] for s in stages),
        "cpu_ms": sum(s["cpu_ms"] for s in stages),
        "shuffle_read_b": sum(s["shuffle_read_b"] for s in stages),
        "shuffle_write_b": sum(s["shuffle_write_b"] for s in stages),
        "spill_b": sum(s["spill_b"] for s in stages),
        "peak_task_mem_b": max((s["peak_task_mem_b"] for s in stages), default=0.0),
    }


def add_job_spans(tracer: Tracer, parent: dict, jobs: list[dict]) -> None:
    for j in jobs:
        t = job_totals([j])
        tracer.add(
            f"spark.job.{j['job']}",
            j["submit"],
            j["end"],
            parent,
            status=j["status"],
            tasks=t["tasks"],
            executor_run_ms=t["run_ms"],
            executor_cpu_ms=round(t["cpu_ms"], 3),
        )
