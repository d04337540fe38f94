"""Timing of calls into the package's layers, and the traced run's job
accounting from Spark's status store.

Untraced, a ``Probe`` only forwards calls and actions. Traced, every call
and action becomes a span whose children are the Spark jobs it ran, read
from the application status store right after it returns. Jobs are
attributed by job-id window (every job id above the last one seen), not by
job group: streaming micro-batches run on their own thread and do not
inherit the caller's group. The store is populated with
``spark.ui.enabled=false``, so no session setting changes; it keeps only
the last 1000 jobs and stages, hence the read after every call.
"""

from __future__ import annotations

import os
import statistics
import threading
import time

from workloads import LAYERS, layer_of

MB = 1024 * 1024
LAYER_METRICS = {
    "calls": "count", "failed_tasks": "count", "call_s": "s", "action_s": "s",
    "driver_only_s": "s", "jobs": "count", "tasks": "count", "executor_run_s": "s",
    "executor_cpu_s": "s", "input_mb": "MB", "shuffle_write_mb": "MB", "output_mb": "MB",
    "spill_mb": "MB", "checkpoint_mb": "MB", "busy_frac": "frac",
}


class StoreReader:
    """Reads jobs and their stages' metrics from the status store."""

    def __init__(self, spark):
        self.jsc = spark.sparkContext._jsc.sc()
        self.store = self.jsc.statusStore()
        self.seen_stages: set[int] = set()
        self.last_job = self._max_job()

    def _max_job(self) -> int:
        self.jsc.listenerBus().waitUntilEmpty()
        jobs = self.store.jobsList(None)
        return jobs.apply(0).jobId() if jobs.size() else -1

    def persisted_bytes(self) -> int:
        return sum(r.memSize() + r.diskSize() for r in self.jsc.getRDDStorageInfo())

    def skip(self) -> None:
        """Forget jobs run outside any call (output checks, block release)."""
        self.last_job = self._max_job()

    def new_jobs(self) -> list[dict]:
        top = self._max_job()
        jobs = [self._job(j) for j in range(self.last_job + 1, top + 1)]
        self.last_job = top
        return jobs

    def _job(self, job_id: int) -> dict:
        j = self.store.job(job_id)
        now = time.time()
        sub, comp = j.submissionTime(), j.completionTime()
        job = {
            "job": job_id,
            "start": sub.get().getTime() / 1000 if sub.isDefined() else now,
            "end": comp.get().getTime() / 1000 if comp.isDefined() else now,
            "tasks": j.numCompletedTasks() + j.numFailedTasks() + j.numKilledTasks(),
            "failed_tasks": j.numFailedTasks(),
            "executor_run_s": 0.0, "executor_cpu_s": 0.0, "input_mb": 0.0,
            "shuffle_write_mb": 0.0, "output_mb": 0.0, "spill_mb": 0.0,
        }
        ids = j.stageIds()
        for k in range(ids.size()):
            sid = ids.apply(k)
            if sid in self.seen_stages:
                continue
            s = self.store.lastStageAttempt(sid)
            if s.status().toString() in ("SKIPPED", "PENDING"):
                continue
            self.seen_stages.add(sid)
            job["executor_run_s"] += s.executorRunTime() / 1e3
            job["executor_cpu_s"] += s.executorCpuTime() / 1e9
            job["input_mb"] += s.inputBytes() / MB
            job["shuffle_write_mb"] += s.shuffleWriteBytes() / MB
            job["output_mb"] += s.outputBytes() / MB
            job["spill_mb"] += s.diskBytesSpilled() / MB
        return job


class Probe:
    """Forwards calls into the package; when traced, records spans and the
    time spent reading the status store (the tracing overhead)."""

    def __init__(self, spark, traced: bool):
        self.store = StoreReader(spark) if traced else None
        self.spans: list[dict] = []
        self.parent: int | None = None
        self.trace_s = 0.0

    def open(self, name: str, kind: str, **attrs) -> int:
        self.spans.append({"id": len(self.spans), "parent": self.parent, "name": name,
                           "kind": kind, "start": time.time(), "end": None, **attrs})
        self.parent = len(self.spans) - 1
        return self.parent

    def close(self, span_id: int, **attrs) -> None:
        span = self.spans[span_id]
        span["end"] = time.time()
        span.update(attrs)
        self.parent = span["parent"]

    def call(self, fn, *args):
        if self.store is None:
            return fn(*args)
        before = self._read(self.store.persisted_bytes)
        sid = self.open(f"{fn.__module__}.{fn.__name__}", "call", layer=layer_of(fn))
        try:
            return fn(*args)
        finally:
            self.close(sid)
            self.spans[sid]["checkpoint_mb"] = (self._read(self.store.persisted_bytes) - before) / MB
            self._add_jobs(sid)

    def action(self, fn, df) -> list:
        """Collect the DataFrame a call to ``fn`` returned."""
        if self.store is None:
            return df.collect()
        sid = self.open(f"{fn.__name__}.collect", "action", layer=layer_of(fn), checkpoint_mb=0.0)
        try:
            return df.collect()
        finally:
            self.close(sid)
            self._add_jobs(sid)

    def skip(self) -> None:
        """Leave out jobs run between calls (output checks, block release)."""
        if self.store is not None:
            self._read(self.store.skip)

    def _read(self, fn):
        t = time.perf_counter()
        try:
            return fn()
        finally:
            self.trace_s += time.perf_counter() - t

    def _add_jobs(self, sid: int) -> None:
        for job in self._read(self.store.new_jobs):
            self.spans.append({"id": len(self.spans), "parent": sid, "name": f"job {job['job']}",
                               "kind": "job", **job})


def _covered(start: float, end: float, intervals: list[tuple[float, float]]) -> float:
    """Length of [start, end] covered by the union of ``intervals``."""
    total, cur = 0.0, start
    for s, e in sorted(intervals):
        s, e = max(s, cur), min(e, end)
        if e > s:
            total += e - s
            cur = e
    return total


def layer_totals(spans: list[dict], pass_span: int, cores: int) -> dict[str, dict]:
    """Per-layer sums over the call and action spans under one pass span."""
    children: dict[int, list[dict]] = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)

    def below(sid: int):
        for c in children.get(sid, []):
            yield c
            yield from below(c["id"])

    tot = {layer: dict.fromkeys(LAYER_METRICS, 0.0) for layer in LAYERS}
    for span in below(pass_span):
        if span["kind"] not in ("call", "action") or span["layer"] not in tot:
            continue
        t = tot[span["layer"]]
        wall = span["end"] - span["start"]
        jobs = [c for c in children.get(span["id"], []) if c["kind"] == "job"]
        t["calls"] += span["kind"] == "call"
        t["call_s" if span["kind"] == "call" else "action_s"] += wall
        t["driver_only_s"] += wall - _covered(span["start"], span["end"],
                                              [(j["start"], j["end"]) for j in jobs])
        t["jobs"] += len(jobs)
        t["checkpoint_mb"] += span["checkpoint_mb"]
        for j in jobs:
            for k in ("tasks", "failed_tasks", "executor_run_s", "executor_cpu_s", "input_mb",
                      "shuffle_write_mb", "output_mb", "spill_mb"):
                t[k] += j[k]
    for t in tot.values():
        wall = t["call_s"] + t["action_s"]
        t["busy_frac"] = t["executor_run_s"] / (wall * cores) if wall else 0.0
    return tot


def median_layers(per_pass: list[dict[str, dict]]) -> dict[str, float]:
    """``layer.metric`` -> median over passes of the per-pass value."""
    return {f"{layer}.{m}": statistics.median(p[layer][m] for p in per_pass)
            for layer in LAYERS for m in LAYER_METRICS}


def session_pids(sid: int) -> list[int]:
    """Processes (zombies included) whose session id is ``sid``."""
    pids = []
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[3]) == sid:
            pids.append(int(d))
    return pids


class RssSampler(threading.Thread):
    """High-water resident memory of this process's session (the driver,
    the JVM and the Python workers): at every poll of /proc, the sum of the
    live processes' proportional set sizes (``Pss``, so pages that forked
    workers share with their daemon count once), and the largest such sum.
    Each process's own kernel-tracked peak (``VmHWM``) is kept for the info
    line only: peaks reached at different moments do not add up."""

    def __init__(self, period_s: float = 0.5):
        super().__init__(daemon=True)
        self.period_s = period_s
        self.hwm_kb: dict[str, int] = {}
        self.peak_kb = 0
        self._stop_evt = threading.Event()

    @staticmethod
    def _field_kb(path: str, field: str) -> int:
        with open(path) as f:
            return next(int(line.split()[1]) for line in f if line.startswith(field))

    def _poll(self) -> None:
        total = 0
        for pid in session_pids(os.getsid(0)):
            try:
                with open(f"/proc/{pid}/comm") as f:
                    key = f"{f.read().strip()}:{pid}"
                hwm = self._field_kb(f"/proc/{pid}/status", "VmHWM:")
                total += self._field_kb(f"/proc/{pid}/smaps_rollup", "Pss:")
            except (OSError, StopIteration, ValueError):
                continue  # a zombie or a process that just ended
            self.hwm_kb[key] = max(self.hwm_kb.get(key, 0), hwm)
        self.peak_kb = max(self.peak_kb, total)

    def run(self) -> None:
        while not self._stop_evt.is_set():
            self._poll()
            self._stop_evt.wait(self.period_s)

    def stop(self) -> float:
        self._stop_evt.set()
        self.join()
        self._poll()
        return self.peak_kb / 1024
