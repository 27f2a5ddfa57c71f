"""Process-tree resource sampling, spans, and Spark status-store metrics.

Everything here reads what already exists: ``/proc`` for the driver, JVM
and Python-worker process tree, and Spark's own status stores (which are
populated with ``spark.ui.enabled=false``). Nothing in the program under
test is instrumented.
"""

from __future__ import annotations

import os
import re
import statistics
import threading
import time
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError


def _parents() -> dict[int, int]:
    """pid -> ppid for every readable process."""
    out = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                out[int(d)] = int(fh.read().rsplit(")", 1)[1].split()[1])
        except OSError:
            continue
    return out


def tree_pids() -> set[int]:
    """This process and all its live descendants: the JVM and its Python
    workers."""
    me = os.getpid()
    parents = _parents()
    out = set()
    for pid in parents:
        p = pid
        while p > 1:
            if p == me:
                out.add(pid)
                break
            p = parents.get(p, 1)
    return out


def tree_pss() -> int:
    """Proportional set size in bytes of this process and its descendants.
    Python workers are forked from one daemon and share its pages; PSS
    splits a shared page between its sharers, where summing RSS would count
    it once per worker and jump with the number of live workers."""
    total = 0
    for pid in tree_pids():
        try:
            with open(f"/proc/{pid}/smaps_rollup") as fh:
                for line in fh:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
        except OSError:
            continue
    return total


class MemSampler:
    """Peak process-tree PSS while active; a daemon thread samples /proc."""

    def __init__(self, interval: float = 0.5):
        self.interval = interval
        self.peak = 0
        self._on = threading.Event()
        self._stop = threading.Event()
        self._lock = threading.Lock()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()

    def _run(self) -> None:
        while not self._stop.is_set():
            if self._on.is_set():
                pss = tree_pss()
                with self._lock:
                    self.peak = max(self.peak, pss)
            self._stop.wait(self.interval)

    @contextmanager
    def active(self):
        self._on.set()
        try:
            yield
        finally:
            self._on.clear()

    def close(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


def median(xs):
    return statistics.median(xs) if xs else None


# ---------------------------------------------------------------------------
# Spark status store
# ---------------------------------------------------------------------------

_SIZE_RE = re.compile(r"([\d.]+) (B|KiB|MiB|GiB|TiB)\b")
_SIZE_MULT = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}
_PY_BYTES_METRICS = ("data sent to Python workers", "data returned from Python workers")


class SparkStats:
    """Stage metrics of the jobs one job group ran, from the status store."""

    STAGE_FIELDS = ("exec_s", "cpu_s", "shuffle_bytes", "spill_bytes", "tasks")

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()
        self._store = self._jsc.statusStore()

    def drain(self) -> None:
        # stage/job end events reach the store through the async listener bus
        self._jsc.listenerBus().waitUntilEmpty(30_000)

    def job_ids(self, group: str) -> list[int]:
        return list(self.sc.statusTracker().getJobIdsForGroup(group))

    def stage_totals(self, job_ids: list[int], since_ms: int) -> dict:
        """Sum stage metrics over the stages these jobs ran. A stage a job
        reused from an earlier job (skipped) finished before ``since_ms``
        and is not counted again."""
        tot = dict.fromkeys(self.STAGE_FIELDS, 0)
        stages = set()
        for jid in job_ids:
            it = self._store.job(jid).stageIds().iterator()
            while it.hasNext():
                stages.add(it.next())
        for sid in stages:
            try:
                sd = self._store.lastStageAttempt(sid)
            except Py4JJavaError:  # stage evicted from the store or never submitted
                continue
            done = sd.completionTime()
            if not done.isDefined() or done.get().getTime() < since_ms or sd.numCompleteTasks() == 0:
                continue
            tot["exec_s"] += sd.executorRunTime() / 1e3
            tot["cpu_s"] += sd.executorCpuTime() / 1e9
            tot["shuffle_bytes"] += sd.shuffleWriteBytes()
            tot["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
            tot["tasks"] += sd.numCompleteTasks()
        return tot

    def python_bytes(self, job_ids: list[int]) -> int:
        """Arrow bytes sent to plus returned from Python workers, summed over
        the SQL executions that ran these jobs (the mapInPandas metrics)."""
        want = set(job_ids)
        sql = self.spark._jsparkSession.sharedState().statusStore()
        total = 0
        it = sql.executionsList().iterator()
        while it.hasNext():
            ex = it.next()
            jobs = ex.jobs().keys().iterator()
            ran = set()
            while jobs.hasNext():
                ran.add(jobs.next())
            if not ran & want:
                continue
            accs = []
            mit = ex.metrics().iterator()
            while mit.hasNext():
                m = mit.next()
                if m.name() in _PY_BYTES_METRICS:
                    accs.append(m.accumulatorId())
            if not accs:
                continue
            values = sql.executionMetrics(ex.executionId())
            for acc in accs:
                text = values.get(acc)
                if text is None or text.isEmpty():
                    continue
                m = _SIZE_RE.search(text.get())
                if m:
                    total += int(float(m.group(1)) * _SIZE_MULT[m.group(2)])
        return total


# ---------------------------------------------------------------------------
# Spans
# ---------------------------------------------------------------------------


class Tracer:
    """In-memory spans around calls made by the benchmark.

    Each span runs its Spark jobs under its own job group, so the status
    store attributes stages to the innermost open span. Disabled, a span
    only yields; nothing is recorded and no job group is set.
    """

    def __init__(self, spark, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.stats = SparkStats(spark) if enabled else None
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self.overhead_s = 0.0  # wall time spent inside the tracer itself

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        t_in = time.perf_counter()
        sc = self.stats.sc
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": parent["id"] if parent else None,
            "run_id": self.run_id,
            "group": f"{self.run_id}-{len(self.spans)}",
        }
        self.spans.append(rec)
        self._stack.append(rec)
        sc.setJobGroup(rec["group"], name)
        rec["start_ms"] = int(time.time() * 1000)
        rec["start"] = time.perf_counter()
        self.overhead_s += rec["start"] - t_in
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            t_out = rec["end"]
            self._stack.pop()
            if parent is not None:
                sc.setJobGroup(parent["group"], parent["name"])
            else:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)
            self.stats.drain()
            rec["job_ids"] = self.stats.job_ids(rec["group"])
            rec["spark"] = self.stats.stage_totals(rec["job_ids"], rec["start_ms"])
            self.overhead_s += time.perf_counter() - t_out

    def self_time(self, rec: dict) -> float:
        kids = sum(s["end"] - s["start"] for s in self.spans if s["parent"] == rec["id"])
        return (rec["end"] - rec["start"]) - kids

    def dump(self) -> list[dict]:
        return [
            {
                "id": s["id"], "name": s["name"], "parent": s["parent"], "run_id": s["run_id"],
                "start": round(s["start"], 6), "end": round(s["end"], 6),
                "self_s": round(self.self_time(s), 6), "jobs": len(s["job_ids"]),
                "spark": s["spark"],
            }
            for s in self.spans
        ]
