"""In-memory spans over calls into the package, with Spark's own numbers.

Each span gets its own Spark job group. When the span ends, the tracer reads
the finished stages of the group's jobs from the application status store
and keeps their task counts, run and CPU time, shuffle, spill and I/O bytes.
SQL executions are counted from the SQL status store by execution id, and
stream drain phases come from a ``StreamingQueryListener``. Nothing inside
the package is changed: ``patched`` swaps a module attribute for a timing
wrapper only while a traced pass runs.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import json
import os
import threading
import time

from py4j.protocol import Py4JJavaError
from pyspark.sql.streaming import StreamingQueryListener

RECENT_EXECUTIONS = 500  # more than one pass starts

STAGE_FIELDS = (
    "tasks",
    "failed_tasks",
    "run_ms",
    "cpu_ns",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "spill_bytes",
    "input_bytes",
    "output_bytes",
)


def _stage_numbers(data) -> dict[str, int]:
    return {
        "tasks": data.numCompleteTasks() + data.numFailedTasks(),
        "failed_tasks": data.numFailedTasks(),
        "run_ms": data.executorRunTime(),
        "cpu_ns": data.executorCpuTime(),
        "shuffle_read_bytes": data.shuffleReadBytes(),
        "shuffle_write_bytes": data.shuffleWriteBytes(),
        "spill_bytes": data.memoryBytesSpilled() + data.diskBytesSpilled(),
        "input_bytes": data.inputBytes(),
        "output_bytes": data.outputBytes(),
    }


class DrainListener(StreamingQueryListener):
    """Keeps each micro-batch's ``durationMs`` phases."""

    def __init__(self) -> None:
        self.batches: list[dict[str, int]] = []
        self._lock = threading.Lock()

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        with self._lock:
            self.batches.append(dict(event.progress.durationMs))

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass

    def take(self, quiet_s: float = 0.5, limit_s: float = 5.0) -> list[dict[str, int]]:
        """Wait until no event has arrived for ``quiet_s`` (the listener bus
        is asynchronous), then return and clear the batches seen so far."""
        deadline = time.monotonic() + limit_s
        seen, since = -1, time.monotonic()
        while time.monotonic() < deadline:
            with self._lock:
                n = len(self.batches)
            if n != seen:
                seen, since = n, time.monotonic()
            elif time.monotonic() - since >= quiet_s:
                break
            time.sleep(0.05)
        with self._lock:
            out, self.batches = self.batches, []
        return out


class Tracer:
    """Spans of one run: name, start, end, parent and run id, plus the
    Spark stage totals and SQL execution ids of each span's own jobs."""

    def __init__(self, spark, run_id: str) -> None:
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.spans: list[dict] = []
        self.timers: dict[str, float] = {}
        self._stack: list[dict] = []
        self._store = self.sc._jsc.sc().statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._asjava = spark._jvm.scala.jdk.javaapi.CollectionConverters.asJava

    def _set_group(self, span: dict | None) -> None:
        if span is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(span["group"], span["name"])

    def _recent_executions(self, n: int) -> list:
        count = self._sql.executionsCount()
        return list(self._asjava(self._sql.executionsList(max(0, count - n), n)))

    def last_execution_id(self) -> int:
        last = self._recent_executions(1)
        return last[0].executionId() if last else -1

    def executions_after(self, first_id: int) -> list[str]:
        """Physical plan text of every SQL execution with id > first_id
        (the store lists executions in id order)."""
        return [
            e.physicalPlanDescription()
            for e in self._recent_executions(RECENT_EXECUTIONS)
            if e.executionId() > first_id
        ]

    def _next_ids(self) -> tuple[int, int]:
        """The DAG scheduler's next job and stage ids."""
        dag = self.sc._jsc.sc().dagScheduler()
        ids = dag.nextJobId(), dag.nextStageId()
        return tuple(i if isinstance(i, int) else i.get() for i in ids)

    @contextlib.contextmanager
    def span(self, name: str, window: bool = False):
        """Time the block under its own job group. A ``window`` span instead
        counts every job, stage and SQL execution started while it ran, by
        id range, so it also sees the jobs of stream threads, which run
        under their own job group."""
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": parent["id"] if parent else None,
            "run": self.run_id,
            "group": f"perfbench-{self.run_id}-{len(self.spans)}",
            "window": window,
        }
        self.spans.append(rec)
        self._stack.append(rec)
        self._set_group(rec)
        if window:
            rec["first_job"], rec["first_stage"] = self._next_ids()
            rec["first_execution"] = self.last_execution_id()
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            self._set_group(parent)
            self._collect(rec)

    def _collect(self, rec: dict) -> None:
        if rec["window"]:
            end_job, end_stage = self._next_ids()
            jobs = end_job - rec["first_job"]
            stage_ids = range(rec["first_stage"], end_stage)
            rec["executions"] = len(self.executions_after(rec["first_execution"]))
        else:
            tracker = self.sc.statusTracker()
            job_ids = tracker.getJobIdsForGroup(rec["group"])
            jobs = len(job_ids)
            stage_ids = [
                s for j in job_ids if (info := tracker.getJobInfo(j)) for s in info.stageIds
            ]
        totals = dict.fromkeys(STAGE_FIELDS, 0)
        stages = 0
        for stage in stage_ids:
            try:
                data = self._store.lastStageAttempt(stage)
            except Py4JJavaError:  # never submitted, or evicted from the store
                continue
            if data.status().toString() == "SKIPPED":
                continue
            stages += 1
            for k, v in _stage_numbers(data).items():
                totals[k] += v
        rec["jobs"], rec["stages"] = jobs, stages
        rec.update(totals)

    def children(self, rec: dict) -> list[dict]:
        return [s for s in self.spans if s["parent"] == rec["id"]]

    def total(self, rec: dict, field: str) -> int:
        """``field`` over the span and every span below it."""
        if rec["window"]:
            return rec[field]
        return rec[field] + sum(self.total(c, field) for c in self.children(rec))

    def self_s(self, rec: dict) -> float:
        """The span's duration minus the time its child spans cover."""
        kids = sum(c["end"] - c["start"] for c in self.children(rec))
        return rec["end"] - rec["start"] - kids

    @contextlib.contextmanager
    def patched(self, spans: dict[str, str], timers: dict[str, str]):
        """While the block runs, wrap each ``module:attr`` callable in
        ``spans`` in a span, and each in ``timers`` in a plain timer that
        adds its wall time to ``self.timers`` (for calls too small and
        frequent for a span). Restore the originals afterwards."""
        saved = []
        for targets, wrap in ((spans, self._span_wrap), (timers, self._timer_wrap)):
            for target, name in targets.items():
                mod_name, attr = target.split(":")
                mod = importlib.import_module(mod_name)
                orig = getattr(mod, attr)
                saved.append((mod, attr, orig))
                setattr(mod, attr, wrap(orig, name))
        try:
            yield
        finally:
            for mod, attr, orig in saved:
                setattr(mod, attr, orig)

    def _span_wrap(self, fn, name: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    def _timer_wrap(self, fn, name: str):
        @functools.wraps(fn)
        def timed(*args, **kwargs):
            t0 = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                self.timers[name] = self.timers.get(name, 0.0) + time.perf_counter() - t0

        return timed

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(self.spans, fh, indent=1)


def worker_cpu_s(root_pid: int) -> float:
    """CPU seconds used by every live descendant of ``root_pid`` (the
    driver JVM's Python workers), children they reaped included."""
    parent, cpu = {}, {}
    tick = os.sysconf("SC_CLK_TCK")
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        parent[int(entry)] = int(fields[1])
        cpu[int(entry)] = sum(int(x) for x in fields[11:15]) / tick
    total, frontier = 0.0, {root_pid}
    while frontier:
        kids = {p for p, pp in parent.items() if pp in frontier}
        total += sum(cpu[p] for p in kids)
        frontier = kids
    return total
