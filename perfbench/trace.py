"""In-memory spans for the traced run, and counters scraped from Spark's
status stores at the same boundaries.

A span records name, start, end, parent and operation id.  Spans are
kept in memory and written out once, when the run ends.  A layer's self
time is its spans' duration minus the part covered by their child spans;
calls are sequential (one client, one thread), so children never overlap.
"""

from __future__ import annotations

import json
import time
from collections import defaultdict
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError


class Tracer:
    """Span recorder.  Disabled, ``span`` costs one branch and records
    nothing, so the untraced run pays nothing for it."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, op: str | None = None):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        if op is None and parent is not None:
            op = self.spans[parent]["op"]
        rec = {"id": len(self.spans), "name": name, "parent": parent, "op": op,
               "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def self_times(self, root: int | None = None) -> dict[int, float]:
        """Span id -> self time (s), for every span under ``root``
        (inclusive; all spans when ``root`` is None)."""
        child_cover: dict[int, float] = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                child_cover[s["parent"]] += s["end"] - s["start"]
        ids = [s["id"] for s in self.spans if root is None or self._under(s["id"], root)]
        return {i: (self.spans[i]["end"] - self.spans[i]["start"]) - child_cover[i] for i in ids}

    def _under(self, sid: int, root: int) -> bool:
        while sid is not None:
            if sid == root:
                return True
            sid = self.spans[sid]["parent"]
        return False

    def layer_self_times(self) -> dict[str, float]:
        """Self time summed by span name."""
        out: dict[str, float] = defaultdict(float)
        for sid, t in self.self_times().items():
            out[self.spans[sid]["name"]] += t
        return dict(out)

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(self.spans, fh)


_UNITS = {
    "ms": 1e-3, "s": 1.0, "m": 60.0, "min": 60.0, "h": 3600.0,
    "B": 1.0, "KiB": 2.0**10, "MiB": 2.0**20, "GiB": 2.0**30, "TiB": 2.0**40,
}

# SQL metric name -> counter key; timings in s, sizes in bytes
SQL_METRICS = {
    "time to start Python workers": "exec.python_start_s",
    "time to initialize Python workers": "exec.python_init_s",
    "time to run Python workers": "exec.python_run_s",
    "data sent to Python workers": "exec.python_bytes_sent",
    "scan time": "sources.scan_s",
    "number of files read": "sources.files_read",
    "number of written files": "sinks.files_written",
    "written output": "sinks.bytes_written",
}


def parse_sql_metric(text: str) -> float:
    """Value of a rendered SQL metric: ``'6,250'``, ``'18 ms'``,
    ``'214.0 KiB'`` or the multi-task form whose second line starts with
    the total (``'total (min, med, max ...)\\n2.2 s (483 ms, ...)'``)."""
    line = text.strip().splitlines()[-1]
    parts = line.split(" (")[0].split()
    value = float(parts[0].replace(",", ""))
    return value * _UNITS[parts[1]] if len(parts) > 1 else value


class SparkProbe:
    """Counts the jobs, stages, tasks and SQL metrics of the work done
    between ``mark()`` and ``since(mark)``.  With one client calling
    sequentially, every job and SQL execution started in that interval
    belongs to the call in between; this also catches the jobs a query
    builder starts eagerly and the jobs a streaming ``foreachBatch``
    starts on the stream thread."""

    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        jsc = sc._jsc.sc()
        self._bus = jsc.listenerBus()
        self._store = jsc.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._bus.waitUntilEmpty()
        jobs = self._store.jobsList(sc._jvm.java.util.ArrayList()).iterator()
        self._last_job = -1
        while jobs.hasNext():
            self._last_job = max(self._last_job, int(jobs.next().jobId()))
        execs = self._sql.executionsList().iterator()
        self._last_ex = -1
        while execs.hasNext():
            self._last_ex = max(self._last_ex, int(execs.next().executionId()))

    def _job(self, job_id: int):
        """The job's status-store record, or None if it has not started.
        Ids are dense, so probing upward from a known id finds new work
        without listing every retained job."""
        try:
            return self._store.job(job_id)
        except Py4JJavaError:  # NoSuchElementException
            return None

    def mark(self) -> tuple[int, int]:
        self._bus.waitUntilEmpty()
        while self._job(self._last_job + 1) is not None:
            self._last_job += 1
        while self._sql.execution(self._last_ex + 1).isDefined():
            self._last_ex += 1
        return self._last_job, self._last_ex

    def since(self, mark: tuple[int, int]) -> dict[str, float]:
        self._bus.waitUntilEmpty()
        job_id, ex_mark = mark
        c: dict[str, float] = defaultdict(float)
        stage_ids: set[int] = set()
        while (job := self._job(job_id + 1)) is not None:
            job_id += 1
            c["exec.jobs"] += 1
            it = job.stageIds().iterator()
            while it.hasNext():
                stage_ids.add(int(it.next()))
        self._last_job = max(self._last_job, job_id)
        for sid in stage_ids:
            try:
                sd = self._store.lastStageAttempt(sid)
            except Py4JJavaError:  # no attempt stored for this stage
                continue
            if sd.status().toString() == "SKIPPED":  # shuffle output reused
                continue
            c["exec.stages"] += 1
            c["exec.tasks"] += int(sd.numCompleteTasks())
            c["exec.task_s"] += int(sd.executorRunTime()) / 1e3
            c["exec.shuffle_write_bytes"] += int(sd.shuffleWriteBytes())
            c["exec.spill_bytes"] += int(sd.memoryBytesSpilled()) + int(sd.diskBytesSpilled())
            c["sources.bytes_read"] += int(sd.inputBytes())
        eid = ex_mark
        while (found := self._sql.execution(eid + 1)).isDefined():
            eid += 1
            e = found.get()
            values = self._sql.executionMetrics(eid)
            it = e.metrics().iterator()
            while it.hasNext():
                m = it.next()
                key = SQL_METRICS.get(m.name())
                if key is None:
                    continue
                v = values.get(m.accumulatorId())
                if v.isDefined():
                    c[key] += parse_sql_metric(v.get())
        self._last_ex = max(self._last_ex, eid)
        return dict(c)


def catalyst_phases(df) -> dict[str, float]:
    """Analysis, optimization and planning time (s) of ``df``'s own
    QueryExecution, from its phase tracker; reading ``executedPlan``
    finishes planning if the run used another QueryExecution."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    out = {}
    it = qe.tracker().phases().iterator()
    while it.hasNext():
        kv = it.next()
        out[f"plan.{kv._1()}_s"] = int(kv._2().durationMs()) / 1e3
    return out
