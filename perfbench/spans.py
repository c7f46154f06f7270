"""Span recorder and Spark tracker readers for the traced benchmark run.

A span is ``{name, start, end, parent, trace}`` with wall-clock epoch
seconds, so Python-side spans and the JVM's millisecond timestamps (jobs,
stages, Catalyst phases) share one time axis. Spans stay in memory and are
written out once at the end of the run.

Spark is read in-process, with the UI off:

- job and stage spans and task totals from the status store
  (``SparkContext.statusStore``);
- Catalyst phases from the action's own ``QueryExecution``, delivered to a
  ``QueryExecutionListener`` (the frame a builder returns records only its
  analysis phase);
- per-operator SQL metrics (Python-node time and bytes) from the SQL
  status store's ``executionMetrics``.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import re
import time

# multiplier per unit in Spark's rendered SQL metric values
_UNITS = {
    "B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40,
    "ns": 1e-9, "us": 1e-6, "µs": 1e-6, "ms": 1e-3, "s": 1.0, "m": 60.0,
    "min": 60.0, "h": 3600.0,
}
_VALUE = re.compile(r"^\s*([0-9][0-9.,]*)\s*([A-Za-zµ]+)?")

PYTHON_METRICS = {
    "time to run Python workers": "python_run_s",
    "time to start Python workers": "python_start_s",
    "data sent to Python workers": "python_bytes_sent",
    "data returned from Python workers": "python_bytes_returned",
}


def parse_metric(rendered: str) -> float:
    """Total of a rendered SQL metric: the first line of a plain metric,
    the line after the ``total (min, med, max ...)`` header otherwise."""
    lines = rendered.strip().splitlines()
    text = lines[1] if lines[0].startswith("total") and len(lines) > 1 else lines[0]
    m = _VALUE.match(text)
    if not m:
        return 0.0
    value = float(m.group(1).replace(",", ""))
    return value * _UNITS.get(m.group(2) or "", 1)


class Tracer:
    """In-memory span list; ``span`` nests through a parent stack."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._stack: list[int] = []
        self.trace_id = 0
        self.bookkeeping_s = 0.0  # time spent reading trackers between ops

    def add(self, name: str, start: float, end: float | None, parent: int | None, **attrs) -> int:
        sid = next(self._ids)
        self.spans.append(
            {"id": sid, "name": name, "start": start, "end": end,
             "parent": parent, "trace": self.trace_id, **attrs}
        )
        return sid

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        parent = self._stack[-1] if self._stack else None
        self._stack.append(self.add(name, time.time(), None, parent, **attrs))
        rec = self.spans[-1]
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.time()

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


def wrap(tracer: Tracer, module, attr: str, span_name: str) -> None:
    """Replace ``module.attr`` by a span-recording wrapper. Must run before
    any module binds the function by name (``from m import f``)."""
    fn = getattr(module, attr)

    def traced(*args, **kwargs):
        with tracer.span(span_name):
            return fn(*args, **kwargs)

    traced.__wrapped__ = fn
    setattr(module, attr, traced)


def _jlist(spark, seq):
    return spark.sparkContext._jvm.scala.jdk.javaapi.CollectionConverters.asJava(seq)


def _epoch(opt) -> float | None:
    return opt.get().getTime() / 1000.0 if opt.isDefined() else None


class SparkReader:
    """Reads what Spark recorded about the actions run since the last call."""

    def __init__(self, spark) -> None:
        from pyspark.java_gateway import ensure_callback_server_started

        self.spark = spark
        sc = spark.sparkContext
        self._jsc = sc._jsc.sc()
        self._app_store = self._jsc.statusStore()
        self._sql_store = spark._jsparkSession.sharedState().statusStore()
        self.phases: list[dict] = []
        ensure_callback_server_started(sc._gateway)
        reader = self

        class Listener:
            def onSuccess(self, func_name, qe, duration_ns):
                reader._record(qe)

            def onFailure(self, func_name, qe, exc):
                reader._record(qe)

            class Java:
                implements = ["org.apache.spark.sql.util.QueryExecutionListener"]

        self._listener = Listener()
        spark._jsparkSession.listenerManager().register(self._listener)
        self._last_job = self._max_job()
        self._last_exec = self._max_exec()

    def _record(self, qe) -> None:
        phases = _jlist(self.spark, qe.tracker().phases())
        for name in phases.keySet():
            p = phases.get(name)
            self.phases.append(
                {"phase": name, "start": p.startTimeMs() / 1000.0, "end": p.endTimeMs() / 1000.0}
            )

    def _max_job(self) -> int:
        jobs = _jlist(self.spark, self._app_store.jobsList(None))
        return max((j.jobId() for j in jobs), default=-1)

    def _max_exec(self) -> int:
        execs = _jlist(self.spark, self._sql_store.executionsList())
        return max((e.executionId() for e in execs), default=-1)

    def drain(self) -> None:
        """Wait until the listener bus has delivered every pending event."""
        self._jsc.listenerBus().waitUntilEmpty()

    def collect(self) -> dict:
        """Jobs, stages, Catalyst phases and SQL metrics since the last call."""
        self.drain()
        jobs, stages = [], []
        for j in _jlist(self.spark, self._app_store.jobsList(None)):
            if j.jobId() <= self._last_job:
                continue
            jobs.append(
                {"job": j.jobId(), "start": _epoch(j.submissionTime()),
                 "end": _epoch(j.completionTime()), "tasks": j.numTasks(),
                 "failed_tasks": j.numFailedTasks()}
            )
            for sid in _jlist(self.spark, j.stageIds()):
                s = self._app_store.lastStageAttempt(sid)
                if str(s.status()) == "SKIPPED":
                    continue
                stages.append(
                    {"stage": sid, "job": j.jobId(), "start": _epoch(s.submissionTime()),
                     "end": _epoch(s.completionTime()), "tasks": s.numTasks(),
                     "task_s": s.executorRunTime() / 1000.0,
                     "shuffle_write_bytes": s.shuffleWriteBytes(),
                     "shuffle_read_bytes": s.shuffleReadBytes(),
                     "spill_bytes": s.memoryBytesSpilled() + s.diskBytesSpilled()}
                )
        if jobs:
            self._last_job = max(j["job"] for j in jobs)
        sql = {"python_nodes": 0, **{v: 0.0 for v in PYTHON_METRICS.values()}}
        newest = self._last_exec
        for e in _jlist(self.spark, self._sql_store.executionsList()):
            eid = e.executionId()
            if eid <= self._last_exec:
                continue
            newest = max(newest, eid)
            names = {m.accumulatorId(): m.name() for m in _jlist(self.spark, e.metrics())}
            values = _jlist(self.spark, self._sql_store.executionMetrics(eid))
            for acc in values.keySet():
                key = PYTHON_METRICS.get(names.get(acc, ""))
                if key:
                    sql[key] += parse_metric(values.get(acc))
                    if key == "python_bytes_sent":
                        sql["python_nodes"] += 1
        self._last_exec = newest
        phases, self.phases = self.phases, []
        return {"jobs": jobs, "stages": stages, "phases": phases, "sql": sql}


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by a set of possibly overlapping intervals."""
    total, cur_start, cur_end = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_end is None or s > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = s, e
        else:
            cur_end = max(cur_end, e)
    if cur_end is not None:
        total += cur_end - cur_start
    return total
