"""Spans around calls into the program's public functions, and the
Spark status store read back per span.

A span records name, start, end, parent and the run id. Spans are kept
in memory and returned when the run ends. While a span is open on a
thread, that thread's Spark job description is set to the span's id,
so every SQL execution and job Spark starts inside it carries the id:
an execution belongs to the innermost span open when it started.
Self time is a span's duration minus the part of it covered by its
children (children may overlap, e.g. concurrent table writes).

The status store (``sharedState().statusStore()``) is readable with
the Spark UI disabled; its SQL metrics come back as display strings
("1.2 s", "5.6 MiB", "13,484"), which ``metric_value`` parses.
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import threading
import time
from dataclasses import dataclass, field

_DESC = "spark.job.description"


@dataclass
class Span:
    sid: int
    name: str
    parent: int | None
    start: float
    end: float = 0.0
    run_id: str = ""

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, spark, run_id: str):
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        # parent for spans opened on threads the program starts itself
        self._root: int | None = None

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextlib.contextmanager
    def span(self, name: str):
        stack = self._stack()
        parent = stack[-1] if stack else self._root
        sp = Span(next(self._ids), name, parent, time.perf_counter(), run_id=self.run_id)
        prev = self.sc.getLocalProperty(_DESC)
        self.sc.setLocalProperty(_DESC, f"pb:{sp.sid}")
        stack.append(sp.sid)
        root = not stack[:-1] and self._root is None
        if root:
            self._root = sp.sid
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            stack.pop()
            if root:
                self._root = None
            self.sc.setLocalProperty(_DESC, prev)
            with self._lock:
                self.spans.append(sp)

    def wrap(self, obj, attr: str, name):
        """Replace ``obj.attr`` with a wrapper that opens a span named
        ``name(*args, **kwargs)`` around each call; returns a function
        that restores the original."""
        orig = getattr(obj, attr)

        @functools.wraps(orig)
        def wrapper(*a, **kw):
            with self.span(name(*a, **kw)):
                return orig(*a, **kw)

        setattr(obj, attr, wrapper)
        return lambda: setattr(obj, attr, orig)

    def dump(self) -> list[dict]:
        """The spans as records, times in seconds from the first span."""
        t0 = min((s.start for s in self.spans), default=0.0)
        return [{"id": s.sid, "name": s.name, "parent": s.parent, "run_id": s.run_id,
                 "start": s.start - t0, "end": s.end - t0}
                for s in sorted(self.spans, key=lambda s: s.start)]

    # -- span arithmetic ------------------------------------------------

    def children(self, sid: int) -> list[Span]:
        return [s for s in self.spans if s.parent == sid]

    def self_time(self, sp: Span) -> float:
        return sp.duration - covered([(c.start, c.end) for c in self.children(sp.sid)],
                                     sp.start, sp.end)

    def descendants(self, sid: int) -> set[int]:
        out, todo = {sid}, [sid]
        while todo:
            p = todo.pop()
            for s in self.spans:
                if s.parent == p and s.sid not in out:
                    out.add(s.sid)
                    todo.append(s.sid)
        return out


def covered(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


# ---------------------------------------------------------------------------
# status store
# ---------------------------------------------------------------------------

_SIZE = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40}
_TIME = {"ms": 1e-3, "s": 1.0, "m": 60.0, "min": 60.0, "h": 3600.0}


def metric_value(text: str, mtype: str) -> float:
    """Parse one SQL metric display string into bytes, seconds or a
    count. Task-aggregated metrics read "total (min, med, max ...)\\n
    <total> (...)"; only the total is kept."""
    if "\n" in text:
        text = text.split("\n", 1)[1]
    text = text.split(" (", 1)[0].strip()
    if mtype == "size":
        num, unit = text.split()
        return float(num) * _SIZE[unit]
    if mtype in ("timing", "nsTiming"):
        num, unit = text.split()
        return float(num) * _TIME[unit]
    return float(text.replace(",", ""))


@dataclass
class Execution:
    eid: int
    description: str
    jobs: list[int]
    nodes: list = field(default_factory=list)  # [(node name, {metric: value})]

    def span_id(self) -> int | None:
        d = self.description or ""
        return int(d[3:]) if d.startswith("pb:") and d[3:].isdigit() else None


@dataclass
class Job:
    jid: int
    description: str
    start_ms: int
    end_ms: int
    tasks: int

    def span_id(self) -> int | None:
        d = self.description or ""
        return int(d[3:]) if d.startswith("pb:") and d[3:].isdigit() else None


class StatusStore:
    """Reads SQL executions and jobs newer than a mark."""

    def __init__(self, spark):
        self.spark = spark
        self.jsc = spark.sparkContext._jsc.sc()
        self.sql = spark._jsparkSession.sharedState().statusStore()
        self.conv = spark._jvm.scala.jdk.javaapi.CollectionConverters

    def drain(self) -> None:
        """Wait until the listener bus has delivered every event."""
        self.jsc.listenerBus().waitUntilEmpty()

    def mark(self) -> tuple[int, int]:
        self.drain()
        return self._max_exec(), self._max_job()

    def _max_exec(self) -> int:
        ex = self.sql.executionsList()
        return max((ex.apply(i).executionId() for i in range(ex.size())), default=-1)

    def _max_job(self) -> int:
        jobs = self.jsc.statusStore().jobsList(None)
        return max((jobs.apply(i).jobId() for i in range(jobs.size())), default=-1)

    def since(self, mark: tuple[int, int]) -> tuple[list[Execution], list[Job]]:
        self.drain()
        e0, j0 = mark
        execs = []
        ex = self.sql.executionsList()
        for i in range(ex.size()):
            e = ex.apply(i)
            eid = e.executionId()
            if eid <= e0:
                continue
            execs.append(self._execution(e, eid))
        jobs = []
        js = self.jsc.statusStore().jobsList(None)
        for i in range(js.size()):
            j = js.apply(i)
            if j.jobId() <= j0:
                continue
            desc = j.description()
            sub, end = j.submissionTime(), j.completionTime()
            jobs.append(Job(
                j.jobId(),
                desc.get() if desc.isDefined() else "",
                sub.get().getTime() if sub.isDefined() else 0,
                end.get().getTime() if end.isDefined() else 0,
                j.numCompletedTasks(),
            ))
        return sorted(execs, key=lambda x: x.eid), sorted(jobs, key=lambda x: x.jid)

    def _execution(self, e, eid: int) -> Execution:
        values = self.conv.asJava(self.sql.executionMetrics(eid))
        nodes = []
        graph = self.sql.planGraph(eid).allNodes()
        for i in range(graph.size()):
            n = graph.apply(i)
            ms = n.metrics()
            vals = {}
            for k in range(ms.size()):
                m = ms.apply(k)
                text = values.get(m.accumulatorId())
                if text:
                    try:
                        vals[m.name()] = metric_value(text, m.metricType())
                    except (ValueError, KeyError):
                        continue
            nodes.append((n.name(), vals))
        job_ids = list(self.conv.asJava(e.jobs()).keys())
        return Execution(eid, e.description() or "", job_ids, nodes=nodes)


def attribute(execs: list[Execution], jobs: list[Job], default: int | None):
    """Map span id -> its executions and jobs (by job description);
    anything without a span id goes to ``default``."""
    by_exec: dict[int | None, list[Execution]] = {}
    by_job: dict[int | None, list[Job]] = {}
    for e in execs:
        by_exec.setdefault(e.span_id() or default, []).append(e)
    for j in jobs:
        by_job.setdefault(j.span_id() or default, []).append(j)
    return by_exec, by_job


_JOINS = ("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin",
          "BroadcastNestedLoopJoin", "CartesianProduct")


def exec_totals(execs: list[Execution]) -> dict:
    """Per-op totals over a list of executions."""
    t = {
        "shuffle_bytes": 0.0, "shuffle_records": 0.0, "fetch_wait_s": 0.0, "spill_bytes": 0.0,
        "python_worker_s": 0.0, "python_bytes": 0.0,
        "broadcast_collect_s": 0.0, "broadcast_build_s": 0.0,
        "files_read": 0.0, "max_join_rows": 0.0,
    }
    for e in execs:
        for name, v in e.nodes:
            if name.startswith("Exchange"):
                t["shuffle_bytes"] += v.get("shuffle bytes written", 0.0)
                t["shuffle_records"] += v.get("shuffle records written", 0.0)
                t["fetch_wait_s"] += v.get("fetch wait time", 0.0)
            t["spill_bytes"] += v.get("spill size", 0.0)
            if name.startswith(("ArrowEvalPython", "BatchEvalPython", "MapInPandas",
                                "MapInArrow", "FlatMapGroupsInPandas")):
                t["python_worker_s"] += v.get("time to run Python workers", 0.0)
                t["python_bytes"] += (v.get("data sent to Python workers", 0.0)
                                      + v.get("data returned from Python workers", 0.0))
            if name.startswith("BroadcastExchange"):
                t["broadcast_collect_s"] += v.get("time to collect", 0.0)
                t["broadcast_build_s"] += v.get("time to build", 0.0)
            if name.startswith("Scan"):
                t["files_read"] += v.get("number of files read", 0.0)
            if name.startswith(_JOINS):
                t["max_join_rows"] = max(t["max_join_rows"], v.get("number of output rows", 0.0))
    return t
