"""Spans around the engine's layers, Spark jobs and streaming
micro-batches from the event log, and the per-layer metrics derived
from them.

Tracing is measured from outside the engine: :func:`install` wraps the
public functions (and public methods of public classes) of the layer
modules and rebinds every name that engine modules imported, so calls
made through ``from ... import name`` in the suite are traced too.
Spans stay in memory until the run ends.

Span tree: query -> ``build`` / ``analyze`` / ``execute`` -> wrapped
layer calls -> Spark jobs. Spark jobs are read from the event log after
the session stops and are attributed, by time, to the innermost span
open at their submission: driver threads and ``foreachBatch``
callbacks do not inherit Spark job groups, so a job's own properties
cannot name its caller. ``analyze`` is split off the write's
``execute`` span after the run, at the time Spark's own planning
tracker says it finished planning the write (:class:`PlanningListener`).
"""

from __future__ import annotations

import bisect
import functools
import importlib
import inspect
import itertools
import json
import os
import pkgutil
import sys
import threading
import time
from datetime import datetime
from pathlib import Path

PKG = "isilon_hadoop_tools_spark"
LAYER_PACKAGES = ("sources", "operators", "multimodal", "plans", "streaming")
OPERATOR_MODULES = (
    "dedup",
    "similarity",
    "corpus",
    "analytics",
    "graph",
    "sketches",
    "snapshots",
    "allocate_ids",
    "reconcile",
)
ERROR_LAYERS = ("suite", "sources", "operators", "multimodal", "plans", "streaming")
# Spark's event-log timestamps are whole milliseconds.
CLOCK_SLACK_S = 0.002


class Span:
    __slots__ = ("id", "name", "layer", "func", "parent", "trace", "start",
                 "end", "error", "rows", "nbytes")

    def __init__(self, sid, name, layer, func, parent, trace):
        self.id = sid
        self.name = name
        self.layer = layer
        self.func = func
        self.parent = parent
        self.trace = trace
        self.start = time.time()
        self.end = None
        self.error = False
        self.rows = 0
        self.nbytes = 0

    def as_dict(self) -> dict:
        return {k: getattr(self, k) for k in self.__slots__}


class Tracer:
    """In-memory span recorder. Each thread keeps its own stack; a
    thread with an empty stack (a driver worker thread, a streaming
    ``foreachBatch`` callback) parents its spans under the innermost
    span of the thread that started the current query."""

    def __init__(self):
        self.enabled = False
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._query_stack: list[Span] | None = None
        self._trace = None

    def _stack(self) -> list[Span]:
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        return stack

    def open(self, name: str, layer: str, func: str = "") -> Span:
        stack = self._stack()
        parent = stack[-1] if stack else None
        if parent is None and self._query_stack:
            try:
                parent = self._query_stack[-1]
            except IndexError:  # the query thread popped meanwhile
                parent = None
        span = Span(next(self._ids), name, layer, func,
                    parent.id if parent else None, self._trace)
        stack.append(span)
        self.spans.append(span)
        return span

    def close(self, span: Span) -> None:
        span.end = time.time()
        stack = self._stack()
        if stack and stack[-1] is span:
            stack.pop()
        elif span in stack:
            stack.remove(span)

    def span(self, name: str, layer: str, func: str = ""):
        return _SpanContext(self, name, layer, func)

    def query(self, name: str, trace_id: int):
        """Root span of one query execution; its thread's stack is the
        fallback parent for spans opened on other threads."""
        self._trace = trace_id
        self._query_stack = self._stack()
        return _SpanContext(self, f"query.{name}", "suite", name)


class _SpanContext:
    def __init__(self, tracer, name, layer, func):
        self.tracer, self.name, self.layer, self.func = tracer, name, layer, func
        self.span = None

    def __enter__(self):
        if self.tracer.enabled:
            self.span = self.tracer.open(self.name, self.layer, self.func)
        return self.span

    def __exit__(self, exc_type, exc, tb):
        if self.span is not None:
            self.span.error = exc_type is not None
            self.tracer.close(self.span)
        return False


# ----------------------------------------------------------------- wrapping


def _layer_of(modname: str) -> str:
    rel = modname[len(PKG) + 1:]
    top = rel.split(".")[0]
    if top == "operators" or rel == "plans.state":
        return rel
    return top


def _layer_modules():
    for top in LAYER_PACKAGES:
        mod = importlib.import_module(f"{PKG}.{top}")
        yield mod
        if hasattr(mod, "__path__"):
            for info in pkgutil.iter_modules(mod.__path__):
                yield importlib.import_module(f"{mod.__name__}.{info.name}")


def _is_plain_function(obj) -> bool:
    # Spark UDF wrappers are functions too, but they are column
    # builders whose attributes Spark inspects; leave them alone.
    return inspect.isfunction(obj) and not hasattr(obj, "evalType")


def _dir_bytes(path: str) -> int:
    total = 0
    for base, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(base, f))
            except OSError:
                pass
    return total


def _parquet_files(path: str) -> set[str]:
    try:
        return {f for f in os.listdir(path) if f.endswith(".parquet")}
    except OSError:
        return set()


def _footer_rows(path: str, files) -> int:
    import pyarrow.parquet as pq

    return sum(pq.ParquetFile(os.path.join(path, f)).metadata.num_rows
               for f in files)


def _state_write_stats(method: str, path: str, result, before):
    """(rows, bytes) a ``ParquetState.write``/``append`` call put on
    disk, read from the table directory after the call returned."""
    if method == "write":
        return int(result or 0), _dir_bytes(path)
    new = _parquet_files(path) - before
    return (_footer_rows(path, new),
            sum(os.path.getsize(os.path.join(path, f)) for f in new))


def _wrap(tracer: Tracer, fn, name: str, layer: str):
    is_state_write = layer == "plans.state" and fn.__name__ in ("write", "append")
    sig = inspect.signature(fn)

    @functools.wraps(fn)
    def traced(*args, **kwargs):
        if not tracer.enabled:
            return fn(*args, **kwargs)
        before = path = None
        if is_state_write:
            bound = sig.bind(*args, **kwargs).arguments
            path = bound["self"]._path(bound["table"])
            before = _parquet_files(path)
        span = tracer.open(name, layer, fn.__name__)
        try:
            result = fn(*args, **kwargs)
        except BaseException:
            span.error = True
            raise
        finally:
            tracer.close(span)
        if is_state_write:
            span.rows, span.nbytes = _state_write_stats(
                fn.__name__, path, result, before)
        return result

    return traced


def install(tracer: Tracer) -> None:
    """Wrap every public function of the layer modules and rebind each
    engine-module name bound to one of them."""
    wrapped: dict[int, object] = {}
    for mod in _layer_modules():
        layer = _layer_of(mod.__name__)
        for attr, obj in list(vars(mod).items()):
            if attr.startswith("_") or getattr(obj, "__module__", None) != mod.__name__:
                continue
            if _is_plain_function(obj):
                if id(obj) not in wrapped:
                    wrapped[id(obj)] = _wrap(tracer, obj, f"{layer}.{attr}", layer)
            elif inspect.isclass(obj):
                for meth, fn in list(vars(obj).items()):
                    if not meth.startswith("_") and _is_plain_function(fn):
                        setattr(obj, meth, _wrap(tracer, fn, f"{layer}.{meth}", layer))
    for modname, mod in list(sys.modules.items()):
        if mod is None or not (modname == PKG or modname.startswith(PKG + ".")):
            continue
        for attr, obj in list(vars(mod).items()):
            if inspect.isfunction(obj) and id(obj) in wrapped:
                setattr(mod, attr, wrapped[id(obj)])


# ------------------------------------------------------- Spark's own timings


class PlanningListener:
    """A ``QueryExecutionListener``, implemented over the Py4J callback
    server, that records when Spark finished planning each query it
    ran (the end of the query's ``planning`` phase, epoch seconds)."""

    def __init__(self):
        self.planned: list[float] = []

    def onSuccess(self, func_name, qe, duration_ns):  # noqa: N802 — Java interface
        self._record(qe)

    def onFailure(self, func_name, qe, exception):  # noqa: N802 — Java interface
        self._record(qe)

    def _record(self, qe) -> None:
        phase = qe.tracker().phases().get("planning")
        if phase.isDefined():
            self.planned.append(phase.get().endTimeMs() / 1000.0)

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


def listen_planning(spark) -> PlanningListener:
    from pyspark.java_gateway import ensure_callback_server_started

    ensure_callback_server_started(spark.sparkContext._gateway)
    listener = PlanningListener()
    spark._jsparkSession.listenerManager().register(listener)
    return listener



STREAM_PROGRESS = "org.apache.spark.sql.streaming.StreamingQueryListener$QueryProgressEvent"


def read_eventlog(eventlog_dir: str) -> tuple[list[dict], list[dict]]:
    """Jobs and streaming micro-batches from the Spark event log(s)
    under ``eventlog_dir``. A job has its interval (epoch seconds),
    tasks run and task metrics; a batch its start (epoch seconds),
    input rows and the time its sink took (``addBatch``, seconds)."""
    jobs: dict[int, dict] = {}
    batches: list[dict] = []
    stage_job: dict[int, int] = {}
    for path in sorted(Path(eventlog_dir).iterdir()):
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == STREAM_PROGRESS:
                    pr = ev["progress"]
                    batches.append({
                        "start": datetime.fromisoformat(pr["timestamp"]).timestamp(),
                        "rows": sum(src.get("numInputRows", 0) for src in pr["sources"]),
                        "sink_s": pr["durationMs"].get("addBatch", 0) / 1000.0,
                    })
                elif kind == "SparkListenerJobStart":
                    jid = ev["Job ID"]
                    jobs[jid] = {
                        "id": jid, "start": ev["Submission Time"] / 1000.0,
                        "end": None, "tasks": 0, "task_s": 0.0,
                        "shuffle_write_bytes": 0, "spill_bytes": 0,
                        "input_bytes": 0, "failed_tasks": 0, "failed_stages": 0,
                    }
                    for sid in ev.get("Stage IDs", ()):
                        stage_job[sid] = jid
                elif kind == "SparkListenerJobEnd":
                    job = jobs.get(ev["Job ID"])
                    if job is not None:
                        job["end"] = ev["Completion Time"] / 1000.0
                elif kind == "SparkListenerTaskEnd":
                    job = jobs.get(stage_job.get(ev["Stage ID"]))
                    if job is None:
                        continue
                    info = ev.get("Task Info") or {}
                    tm = ev.get("Task Metrics") or {}
                    job["tasks"] += 1
                    job["failed_tasks"] += bool(info.get("Failed"))
                    job["task_s"] += tm.get("Executor Run Time", 0) / 1000.0
                    job["shuffle_write_bytes"] += (
                        tm.get("Shuffle Write Metrics") or {}
                    ).get("Shuffle Bytes Written", 0)
                    job["spill_bytes"] += tm.get("Disk Bytes Spilled", 0)
                    job["input_bytes"] += (tm.get("Input Metrics") or {}).get(
                        "Bytes Read", 0)
                elif kind == "SparkListenerStageCompleted":
                    info = ev.get("Stage Info") or {}
                    job = jobs.get(stage_job.get(info.get("Stage ID")))
                    if job is not None and "Failure Reason" in info:
                        job["failed_stages"] += 1
    return [j for j in jobs.values() if j["end"] is not None], batches


# ------------------------------------------------------------------ metrics


def _union(intervals) -> list[tuple[float, float]]:
    merged: list[list[float]] = []
    for s, e in sorted(intervals):
        if merged and s <= merged[-1][1]:
            merged[-1][1] = max(merged[-1][1], e)
        else:
            merged.append([s, e])
    return [(s, e) for s, e in merged]


def _covered(intervals, lo: float, hi: float) -> float:
    clipped = [(max(s, lo), min(e, hi)) for s, e in intervals]
    return sum(e - s for s, e in _union((s, e) for s, e in clipped if e > s))


def split_execute(spans: list[Span], planned: list[float]) -> None:
    """Split each ``suite.execute`` span where Spark finished planning
    the first query it ran inside it, the write: before that Spark
    analyzed, optimized and planned the write (a new ``suite.analyze``
    span), after it Spark ran it. ``planned`` holds the sorted
    planning end times of :class:`PlanningListener`."""
    next_id = max((s.id for s in spans), default=0) + 1
    for ex in [s for s in spans if s.name == "suite.execute"]:
        i = bisect.bisect_left(planned, ex.start - CLOCK_SLACK_S)
        t = planned[i] if i < len(planned) and planned[i] <= ex.end else ex.start
        t = min(max(t, ex.start), ex.end)
        an = Span(next_id, "suite.analyze", "suite", "analyze", ex.parent, ex.trace)
        next_id += 1
        an.start, an.end = ex.start, t
        ex.start = t
        for s in spans:
            if s.parent == ex.id and s.start < t:
                s.parent = an.id
        spans.append(an)


def attribute_jobs(spans: list[Span], jobs: list[dict]) -> None:
    """Set ``job["owner"]`` to the innermost span open at the job's
    submission (``None`` when no span was open)."""
    by_id = {s.id: s for s in spans}
    depth: dict[int, int] = {}

    def depth_of(s: Span) -> int:
        if s.id not in depth:
            p = by_id.get(s.parent)
            depth[s.id] = 0 if p is None else depth_of(p) + 1
        return depth[s.id]

    ordered = sorted(spans, key=lambda s: s.start)
    starts = [s.start for s in ordered]
    for job in jobs:
        t = job["start"]
        hi = bisect.bisect_right(starts, t + CLOCK_SLACK_S)
        best = None
        for s in ordered[:hi]:
            if s.end + CLOCK_SLACK_S >= t and (
                best is None or (depth_of(s), s.start) > (depth_of(best), best.start)
            ):
                best = s
        job["owner"] = best.id if best else None


def self_times(spans: list[Span], jobs: list[dict]) -> dict[int, float]:
    """Span duration minus the part covered by its child spans and the
    Spark jobs attributed to it."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append((s.start, s.end))
    for j in jobs:
        if j.get("owner") is not None:
            children.setdefault(j["owner"], []).append((j["start"], j["end"]))
    return {
        s.id: max(0.0, (s.end - s.start) - _covered(children.get(s.id, ()), s.start, s.end))
        for s in spans
    }


def layer_metrics(spans: list[Span], jobs: list[dict], batches: list[dict],
                  passes: float, cores: int, setup_spans: list[Span]) -> dict[str, float]:
    """Per-pass layer metrics of one traced timed phase. ``spans``,
    ``jobs`` and ``batches`` are already restricted to that phase. The suite memoizes
    table loads per session, so ``sources.load_table`` comes from the
    set-up passes (``setup_spans``), as a total, not per pass."""
    attribute_jobs(spans, jobs)
    self_s = self_times(spans, jobs)
    by_id = {s.id: s for s in spans}
    per = 1.0 / passes if passes else 0.0
    m: dict[str, float] = {}

    def layer_spans(prefix):
        return [s for s in spans if s.layer == prefix or s.layer.startswith(prefix + ".")]

    phases = {p: [s for s in spans if s.name == f"suite.{p}"]
              for p in ("build", "analyze", "execute")}
    for p, ss in phases.items():
        m[f"suite.{p}_s"] = per * sum(s.end - s.start for s in ss)

    loads = [s for s in setup_spans if s.name == "sources.load_table"]
    m["sources.load_table.calls"] = len(loads)
    m["sources.load_table.s"] = sum(s.end - s.start for s in loads)

    owner_layer = {}
    for j in jobs:
        owner = by_id.get(j.get("owner"))
        owner_layer[j["id"]] = owner.layer if owner else None
    for mod in OPERATOR_MODULES:
        layer = f"operators.{mod}"
        ss = [s for s in spans if s.layer == layer]
        m[f"{layer}.calls"] = per * len(ss)
        m[f"{layer}.self_s"] = per * sum(self_s[s.id] for s in ss)
        m[f"{layer}.jobs"] = per * sum(1 for j in jobs if owner_layer[j["id"]] == layer)
    m["multimodal.self_s"] = per * sum(self_s[s.id] for s in layer_spans("multimodal"))

    writes = [s for s in spans if s.layer == "plans.state" and s.func in ("write", "append")]
    m["plans.state.writes"] = per * len(writes)
    m["plans.state.write_s"] = per * sum(s.end - s.start for s in writes)
    m["plans.state.rows_written"] = per * sum(s.rows for s in writes)
    m["plans.state.bytes_written"] = per * sum(s.nbytes for s in writes)

    kids: dict[int, list[Span]] = {}
    for s in spans:
        kids.setdefault(s.parent, []).append(s)

    m["streaming.batches"] = per * len(batches)
    m["streaming.nonempty_batch_frac"] = (
        sum(b["rows"] > 0 for b in batches) / len(batches) if batches else 0.0)
    m["streaming.apply_batch_s"] = per * sum(b["sink_s"] for b in batches)

    for layer in ERROR_LAYERS:
        # an error counts once, at the innermost span of the layer
        # that raised it, not again at every enclosing span
        m[f"{layer}.errors"] = per * sum(
            1 for s in layer_spans(layer)
            if s.error and not any(k.error and (k.layer == layer or k.layer.startswith(layer + "."))
                                   for k in kids.get(s.id, ())))

    queries = [s for s in spans if s.name.startswith("query.")]
    job_iv = [(j["start"], j["end"]) for j in jobs]
    busy_s = sum(e - s for s, e in _union(job_iv))
    task_s = sum(j["task_s"] for j in jobs)
    m["spark.jobs"] = per * len(jobs)
    m["spark.one_task_jobs"] = per * sum(1 for j in jobs if j["tasks"] == 1)
    m["spark.driver_gap_s"] = per * sum(
        (q.end - q.start) - _covered(job_iv, q.start, q.end) for q in queries)
    m["spark.task_s"] = per * task_s
    m["spark.executor_util"] = task_s / (busy_s * cores) if busy_s else 0.0
    for key in ("shuffle_write_bytes", "spill_bytes", "input_bytes",
                "failed_tasks", "failed_stages"):
        m[f"spark.{key}"] = per * sum(j[key] for j in jobs)

    q_iv = _union((q.start, q.end) for q in queries)
    job_wall = sum(e - s for s, e in job_iv)
    m["trace.job_wall_in_query_frac"] = (
        sum(_covered(q_iv, s, e) for s, e in job_iv) / job_wall if job_wall else 1.0)
    covers = []
    for q in queries:
        wall = q.end - q.start
        phase_s = sum(k.end - k.start for k in kids.get(q.id, ()) if k.name.startswith("suite."))
        covers.append(phase_s / wall if wall > 0 else 1.0)
    m["trace.phase_cover_min"] = min(covers) if covers else 0.0
    m["trace.spans"] = per * len(spans)
    return m


def write_spans(path: Path, spans: list[Span], jobs: list[dict],
                batches: list[dict]) -> None:
    with open(path, "w") as fh:
        for s in spans:
            fh.write(json.dumps({"kind": "span", **s.as_dict()}) + "\n")
        for j in jobs:
            fh.write(json.dumps({"kind": "job", **j}) + "\n")
        for b in batches:
            fh.write(json.dumps({"kind": "batch", **b}) + "\n")
