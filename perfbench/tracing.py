"""Tracing for the per-layer run: spans, py4j counts, Catalyst phases,
Spark stage metrics and streaming progress.

Nothing in the package changes. The tracer replaces the package's
public functions with wrappers that record a span around each call
(wherever the function is bound, so ``from x import f`` copies are
wrapped too), counts every py4j round trip by wrapping the gateway
client's ``send_command``, registers a ``QueryExecutionListener`` for
the Catalyst phase times of each executed query and a
``StreamingQueryListener`` for micro-batch progress, and runs every
operation under its own Spark job group. Stage and task metrics come
from the Spark UI's REST API on localhost once the run ends.

Spans stay in memory until ``dump``. Self time is a span's duration
minus the time its children cover.
"""

from __future__ import annotations

import contextlib
import datetime as dt
import functools
import inspect
import json
import sys
import threading
import time
import urllib.request

PKG = "cassandra_log_analyzer_mcp_spark"

#: layer -> (module, names). ``None`` wraps every public function the
#: module defines.
LAYERS = {
    "session": ("session", ["get_spark", "tune", "clear_caches"]),
    "api": ("api", ["analyze_cluster_report", "search_report",
                    "errors_report", "compare_report", "issues_report",
                    "health_report"]),
    "sources.logfiles": ("sources.logfiles", ["read_log_dir"]),
    "sources.tables": ("sources.tables", ["table", "documents", "logs",
                                          "logs_flagged"]),
    "functions.parsing": ("functions.parsing", None),
    "operators.analysis": ("operators.analysis", None),
    "streaming.batch_bridge": ("streaming.batch_bridge", None),
}
STORE_METHODS = ["add_glob", "add_pasted", "lines", "flagged", "nodes"]


class Span:
    __slots__ = ("sid", "name", "layer", "op", "parent", "start", "end",
                 "py4j", "children_s")

    def __init__(self, sid, name, layer, op, parent, start, py4j):
        self.sid, self.name, self.layer, self.op = sid, name, layer, op
        self.parent, self.start, self.end = parent, start, None
        self.py4j = py4j
        self.children_s = 0.0

    @property
    def dur(self) -> float:
        return self.end - self.start

    def as_dict(self) -> dict:
        return {"id": self.sid, "name": self.name, "layer": self.layer,
                "op": self.op, "parent": self.parent, "start": self.start,
                "end": self.end, "py4j_calls": self.py4j}


class Tracer:
    """Records spans for one traced window of a run."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self.ops: list[Span] = []
        self.op: Span | None = None
        self.py4j_calls = 0
        self.enabled = False
        self._local = threading.local()
        self._lock = threading.Lock()
        self._restore: list[tuple] = []
        #: per op id: Catalyst phases of each distinct executed query
        self.phases: dict[int, dict[int, dict]] = {}
        #: per op id: streaming progress events
        self.progress: dict[int, list[dict]] = {}
        #: (span name, whether the cached frame it returned was already
        #: materialized) per call of a flagged-frame builder
        self.cache_hits: list[tuple[str, bool]] = []

    # -- spans ---------------------------------------------------------
    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def begin(self, name: str, layer: str) -> Span:
        stack = self._stack()
        parent = stack[-1] if stack else self.op
        with self._lock:
            sp = Span(len(self.spans), name, layer,
                      self.op.sid if self.op else None,
                      parent.sid if parent else None, time.time(),
                      self.py4j_calls)
            self.spans.append(sp)
        stack.append(sp)
        return sp

    def finish(self, sp: Span) -> None:
        sp.end = time.time()
        sp.py4j = self.py4j_calls - sp.py4j
        stack = self._stack()
        stack.pop()
        parent = stack[-1] if stack else self.op
        if parent is not None and parent is not sp:
            with self._lock:
                parent.children_s += sp.dur

    def start_op(self, name: str) -> Span:
        """Top-level span of one client operation, under its own job
        group."""
        sp = Span(len(self.spans), name, "op", None, None, time.time(),
                  self.py4j_calls)
        sp.op = sp.sid
        self.spans.append(sp)
        self.ops.append(sp)
        self.op = sp
        self.sc.setJobGroup(f"perfbench-op-{sp.sid}", name)
        return sp

    def end_op(self, sp: Span) -> None:
        # drain the listener bus so every listener event of this op is
        # attributed to it
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        sp.end = time.time()
        sp.py4j = self.py4j_calls - sp.py4j
        for key in ("spark.jobGroup.id", "spark.job.description"):
            self.sc.setLocalProperty(key, None)
        self.op = None

    # -- wrapping ------------------------------------------------------
    def _wrapper(self, fn, name: str, layer: str):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not tracer.enabled:
                return fn(*args, **kwargs)
            sp = tracer.begin(name, layer)
            try:
                out = fn(*args, **kwargs)
            finally:
                tracer.finish(sp)
            if name in ("api.LogStore.flagged", "sources.tables.logs_flagged"):
                with tracer.muted():
                    tracer.cache_hits.append((name, tracer._was_loaded(out)))
            return out

        return traced

    def _was_loaded(self, df) -> bool:
        """Whether the cached frame a call returned was already
        materialized before the call (the call's data is then read
        from the in-memory relation, not rebuilt from the source)."""
        cm = self.spark._jsparkSession.sharedState().cacheManager()
        entry = cm.lookupCachedData(df._jdf)
        return bool(entry.isDefined() and entry.get().cachedRepresentation()
                    .cacheBuilder().isCachedColumnBuffersLoaded())

    @contextlib.contextmanager
    def muted(self):
        """py4j calls the tracer itself makes on this thread are not
        counted."""
        self._local.mute = True
        try:
            yield
        finally:
            self._local.mute = False

    def _patch(self, owner, attr: str, new) -> None:
        self._restore.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, new)

    def install(self) -> None:
        """Wrap the layers, the DataFrame actions and the py4j send;
        register the listeners."""
        import importlib

        from pyspark.java_gateway import ensure_callback_server_started
        from pyspark.sql.classic.dataframe import DataFrame
        from pyspark.sql.readwriter import DataFrameWriter

        for mod_name, _ in LAYERS.values():
            importlib.import_module(f"{PKG}.{mod_name}")
        pkg_mods = [m for n, m in list(sys.modules.items())
                    if n == PKG or n.startswith(PKG + ".")]
        for layer, (mod_name, names) in LAYERS.items():
            mod = sys.modules[f"{PKG}.{mod_name}"]
            if names is None:
                names = [n for n, f in vars(mod).items()
                         if inspect.isfunction(f) and not n.startswith("_")
                         and f.__module__ == mod.__name__]
            for n in names:
                orig = getattr(mod, n)
                wrapped = self._wrapper(orig, f"{layer}.{n}", layer)
                for m in pkg_mods:
                    for attr, val in list(vars(m).items()):
                        if val is orig:
                            self._patch(m, attr, wrapped)
        api = importlib.import_module(f"{PKG}.api")
        for n in STORE_METHODS:
            orig = getattr(api.LogStore, n)
            self._patch(api.LogStore, n,
                        self._wrapper(orig, f"api.LogStore.{n}", "api"))
        for cls, n in ((DataFrame, "collect"), (DataFrame, "count"),
                       (DataFrame, "toPandas"), (DataFrameWriter, "save")):
            self._patch(cls, n, self._wrapper(
                getattr(cls, n), f"spark.action.{n}", "spark.exec"))

        client = self.sc._gateway._gateway_client
        send = client.send_command

        def counted_send(*a, **kw):
            if not getattr(self._local, "mute", False):
                self.py4j_calls += 1
            return send(*a, **kw)

        self._patch(client, "send_command", counted_send)

        ensure_callback_server_started(self.sc._gateway)
        self.spark._jsparkSession.listenerManager().register(
            _PhaseListener(self))
        self.spark.streams.addListener(_progress_listener(self))

    def uninstall(self) -> None:
        for owner, attr, val in reversed(self._restore):
            setattr(owner, attr, val)
        self._restore.clear()
        self.enabled = False

    # -- Spark UI ------------------------------------------------------
    def _rest(self, path: str) -> list[dict]:
        port = self.sc.uiWebUrl.rsplit(":", 1)[1]
        url = (f"http://localhost:{port}/api/v1/applications/"
               f"{self.sc.applicationId}/{path}")
        with urllib.request.urlopen(url, timeout=30) as r:
            return json.load(r)

    def stage_metrics(self) -> dict[int, dict]:
        """Per op id: jobs, stages, tasks, task run/cpu time, bytes, and
        the union of its stage run intervals (for the driver gap)."""
        jobs = self._rest("jobs")
        stages = {s["stageId"]: s for s in self._rest("stages")
                  if s.get("status") == "COMPLETE"}
        per_op: dict[int, dict] = {
            op.sid: {"jobs": 0, "stages": 0, "tasks": 0, "task_run_s": 0.0,
                     "task_cpu_s": 0.0, "input_bytes": 0,
                     "shuffle_write_bytes": 0, "spill_bytes": 0,
                     "intervals": []}
            for op in self.ops
        }
        for j in jobs:
            t = _ts(j.get("submissionTime"))
            op = next((o for o in self.ops
                       if t is not None and o.start <= t <= o.end), None)
            if op is None:
                continue
            m = per_op[op.sid]
            m["jobs"] += 1
            for sid in j.get("stageIds", []):
                s = stages.get(sid)
                if s is None:
                    continue
                m["stages"] += 1
                m["tasks"] += s.get("numCompleteTasks", 0)
                m["task_run_s"] += s.get("executorRunTime", 0) / 1e3
                m["task_cpu_s"] += s.get("executorCpuTime", 0) / 1e9
                m["input_bytes"] += s.get("inputBytes", 0)
                m["shuffle_write_bytes"] += s.get("shuffleWriteBytes", 0)
                m["spill_bytes"] += (s.get("memoryBytesSpilled", 0)
                                     + s.get("diskBytesSpilled", 0))
                a, b = _ts(s.get("submissionTime")), _ts(s.get("completionTime"))
                if a is not None and b is not None:
                    m["intervals"].append((a, b))
        return per_op

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump({"spans": [s.as_dict() for s in self.spans],
                       "phases": {str(k): list(v.values())
                                  for k, v in self.phases.items()},
                       "progress": {str(k): v
                                    for k, v in self.progress.items()}},
                      fh)


def _ts(s: str | None) -> float | None:
    if not s:
        return None
    return dt.datetime.strptime(s.replace("GMT", "+0000"),
                                "%Y-%m-%dT%H:%M:%S.%f%z").timestamp()


class _PhaseListener:
    """``QueryExecutionListener``: Catalyst phase times per executed
    query, keyed by the query execution so repeated actions on one
    frame count once."""

    def __init__(self, tracer: Tracer):
        self.tracer = tracer

    def onSuccess(self, func_name, qe, duration_ns):  # noqa: N802
        op = self.tracer.op
        if op is None:
            return
        with self.tracer.muted():
            phases = qe.tracker().phases()
            row = {"action": func_name}
            for k in ("analysis", "optimization", "planning"):
                p = phases.get(k)
                row[k] = p.get().durationMs() if p.isDefined() else 0
            key = qe.hashCode()
        self.tracer.phases.setdefault(op.sid, {})[key] = row

    def onFailure(self, func_name, qe, exception):  # noqa: N802
        pass

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


def _progress_listener(tracer: Tracer):
    from pyspark.sql.streaming import StreamingQueryListener

    class Progress(StreamingQueryListener):
        def onQueryStarted(self, event):  # noqa: N802
            pass

        def onQueryProgress(self, event):  # noqa: N802
            op = tracer.op
            if op is None:
                return
            with tracer.muted():
                p = event.progress
                row = {
                    "run": str(p.runId),
                    "batch_ms": (p.durationMs or {}).get(
                        "triggerExecution", 0),
                    "input_rows": p.numInputRows,
                    "state_rows": sum(s.numRowsTotal
                                      for s in p.stateOperators),
                }
            tracer.progress.setdefault(op.sid, []).append(row)

        def onQueryIdle(self, event):  # noqa: N802
            pass

        def onQueryTerminated(self, event):  # noqa: N802
            pass

    return Progress()


def union_length(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total
