"""Tracing for the per-layer run: spans from the benchmark's own wrappers,
Catalyst phases from a query-execution listener, executor and SQL metrics
folded from Spark's event log.

Nothing here edits the program.  ``Tracer.install`` replaces the public
functions of each layer's module (and every other module-level reference
to them) with timing wrappers, and restores them in ``uninstall``.  A
wrapper keeps the original's ``__module__`` and ``__qualname__``, so a
Python kernel that refers to a wrapped function is still pickled by
reference and runs the original on the workers.

Each span sets the job description ``<workload>:<query>:<span>``, so the
event log attributes every job to the innermost span open when it was
submitted, eager jobs fired inside builders included.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import inspect
import json
import os
import sys
import time
from collections import defaultdict

# module -> layer whose builders its public functions are
LAYER_MODULES = {
    "datacube_core_spark.sources.pages": "sources",
    "datacube_core_spark.sources.corpus": "sources",
    "datacube_core_spark.sources.regions": "sources",
    "datacube_core_spark.operators.pip": "pip",
    "datacube_core_spark.operators.s2pip": "pip",
    "datacube_core_spark.operators.ghpip": "pip",
    "datacube_core_spark.operators.knn": "ops.knn",
    "datacube_core_spark.operators.dedup": "ops.dedup",
    "datacube_core_spark.operators.graph": "ops.graph",
    "datacube_core_spark.operators.similarity": "ops.similarity",
    "datacube_core_spark.sources.warc": "ops.warc",
    "datacube_core_spark.functions.robots": "ops.robots",
}
PIP_CLASSES = {
    "datacube_core_spark.operators.pip": "PipIndex",
    "datacube_core_spark.operators.s2pip": "S2PipIndex",
    "datacube_core_spark.operators.ghpip": "GeohashPipIndex",
}
_INHERITED = object()
OP_LAYERS = ("pip", "ops.knn", "ops.dedup", "ops.graph", "ops.similarity", "ops.warc", "ops.robots")


def _is_index_accessor(name: str) -> bool:
    # the entry module's per-session index memos (_pip_index, _s2pip_index, ...)
    return name.startswith("_") and name.endswith("_index")


class _CatalystListener:
    """py4j implementation of ``QueryExecutionListener``: records the
    analysis/optimization/planning phases of every query execution."""

    def __init__(self, sink: list):
        self.sink = sink

    def _record(self, qe) -> None:
        phases = {}
        start = None
        it = qe.tracker().phases().iterator()
        while it.hasNext():
            kv = it.next()
            summary = kv._2()
            phases[kv._1()] = summary.endTimeMs() - summary.startTimeMs()
            start = summary.startTimeMs() if start is None else min(start, summary.startTimeMs())
        self.sink.append((start, phases))

    def onSuccess(self, func_name, qe, duration_ns):  # noqa: N802 (Java interface)
        self._record(qe)

    def onFailure(self, func_name, qe, exception):  # noqa: N802
        self._record(qe)

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


class Tracer:
    def __init__(self, workload: str):
        self.workload = workload
        self.query = "-"
        self.spans: list[dict] = []
        self.catalyst: list = []
        self.stored: list[tuple[float, float]] = []  # (epoch s, MB in block storage)
        self._stack: list[int] = []
        self._patches: list[tuple[object, str, object]] = []
        self._sc = None
        self._listener = None
        self._jsession = None

    # -- spans ------------------------------------------------------------
    @contextlib.contextmanager
    def span(self, name: str, layer: str | None = None):
        rec = {"name": name, "layer": layer or name.split(".")[0], "query": self.query,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.time(), "end": None}
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        self._describe(name)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            rec["end"] = rec["start"] + (time.perf_counter() - t0)
            self._stack.pop()
            self._describe(self.spans[self._stack[-1]]["name"] if self._stack else "action")

    def _describe(self, span_name: str) -> None:
        if self._sc is not None:
            self._sc.setJobDescription(f"{self.workload}:{self.query}:{span_name}")

    def _wrapper(self, fn, name: str, layer: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name, layer):
                return fn(*args, **kwargs)
        return traced

    # -- install / uninstall ------------------------------------------------
    def _patch(self, owner, attr: str, new) -> None:
        self._patches.append((owner, attr, vars(owner).get(attr, _INHERITED)))
        setattr(owner, attr, new)

    def install(self, spark, entry_mod) -> None:
        from pyspark.java_gateway import ensure_callback_server_started

        self._sc = spark.sparkContext
        replaced: dict[int, object] = {}
        for mod_name, layer in LAYER_MODULES.items():
            mod = importlib.import_module(mod_name)
            for name, fn in list(vars(mod).items()):
                if name.startswith("_") or not inspect.isfunction(fn) or fn.__module__ != mod_name:
                    continue
                wrapped = self._wrapper(fn, f"{layer}.{name}", layer)
                replaced[id(fn)] = wrapped
                self._patch(mod, name, wrapped)
            cls = getattr(mod, PIP_CLASSES.get(mod_name, ""), None)
            if cls is not None:
                self._patch(cls, "__init__", self._wrapper(cls.__init__, "pip.index_build", "pip"))
                self._patch(cls, "join", self._wrapper(cls.join, "pip.join_build", "pip"))
        # other modules' own references to the wrapped functions
        for mod_name, mod in list(sys.modules.items()):
            if mod is None or not (mod_name.startswith("datacube_core_spark") or mod is entry_mod):
                continue
            for name, obj in list(vars(mod).items()):
                if id(obj) in replaced and vars(mod)[name] is not replaced[id(obj)]:
                    self._patch(mod, name, replaced[id(obj)])
        for name, fn in list(vars(entry_mod).items()):
            if inspect.isfunction(fn) and _is_index_accessor(name):
                self._patch(entry_mod, name, self._wrapper(fn, "pip.index_lookup", "pip"))

        tracer = self
        probe = spark.range(0)
        DataFrame, DataFrameWriter = type(probe), type(probe.write)
        orig_ckpt = DataFrame.localCheckpoint

        @functools.wraps(orig_ckpt)
        def local_checkpoint(df, eager=True, *args, **kwargs):
            with tracer.span("materialize.eager" if eager else "materialize.lazy", "materialize"):
                return orig_ckpt(df, eager, *args, **kwargs)

        self._patch(DataFrame, "localCheckpoint", local_checkpoint)
        self._patch(DataFrameWriter, "parquet",
                    self._wrapper(DataFrameWriter.parquet, "write.parquet", "write"))

        ensure_callback_server_started(self._sc._gateway)
        self._listener = _CatalystListener(self.catalyst)
        self._jsession = spark._jsparkSession
        self._jsession.listenerManager().register(self._listener)

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            if orig is _INHERITED:
                delattr(owner, attr)
            else:
                setattr(owner, attr, orig)
        self._patches.clear()
        if self._listener is not None:
            try:
                # deliver queued listener callbacks before reading them
                self._sc._jsc.sc().listenerBus().waitUntilEmpty()
            except Exception:  # noqa: BLE001 - internal API; fall back to a grace period
                time.sleep(1.0)
            self._jsession.listenerManager().unregister(self._listener)
            self._listener = None
        if self._sc is not None:
            self._sc.setJobDescription(None)
        self._sc = None

    def gc_seconds(self) -> float:
        """Collection time of the driver JVM, which runs the tasks in local mode."""
        beans = self._sc._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        return sum(b.getCollectionTime() for b in beans) / 1e3

    def sample_storage(self) -> None:
        infos = self._sc._jsc.sc().getRDDStorageInfo()
        mb = sum(i.memSize() + i.diskSize() for i in infos) / 1e6
        self.stored.append((time.time(), mb))

    def write_spans(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"workload": self.workload, "spans": self.spans}, f)


# -- folding -----------------------------------------------------------------

def _in(t: float, window: tuple[float, float]) -> bool:
    return window[0] <= t < window[1]


def span_metrics(tracer: Tracer, windows: list[tuple[float, float]]) -> list[dict]:
    """Per-pass span aggregates: ``self:<layer>`` seconds (duration minus
    child spans) and ``calls:<span name>`` counts.  ``calls:pip.index_lookup``
    also counts index builds made outside any memo lookup."""
    spans = tracer.spans
    child_s = defaultdict(float)
    for s in spans:
        if s["parent"] is not None:
            child_s[s["parent"]] += s["end"] - s["start"]

    def under_lookup(s) -> bool:
        while s["parent"] is not None:
            s = spans[s["parent"]]
            if s["name"] == "pip.index_lookup":
                return True
        return False

    out = []
    for w in windows:
        m = defaultdict(float)
        for i, s in enumerate(spans):
            if not _in(s["start"], w):
                continue
            m[f"self:{s['layer']}"] += (s["end"] - s["start"]) - child_s[i]
            m[f"calls:{s['name']}"] += 1
            m[f"layer_calls:{s['layer']}"] += 1
            if s["name"] == "pip.index_build" and not under_lookup(s):
                m["calls:pip.index_lookup"] += 1
        out.append(m)
    return out


def _walk_plan(info: dict, acc: dict) -> None:
    for metric in info.get("metrics", []):
        acc[metric["accumulatorId"]] = (info["nodeName"], metric["name"], metric["metricType"])
    for child in info.get("children", []):
        _walk_plan(child, acc)


def _metric_value(kind: str, value: float) -> float:
    """SQL metric value in seconds (timings) or bytes (sizes)."""
    if kind == "timing":
        return value / 1e3
    if kind == "nsTiming":
        return value / 1e9
    return value


def fold_event_log(path: str, windows: list[tuple[float, float]],
                   build_spans: list[tuple[float, float]]) -> list[dict]:
    """Per-pass executor and SQL metrics from an uncompressed event log.

    ``windows`` are pass intervals in epoch seconds; a job, stage or task
    belongs to the pass in which it was submitted or launched.
    ``build_spans`` are the intervals of entry builders, for counting the
    jobs they fire eagerly.
    """
    accums: dict[int, tuple] = {}
    exec_start: dict[int, float] = {}
    task_updates: list[tuple[float, int, float]] = []
    driver_updates: list[tuple[int, int, float]] = []
    per = [defaultdict(float) for _ in windows]

    def slot(t_ms: float):
        t = t_ms / 1e3
        for i, w in enumerate(windows):
            if _in(t, w):
                return i
        return None

    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                i = slot(ev["Submission Time"])
                if i is not None:
                    m = per[i]
                    m["jobs"] += 1
                    t = ev["Submission Time"] / 1e3
                    if any(a <= t < b for a, b in build_spans):
                        m["eager_jobs"] += 1
            elif kind == "SparkListenerStageSubmitted":
                t = ev["Stage Info"].get("Submission Time")
                i = slot(t) if t is not None else None
                if i is not None:
                    per[i]["stages"] += 1
            elif kind == "SparkListenerTaskEnd":
                info, tm = ev["Task Info"], ev.get("Task Metrics") or {}
                i = slot(info["Launch Time"])
                if i is None:
                    continue
                m = per[i]
                m["tasks"] += 1
                m["task_s"] += tm.get("Executor Run Time", 0) / 1e3
                m["cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
                m["deser_s"] += tm.get("Executor Deserialize Time", 0) / 1e3
                rd = tm.get("Shuffle Read Metrics") or {}
                m["shuffle_read_b"] += rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0)
                m["shuffle_write_b"] += (tm.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                m["spill_b"] += tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0)
                for a in info.get("Accumulables", []):
                    if a.get("Metadata") == "sql" and "Update" in a:
                        task_updates.append((info["Launch Time"], int(a["ID"]), float(a["Update"])))
            elif kind.endswith("SQLExecutionStart"):
                exec_start[ev["executionId"]] = ev["time"]
                _walk_plan(ev["sparkPlanInfo"], accums)
            elif kind.endswith("SQLAdaptiveExecutionUpdate"):
                _walk_plan(ev["sparkPlanInfo"], accums)
            elif kind.endswith("SparkListenerDriverAccumUpdates"):
                for acc_id, value in ev["accumUpdates"]:
                    driver_updates.append((ev["executionId"], int(acc_id), float(value)))

    python_ids = [set() for _ in windows]

    def add_sql(i: int, acc_id: int, value: float) -> None:
        m = per[i]
        node, name, kind = accums.get(acc_id, ("", "", ""))
        is_python = "Python" in node or "Pandas" in node or "Arrow" in node
        if is_python and name == "time to run Python workers":
            m["python_s"] += _metric_value(kind, value)
            python_ids[i].add(acc_id)
        elif is_python and name == "data sent to Python workers":
            m["python_sent_b"] += value
        elif is_python and name == "data returned from Python workers":
            m["python_returned_b"] += value
        elif node == "BroadcastExchange" and name == "data size":
            m["broadcast_b"] += value
        elif node.startswith("Execute InsertInto") and name == "number of written files":
            m["written_files"] += value
        elif node.startswith("Execute InsertInto") and name == "written output":
            m["written_b"] += value

    for t_ms, acc_id, value in task_updates:
        add_sql(slot(t_ms), acc_id, value)
    for exec_id, acc_id, value in driver_updates:
        i = slot(exec_start.get(exec_id, 0))
        if i is not None:
            add_sql(i, acc_id, value)
    for m, ids in zip(per, python_ids):
        m["python_nodes"] = len(ids)
    return per


def catalyst_metrics(tracer: Tracer, windows: list[tuple[float, float]]) -> list[dict]:
    out = [defaultdict(float) for _ in windows]
    for start_ms, phases in tracer.catalyst:
        if start_ms is None:
            continue
        for i, w in enumerate(windows):
            if _in(start_ms / 1e3, w):
                for phase, ms in phases.items():
                    out[i][phase] += ms / 1e3
    return out
