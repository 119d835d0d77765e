"""Spans and counters for the traced run.

Everything here lives in the benchmark, outside the engine: layer spans
come from wrapping the package's public functions at the layer
boundaries, and executor, Catalyst, plan and streaming counters are read
through py4j after each query execution. Nothing is installed in an
untraced run.

Span tree of one query execution (one trace)::

    query                      workload/pass/query
    +- plans.build             the registry builder call
    |  +- catalog.* sources.* operators.* frame.* cache.* streaming.*
    +- exec.action             collect()
"""

from __future__ import annotations

import contextlib
import functools
import inspect
import json
import sys
import threading
import time
from dataclasses import dataclass, field

#: package sub-packages spanned as layers. ``functions`` (UDF kernels) runs
#: inside executor tasks and is seen through the ``exec.*`` counters only;
#: ``plans`` is spanned once per builder call by the benchmark itself.
LAYERS = ("catalog", "sources", "operators", "frame", "cache", "streaming")
PKG = "lithops_dataframe_spark"

#: every per-layer metric, with its unit, in the order it is printed.
LAYER_METRICS = {
    "session.start_s": "s",
    "plans.build_s": "s",
    "plans.build_jobs": "count",
    "plans.build_stages": "count",
    "operators.build_s": "s",
    "frame.build_s": "s",
    "streaming.build_s": "s",
    "catalog.load_s": "s",
    "catalog.load_calls": "count",
    "sources.read_s": "s",
    "sources.write_s": "s",
    "sources.written_bytes": "bytes",
    "cache.persists": "count",
    "cache.cached_bytes": "bytes",
    "catalyst.analysis_ms": "ms",
    "catalyst.optimization_ms": "ms",
    "catalyst.planning_ms": "ms",
    "exec.action_s": "s",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.failed_tasks": "count",
    "exec.input_bytes": "bytes",
    "exec.shuffle_read_bytes": "bytes",
    "exec.shuffle_write_bytes": "bytes",
    "exec.spill_bytes": "bytes",
    "exec.executor_run_s": "s",
    "exec.executor_cpu_s": "s",
    "exec.gc_s": "s",
    "exec.slot_busy_frac": "ratio",
    "exec.broadcast_bytes": "bytes",
    "exec.reused_exchanges": "count",
    "collect.rows": "count",
    "streaming.epochs": "count",
    "streaming.trigger_ms": "ms",
    "streaming.add_batch_ms": "ms",
    "streaming.wal_commit_ms": "ms",
    "streaming.commit_offsets_ms": "ms",
    "driver.peak_rss_mb": "MB",
    "trace.spans": "count",
    "trace.overhead_frac": "ratio",
}

#: streaming progress ``durationMs`` key -> metric
_EPOCH_KEYS = {
    "triggerExecution": "streaming.trigger_ms",
    "addBatch": "streaming.add_batch_ms",
    "walCommit": "streaming.wal_commit_ms",
    "commitOffsets": "streaming.commit_offsets_ms",
}


@dataclass
class Span:
    trace: int
    id: int
    parent: int | None
    name: str
    layer: str
    start: float
    end: float = 0.0
    thread: int = 0
    label: str = ""


@dataclass
class Execution:
    """One traced query execution: its root span and the counters read for it."""

    trace: int
    root: Span
    counters: dict[str, float] = field(default_factory=dict)

    def add(self, key: str, value: float) -> None:
        self.counters[key] = self.counters.get(key, 0.0) + value


class Tracer:
    """Keeps spans in memory; one ``Execution`` is open at a time."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.executions: list[Execution] = []
        self.current: Execution | None = None
        self._ids = 0
        self._lock = threading.Lock()
        self._stacks = threading.local()

    def _stack(self) -> list[Span]:
        if not hasattr(self._stacks, "s"):
            self._stacks.s = []
        return self._stacks.s

    def begin(self, name: str, layer: str) -> Span | None:
        ex = self.current
        if ex is None:
            return None
        stack = self._stack()
        # A span opened on another thread (a micro-batch callback) hangs off
        # the execution's root span.
        parent = stack[-1].id if stack else ex.root.id
        with self._lock:
            self._ids += 1
            span = Span(ex.trace, self._ids, parent, name, layer, time.perf_counter(),
                        thread=threading.get_ident())
            self.spans.append(span)
        stack.append(span)
        return span

    def end(self, span: Span | None) -> None:
        if span is None:
            return
        span.end = time.perf_counter()
        stack = self._stack()
        if stack and stack[-1] is span:
            stack.pop()

    def start_execution(self, label: str) -> Execution:
        with self._lock:
            self._ids += 1
            root = Span(self._ids, self._ids, None, "query", "query", time.perf_counter(),
                        thread=threading.get_ident(), label=label)
            self.spans.append(root)
        ex = Execution(root.trace, root)
        self.executions.append(ex)
        self.current = ex
        self._stack().append(root)
        return ex

    def finish_execution(self, ex: Execution) -> None:
        self.end(ex.root)
        self.current = None

    def self_times(self, trace_ids: set[int]) -> dict[str, float]:
        """Self time per span name over the given traces: a span's duration
        minus the part of it that its same-thread children cover."""
        kids: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.trace in trace_ids and s.parent is not None:
                kids.setdefault(s.parent, []).append(s)
        out: dict[str, float] = {}
        for s in self.spans:
            if s.trace not in trace_ids:
                continue
            covered, last = 0.0, s.start
            for c in sorted((c for c in kids.get(s.id, []) if c.thread == s.thread), key=lambda c: c.start):
                lo, hi = max(c.start, last), min(c.end, s.end)
                if hi > lo:
                    covered += hi - lo
                    last = hi
            out[s.name] = out.get(s.name, 0.0) + (s.end - s.start - covered)
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s.__dict__) + "\n")


@contextlib.contextmanager
def span(tracer: Tracer | None, name: str, layer: str):
    """A span around the block when tracing; yields the ``Span`` or None."""
    s = tracer.begin(name, layer) if tracer else None
    try:
        yield s
    finally:
        if tracer:
            tracer.end(s)


def span_name(layer: str, fn_name: str) -> str:
    """``sources.write`` / ``sources.read``, ``cache.<function>``, ``catalog.load``,
    and ``<layer>.build`` for the builder layers."""
    if layer == "sources":
        return "sources.write" if "write" in fn_name else "sources.read"
    if layer == "cache":
        return f"cache.{fn_name}"
    return "catalog.load" if layer == "catalog" else f"{layer}.build"


def _wrap(tracer: Tracer, fn, layer: str):
    name = span_name(layer, fn.__name__)

    @functools.wraps(fn)
    def spanned(*args, **kwargs):
        with span(tracer, name, layer):
            return fn(*args, **kwargs)

    spanned.__perfbench_wrapped__ = True
    return spanned


def _layer_of(module_name: str) -> str | None:
    parts = module_name.split(".")
    if len(parts) < 2 or parts[0] != PKG:
        return None
    return parts[1] if parts[1] in LAYERS else None


def install_layer_spans(tracer: Tracer) -> list[tuple[object, str, object]]:
    """Wrap every public function and class method defined in a layer module,
    in its own module and wherever another package module imported it by
    name. Returns what ``remove_layer_spans`` needs to undo it."""
    wrapped: dict[int, object] = {}
    undo: list[tuple[object, str, object]] = []
    mods = [m for name, m in sorted(sys.modules.items()) if name.split(".")[0] == PKG and m is not None]
    for mod in mods:
        for attr, obj in list(vars(mod).items()):
            if attr.startswith("_"):
                continue
            if inspect.isfunction(obj) and not getattr(obj, "__perfbench_wrapped__", False):
                layer = _layer_of(obj.__module__)
                if layer is None:
                    continue
                if id(obj) not in wrapped:
                    wrapped[id(obj)] = _wrap(tracer, obj, layer)
                undo.append((mod, attr, obj))
                setattr(mod, attr, wrapped[id(obj)])
            elif inspect.isclass(obj) and obj.__module__ == mod.__name__ and _layer_of(mod.__name__):
                layer = _layer_of(mod.__name__)
                for mname, meth in list(vars(obj).items()):
                    if mname.startswith("_") or not inspect.isfunction(meth):
                        continue
                    if not getattr(meth, "__perfbench_wrapped__", False):
                        undo.append((obj, mname, meth))
                        setattr(obj, mname, _wrap(tracer, meth, layer))
    return undo


def remove_layer_spans(undo: list[tuple[object, str, object]]) -> None:
    for owner, attr, original in reversed(undo):
        setattr(owner, attr, original)


class JvmReader:
    """Reads executor, Catalyst and plan counters through py4j."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.jsc = self.sc._jsc.sc()
        self.dag = self.jsc.dagScheduler()
        self.store = self.jsc.statusStore()
        self.bus = self.jsc.listenerBus()

    def job_mark(self) -> int:
        return self.dag.numTotalJobs()

    def sync(self) -> None:
        """Wait until the listener bus has delivered every event posted so far."""
        self.bus.waitUntilEmpty()

    def stages(self, j0: int, j1: int) -> dict[str, float]:
        """Sum task metrics over the stages of jobs ``j0 .. j1-1`` (after ``sync``)."""
        ids: set[int] = set()
        for j in range(j0, j1):
            info = self.sc.statusTracker().getJobInfo(j)
            if info is not None:
                ids.update(info.stageIds)
        out = dict.fromkeys(
            ("stages", "tasks", "failed_tasks", "input_bytes", "output_bytes", "shuffle_read_bytes",
             "shuffle_write_bytes", "spill_bytes", "run_s", "cpu_s", "gc_s"), 0.0)
        out["jobs"] = float(j1 - j0)
        for sid in ids:
            sd = self.store.lastStageAttempt(sid)
            if sd.status().toString() == "SKIPPED":
                continue
            out["stages"] += 1
            out["tasks"] += sd.numCompleteTasks()
            out["failed_tasks"] += sd.numFailedTasks()
            out["input_bytes"] += sd.inputBytes()
            out["output_bytes"] += sd.outputBytes()
            out["shuffle_read_bytes"] += sd.shuffleReadBytes()
            out["shuffle_write_bytes"] += sd.shuffleWriteBytes()
            out["spill_bytes"] += sd.diskBytesSpilled()
            out["run_s"] += sd.executorRunTime() / 1e3
            out["cpu_s"] += sd.executorCpuTime() / 1e9
            out["gc_s"] += sd.jvmGcTime() / 1e3
        return out

    @staticmethod
    def phases(df) -> dict[str, float]:
        ph = df._jdf.queryExecution().tracker().phases()
        out = {}
        for k in ("analysis", "optimization", "planning"):
            opt = ph.get(k)
            out[k] = float(opt.get().durationMs()) if opt.isDefined() else 0.0
        return out

    @staticmethod
    def plan_counters(df) -> dict[str, float]:
        """Broadcast build size and reused exchanges on the final adaptive plan."""
        acc = {"broadcast_bytes": 0.0, "reused_exchanges": 0.0}
        todo = [df._jdf.queryExecution().executedPlan()]
        while todo:
            p = todo.pop()
            cls = p.getClass().getSimpleName()
            if cls == "AdaptiveSparkPlanExec":
                todo.append(p.executedPlan())
                continue
            if cls.endswith("QueryStageExec"):
                todo.append(p.plan())
                continue
            if cls == "ReusedExchangeExec":
                acc["reused_exchanges"] += 1
            elif cls == "BroadcastExchangeExec":
                m = p.metrics().get("dataSize")
                if m.isDefined():
                    acc["broadcast_bytes"] += m.get().value()
            it = p.children().iterator()
            while it.hasNext():
                todo.append(it.next())
        return acc

    def cached_bytes(self) -> float:
        return float(sum(r.memSize() + r.diskSize() for r in self.jsc.getRDDStorageInfo()))


def epoch_listener(tracer: Tracer):
    """A StreamingQueryListener that adds each micro-batch's durations to the
    execution that is running when its progress event arrives."""
    from pyspark.sql.streaming import StreamingQueryListener

    class EpochListener(StreamingQueryListener):
        def onQueryStarted(self, event) -> None:
            pass

        def onQueryProgress(self, event) -> None:
            ex = tracer.current
            if ex is None:
                return
            ex.add("streaming.epochs", 1)
            durations = event.progress.durationMs
            for key, metric in _EPOCH_KEYS.items():
                ex.add(metric, float(durations.get(key, 0)))

        def onQueryIdle(self, event) -> None:
            pass

        def onQueryTerminated(self, event) -> None:
            pass

    return EpochListener()


def nesting_errors(spans: list[dict]) -> list[str]:
    """Spans (as written by ``Tracer.write``) that do not lie inside their parent."""
    by_id = {s["id"]: s for s in spans}
    bad = []
    for s in spans:
        p = by_id.get(s["parent"]) if s["parent"] is not None else None
        if s["parent"] is not None and p is None:
            bad.append(f"span {s['id']} ({s['name']}) has no parent {s['parent']}")
        elif p is not None and not (p["start"] <= s["start"] <= s["end"] <= p["end"]):
            bad.append(f"span {s['id']} ({s['name']}) lies outside parent {p['id']} ({p['name']})")
    return bad
