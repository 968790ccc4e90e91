"""Per-layer tracing from outside the package.

A layer is one module of ``dbscan_pyspark_spark``. While a ``Tracer`` is
installed, every public function defined in a layer's modules is
replaced, in every loaded package module, by a wrapper that records a
span (layer, function, parent span, thread, start, end) and tags the
Spark jobs submitted under it with the span id as the job description.
After the traced run, ``harvest`` reads jobs and stages from Spark's own
status store, and ``layer_metrics`` charges each job and stage to the
span that submitted it:

- by its description when a wrapper set one on the submitting thread;
- otherwise by time, to the innermost main-thread span open when it was
  submitted (operator thread pools submit without a description).

Self time is a span's duration minus the union of its child spans;
driver time is self time during which none of the span's own jobs ran.
Spans live in memory only; nothing is written while the run is timed.
The time the tracer spends opening and closing spans (mostly the Py4J
call that sets the job description) is its overhead, ``trace.overhead_s``.
"""

from __future__ import annotations

import importlib
import sys
import threading
import time
import types

PACKAGE = "dbscan_pyspark_spark"

LAYERS = {
    "session": ["session"],
    "sources": ["sources.tables", "sources.io", "sources.synthetic"],
    "eps_join": ["operators.eps_join"],
    "components": ["operators.components"],
    "dbscan": ["operators.dbscan"],
    "anonymize": ["operators.anonymize"],
    "kmember": ["operators.kmember"],
    "kmeans": ["operators.kmeans"],
    "dedup": ["operators.dedup"],
    "similarity": ["operators.similarity"],
}

LAYER_FIELDS = [
    ("calls", "count"),
    ("self_s", "s"),
    ("driver_s", "s"),
    ("jobs", "count"),
    ("tasks", "count"),
    ("task_cpu_s", "s"),
    ("shuffle_mb", "MB"),
    ("spill_mb", "MB"),
    ("failed_tasks", "count"),
]

# Decision and overhead counts read from outside the layers' code.
EXTRA_FIELDS = [
    ("eps_join.plan_s", "s"),
    ("components.driver_path", "count"),
    ("dbscan.half_pair_calls", "count"),
    ("anonymize.sweep_cc_calls", "count"),
    ("kmember.n_iter", "count"),
    ("kmember.jobs_per_iter", "count"),
    ("trace.overhead_s", "s"),
]

_TAG = "perfbench-span:"
_MB = 1024.0 * 1024.0


def metric_units() -> dict[str, str]:
    """Every per-layer metric name with its unit, in report order."""
    out = {f"{layer}.{f}": unit for layer in LAYERS for f, unit in LAYER_FIELDS}
    out.update(dict(EXTRA_FIELDS))
    return out


class Span:
    __slots__ = ("sid", "layer", "name", "parent", "main", "start", "end", "kwargs")

    def __init__(self, sid, layer, name, parent, main, kwargs):
        self.sid, self.layer, self.name = sid, layer, name
        self.parent, self.main, self.kwargs = parent, main, kwargs
        self.start = time.time()
        self.end = None


class _Traced:
    """Stand-in for one public function. Pickles as a reference to the
    original's module-level name, so Spark workers (which import the
    package unpatched) never see the wrapper."""

    def __init__(self, tracer, layer, fn):
        self._tracer, self._layer, self._fn = tracer, layer, fn
        self.__module__ = fn.__module__
        self.__qualname__ = self.__name__ = fn.__qualname__
        self.__doc__ = fn.__doc__
        self.__wrapped__ = fn

    def __call__(self, *args, **kwargs):
        with self._tracer.span(self._layer, self._fn.__name__, kwargs):
            return self._fn(*args, **kwargs)

    def __reduce__(self):
        return self.__qualname__


def _union(intervals):
    out = []
    for a, b in sorted(intervals):
        if out and a <= out[-1][1]:
            out[-1][1] = max(out[-1][1], b)
        else:
            out.append([a, b])
    return out


def _subtract(base, cuts):
    """Intervals of ``base`` (a sorted disjoint list) not covered by ``cuts``."""
    out = []
    cuts = _union(cuts)
    for a, b in base:
        cur = a
        for c, d in cuts:
            if d <= cur or c >= b:
                continue
            if c > cur:
                out.append([cur, c])
            cur = max(cur, d)
        if cur < b:
            out.append([cur, b])
    return out


def _length(intervals):
    return sum(b - a for a, b in intervals)


class Tracer:
    def __init__(self):
        self.spans: list[Span] = []
        self.jobs: list[dict] = []
        self.stages: list[dict] = []
        self.notes: dict[str, float] = {}
        self.driver_path_calls = 0
        self.overhead_s = 0.0
        self._local = threading.local()
        self._main_stack: list[Span] = []
        self._lock = threading.Lock()
        self._patched: list[tuple[object, str, object]] = []
        self._windows: list[list[float]] = []  # [install, uninstall] times

    # -- spans -------------------------------------------------------------

    def _stack(self) -> list[Span]:
        if threading.current_thread() is threading.main_thread():
            return self._main_stack
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def span(self, layer: str, name: str, kwargs=None):
        return _SpanCtx(self, layer, name, kwargs or {})

    def _open(self, layer, name, kwargs) -> Span:
        t0 = time.perf_counter()
        stack = self._stack()
        is_main = stack is self._main_stack
        if stack:
            parent = stack[-1]
        else:  # first span of a pool thread: child of the submitting span
            parent = self._main_stack[-1] if self._main_stack else None
        with self._lock:
            sp = Span(len(self.spans), layer, name, parent, is_main, kwargs)
            self.spans.append(sp)
        stack.append(sp)
        _set_description(_TAG + str(sp.sid))
        self._charge(t0)
        sp.start = time.time()
        return sp

    def _close(self, sp: Span) -> None:
        sp.end = time.time()
        t0 = time.perf_counter()
        stack = self._stack()
        stack.pop()
        parent = sp.parent
        _set_description(_TAG + str(parent.sid) if parent is not None else None)
        self._charge(t0)

    def _charge(self, t0) -> None:
        with self._lock:
            self.overhead_s += time.perf_counter() - t0

    # -- patching ----------------------------------------------------------

    def install(self) -> None:
        """Wrap every public function of every layer module, everywhere the
        package refers to it by name."""
        originals = {}
        for layer, mods in LAYERS.items():
            for rel in mods:
                mod = importlib.import_module(f"{PACKAGE}.{rel}")
                for name, obj in vars(mod).items():
                    if (
                        isinstance(obj, types.FunctionType)
                        and not name.startswith("_")
                        and obj.__module__ == mod.__name__
                    ):
                        originals[id(obj)] = _Traced(self, layer, obj)
        for modname, mod in list(sys.modules.items()):
            if mod is None or not (modname == PACKAGE or modname.startswith(PACKAGE + ".")):
                continue
            for name, obj in list(vars(mod).items()):
                wrapper = originals.get(id(obj))
                if wrapper is not None and wrapper._fn is obj:
                    self._patched.append((mod, name, obj))
                    setattr(mod, name, wrapper)
        # decision probe: the driver union-find path of connected_components
        comp = importlib.import_module(f"{PACKAGE}.operators.components")
        orig = comp._driver_union_find

        def _counted(*a, **kw):
            self.driver_path_calls += 1
            return orig(*a, **kw)

        self._patched.append((comp, "_driver_union_find", orig))
        comp._driver_union_find = _counted
        self._windows.append([time.time(), float("inf")])

    def uninstall(self) -> None:
        for mod, name, obj in reversed(self._patched):
            setattr(mod, name, obj)
        self._patched.clear()
        _set_description(None)
        self._windows[-1][1] = time.time()

    # -- status store ------------------------------------------------------

    def _traced(self, t) -> bool:
        return any(a <= t <= b for a, b in self._windows)

    def harvest(self, sc) -> None:
        """Copy the jobs and stages submitted while the tracer was installed
        out of this SparkContext's status store. Call before the context
        stops."""
        jvm = sc._jvm
        conv = jvm.scala.jdk.javaapi.CollectionConverters
        store = sc._jsc.sc().statusStore()
        for j in conv.asJava(store.jobsList(None)):
            sub, done = j.submissionTime(), j.completionTime()
            if not sub.isDefined() or not self._traced(sub.get().getTime() / 1000.0):
                continue
            desc = j.description()
            self.jobs.append({
                "desc": desc.get() if desc.isDefined() else None,
                "start": sub.get().getTime() / 1000.0,
                "end": (done.get().getTime() if done.isDefined() else sub.get().getTime()) / 1000.0,
            })
        quantiles = sc._gateway.new_array(jvm.double, 0)
        for s in conv.asJava(store.stageList(None, False, False, quantiles, None)):
            sub = s.submissionTime()
            # skipped stages never ran and carry no metrics
            if not sub.isDefined() or not self._traced(sub.get().getTime() / 1000.0):
                continue
            desc = s.description()
            self.stages.append({
                "desc": desc.get() if desc.isDefined() else None,
                "start": sub.get().getTime() / 1000.0,
                "tasks": s.numCompleteTasks() + s.numFailedTasks() + s.numKilledTasks(),
                "failed": s.numFailedTasks(),
                "cpu_s": s.executorCpuTime() / 1e9,
                "shuffle_mb": s.shuffleWriteBytes() / _MB,
                "spill_mb": s.diskBytesSpilled() / _MB,
            })

    # -- metrics -----------------------------------------------------------

    def _owner(self, desc, t):
        if desc is not None and desc.startswith(_TAG):
            return self.spans[int(desc[len(_TAG):])]
        best = None
        for sp in self.spans:
            if sp.main and sp.start <= t <= (sp.end or t) and (best is None or sp.start >= best.start):
                best = sp
        return best

    def _has_ancestor(self, sp, name) -> bool:
        p = sp.parent
        while p is not None:
            if f"{p.layer}.{p.name}" == name:
                return True
            p = p.parent
        return False

    def layer_metrics(self) -> dict[str, float]:
        per = {layer: dict.fromkeys((f for f, _ in LAYER_FIELDS), 0.0) for layer in LAYERS}
        children: dict[int, list] = {}
        for sp in self.spans:
            if sp.parent is not None:
                children.setdefault(sp.parent.sid, []).append([sp.start, sp.end])
        own_jobs: dict[int, list] = {}
        for j in self.jobs:
            sp = self._owner(j["desc"], j["start"])
            if sp is None:
                continue
            own_jobs.setdefault(sp.sid, []).append([j["start"], j["end"]])
            per[sp.layer]["jobs"] += 1
        for s in self.stages:
            sp = self._owner(s["desc"], s["start"])
            if sp is None:
                continue
            m = per[sp.layer]
            m["tasks"] += s["tasks"]
            m["failed_tasks"] += s["failed"]
            m["task_cpu_s"] += s["cpu_s"]
            m["shuffle_mb"] += s["shuffle_mb"]
            m["spill_mb"] += s["spill_mb"]
        plan_s = 0.0
        for sp in self.spans:
            m = per[sp.layer]
            m["calls"] += 1
            self_iv = _subtract([[sp.start, sp.end]], children.get(sp.sid, []))
            m["self_s"] += _length(self_iv)
            m["driver_s"] += _length(_subtract(self_iv, own_jobs.get(sp.sid, [])))
            if sp.layer == "eps_join":
                plan_s += sp.end - sp.start
        out = {f"{layer}.{f}": v for layer, m in per.items() for f, v in m.items()}
        n_iter = self.notes.get("kmember.n_iter", 0)
        out.update({
            "eps_join.plan_s": plan_s,
            "components.driver_path": self.driver_path_calls,
            "dbscan.half_pair_calls": sum(
                1 for sp in self.spans
                if sp.layer == "eps_join" and sp.kwargs.get("unique_pairs")
                and self._has_ancestor(sp, "dbscan.dbscan")
            ),
            "anonymize.sweep_cc_calls": sum(
                1 for sp in self.spans
                if sp.layer == "components" and sp.name == "connected_components"
                and self._has_ancestor(sp, "anonymize.eps_sweep")
            ),
            "kmember.n_iter": n_iter,
            "kmember.jobs_per_iter": per["kmember"]["jobs"] / n_iter if n_iter else 0.0,
            "trace.overhead_s": self.overhead_s,
        })
        return out


class _SpanCtx:
    def __init__(self, tracer, layer, name, kwargs):
        self.tracer, self.layer, self.name, self.kwargs = tracer, layer, name, kwargs

    def __enter__(self):
        self.sp = self.tracer._open(self.layer, self.name, self.kwargs)
        return self.sp

    def __exit__(self, *exc):
        self.tracer._close(self.sp)
        return False


def _set_description(value) -> None:
    from pyspark import SparkContext

    sc = SparkContext._active_spark_context
    if sc is not None:
        sc.setLocalProperty("spark.job.description", value)


class NullTracer:
    """The untraced run: spans cost one no-op context manager."""

    def __init__(self):
        self.notes: dict[str, float] = {}

    def span(self, layer, name, kwargs=None):
        return _NULL


class _Null:
    def __enter__(self):
        return None

    def __exit__(self, *exc):
        return False


_NULL = _Null()
