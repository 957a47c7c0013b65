"""Spans around the engine's layer entry points, recorded from outside.

The tracer wraps the public functions of each engine layer (and the public
methods of the ``groupby`` classes) without editing the engine: it replaces
every reference to an entry point in the loaded ``pandas_plus_spark`` modules
and in the query registry with a wrapper, and restores the originals on
:meth:`Tracer.uninstall`. A span is ``(id, layer, name, start, end, parent,
query)``; spans live in memory and are written out once, at exit.

Self time follows the usual rule: a span's duration minus the part of it that
its child spans cover. Jobs launched inside an ``ordered``/``operators`` call
are read from the DAG scheduler's job counter, which every driver thread
shares, so the count does not depend on which thread submitted the job.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import inspect
import json
import sys
import threading
import time
from dataclasses import asdict, dataclass

from py4j.protocol import Py4JJavaError

# Layer -> engine modules whose public entry points belong to it.
LAYERS = {
    "sources": ("pandas_plus_spark.sources.tables",),
    "groupby": ("pandas_plus_spark.groupby.core",
                "pandas_plus_spark.groupby.pivot",
                "pandas_plus_spark.groupby.api"),
    "ordered": ("pandas_plus_spark.functions.ordered",),
    "functions": tuple(f"pandas_plus_spark.functions.{m}" for m in
                       ("text", "bpe", "sketches", "bloom", "binning",
                        "masks")),
    "operators": tuple(f"pandas_plus_spark.operators.{m}" for m in
                       ("classify", "cleaning", "corpus", "dedup", "graph",
                        "joins", "multimodal", "packing", "pdftext",
                        "ranking", "sampling", "similarity")),
    "util": ("pandas_plus_spark.util",),
    "plans": ("pandas_plus_spark.plans.lint",),
}
# Layers whose calls may launch Spark jobs while the plan is being built.
JOB_LAYERS = frozenset({"ordered", "operators"})
# Only in these layers are class methods wrapped (GroupBy and its facades);
# elsewhere the entry points are module-level functions.
CLASS_LAYERS = frozenset({"groupby"})


@dataclass
class Span:
    id: int
    layer: str
    name: str
    start: float
    end: float
    parent: int | None
    query: str | None
    jobs: int


class Tracer:
    def __init__(self, spark):
        self._dag = spark.sparkContext._jsc.sc().dagScheduler()
        self.spans: list[Span] = []
        self.query: str | None = None
        self._local = threading.local()
        self._lock = threading.Lock()
        self._next_id = 0
        self._patches: list[tuple[object, str, object]] = []
        self._plan: list[tuple[object, str, object]] | None = None

    def __reduce__(self):
        # A wrapped engine function can be captured by a closure that Spark
        # ships to a Python worker; there the tracer unpickles as None and
        # the wrapper calls straight through.
        return (type(None), ())

    # ------------------------------------------------------------ patching

    def install(self) -> None:
        """Wrap every entry point of every layer in :data:`LAYERS`."""
        if self._patches:
            return
        if self._plan is None:
            self._plan = self._patch_plan()
        for holder, attr, new in self._plan:
            self._patch(holder, attr, new)

    def _patch_plan(self) -> list[tuple[object, str, object]]:
        """(holder, attribute, wrapper) for every reference to an entry
        point, computed once and reapplied by each :meth:`install`."""
        plan = []
        targets: dict[int, object] = {}  # id(function) -> its wrapper
        for layer, modules in LAYERS.items():
            for modname in modules:
                mod = importlib.import_module(modname)
                short = modname.rsplit(".", 1)[1]
                for name, obj in vars(mod).items():
                    if name.startswith("_") or getattr(obj, "__module__", None) != modname:
                        continue
                    if inspect.isfunction(obj):
                        targets[id(obj)] = self._wrap(layer, f"{short}.{name}", obj)
                    elif inspect.isclass(obj) and layer in CLASS_LAYERS:
                        plan += self._class_plan(layer, obj)
        # modules that imported an entry point by name hold their own
        # reference to it: replace those too
        for modname, mod in list(sys.modules.items()):
            if mod is None or not (modname == "__spark_entry__"
                                   or modname.startswith("pandas_plus_spark")):
                continue
            for attr, val in list(vars(mod).items()):
                wrapper = targets.get(id(val))
                if wrapper is not None:
                    plan.append((mod, attr, wrapper))
        return plan

    def _class_plan(self, layer: str, cls: type) -> list[tuple[object, str, object]]:
        plan = []
        for name, attr in vars(cls).items():
            if name.startswith("_") and name != "__init__":
                continue
            qual = f"{cls.__name__}.{name}"
            if inspect.isfunction(attr):
                plan.append((cls, name, self._wrap(layer, qual, attr)))
            elif inspect.isfunction(getattr(attr, "_fn", None)):
                # GroupBy's dual instance/static aggregation descriptors
                plan.append((attr, "_fn", self._wrap(layer, qual, attr._fn)))
        return plan

    def _patch(self, holder, attr: str, new) -> None:
        self._patches.append((holder, attr, getattr(holder, attr)))
        setattr(holder, attr, new)

    def uninstall(self) -> None:
        for holder, attr, orig in reversed(self._patches):
            setattr(holder, attr, orig)
        self._patches.clear()

    def _wrap(self, layer: str, name: str, fn):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if tracer is None:
                return fn(*args, **kwargs)
            token = tracer._enter(layer)
            try:
                return fn(*args, **kwargs)
            finally:
                tracer._exit(token, layer, name)

        return wrapper

    # --------------------------------------------------------------- spans

    def _stack(self) -> list[tuple[int, str]]:
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        return stack

    def jobs_launched(self) -> int:
        """Jobs the DAG scheduler has accepted so far, from any thread."""
        return self._dag.nextJobId()

    def _enter(self, layer: str):
        stack = self._stack()
        with self._lock:
            sid = self._next_id
            self._next_id += 1
        parent = stack[-1][0] if stack else None
        outermost = layer in JOB_LAYERS and all(l != layer for _, l in stack)
        jobs0 = self.jobs_launched() if outermost else None
        stack.append((sid, layer))
        return sid, parent, jobs0, time.perf_counter()

    def _exit(self, token, layer: str, name: str) -> None:
        end = time.perf_counter()
        sid, parent, jobs0, start = token
        self._stack().pop()
        jobs = self.jobs_launched() - jobs0 if jobs0 is not None else 0
        with self._lock:
            self.spans.append(Span(sid, layer, name, start, end, parent,
                                   self.query, jobs))

    @contextlib.contextmanager
    def span(self, layer: str, name: str):
        """A span the benchmark itself opens around one of its own calls."""
        token = self._enter(layer)
        try:
            yield
        finally:
            self._exit(token, layer, name)

    def self_times(self, spans: list[Span]) -> dict[int, float]:
        """span id -> duration minus the time its children cover."""
        child_time: dict[int, float] = {}
        for s in spans:
            if s.parent is not None:
                child_time[s.parent] = child_time.get(s.parent, 0.0) + (s.end - s.start)
        return {s.id: max(0.0, (s.end - s.start) - child_time.get(s.id, 0.0))
                for s in spans}

    def write(self, path) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(asdict(s)) + "\n")


@dataclass
class ExecStats:
    """Spark execution counters for one phase, from the status store."""
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    failed_tasks: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    executor_run_s: float = 0.0

    def add(self, other: "ExecStats") -> None:
        for k, v in asdict(other).items():
            setattr(self, k, getattr(self, k) + v)


class ExecProbe:
    """Reads job and stage counters for a window of the DAG scheduler's id
    space. Phases are bracketed by :meth:`mark`; :meth:`stats` waits for
    the listener bus so the status store has seen every stage end."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self._ssc = sc._jsc.sc()
        self._dag = self._ssc.dagScheduler()

    def mark(self) -> tuple[int, int]:
        return self._dag.nextJobId(), self._dag.nextStageId()

    def stats(self, start: tuple[int, int], end: tuple[int, int]) -> ExecStats:
        self._ssc.listenerBus().waitUntilEmpty()
        store = self._ssc.statusStore()
        out = ExecStats(jobs=end[0] - start[0])
        for stage_id in range(start[1], end[1]):
            try:
                d = store.lastStageAttempt(stage_id)
            except Py4JJavaError:  # stage evicted from the store
                continue
            if d.status().toString() == "SKIPPED":
                continue
            out.stages += 1
            out.tasks += d.numCompleteTasks() + d.numFailedTasks()
            out.failed_tasks += d.numFailedTasks()
            out.shuffle_write_bytes += d.shuffleWriteBytes()
            out.spill_bytes += d.diskBytesSpilled()
            out.executor_run_s += d.executorRunTime() / 1000.0
        return out

    def cached_bytes(self) -> int:
        """Memory plus disk bytes of every cached RDD."""
        return sum(i.memSize() + i.diskSize()
                   for i in self._ssc.getRDDStorageInfo())
