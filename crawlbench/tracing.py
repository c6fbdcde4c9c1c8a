"""The traced run's instruments, all applied from outside the engine.

* Every public plan-building function of each layer module (one whose
  signature mentions a DataFrame, Column or SparkSession), and every
  public method of the module's classes, is wrapped where it is defined
  and wherever another ``frontier_engine`` module bound it by
  ``from ... import``. A wrapper records a span and, on entry, sets the
  Spark job group to its layer, so each job is charged to the layer whose
  call started it. Plans are lazy: upstream work runs in whichever
  layer's call triggers the action.
* Jobs, stages, task time and shuffle bytes come from the application
  status store, which works with the UI off.
* Python UDF time comes from ``spark.sql.pyspark.udf.profiler=perf``; each
  UDF's time goes to the module that defines the UDF's function.
"""

from __future__ import annotations

import contextlib
import functools
import glob
import importlib
import inspect
import os
import pstats
import shutil
import sys
import threading
import time

from spans import LAYERS, Span, innermost_at

TRACE_CONF = {
    # the status store keeps only the last 1000 jobs/stages by default;
    # a few warm rounds exceed that
    "spark.ui.retainedJobs": "100000",
    "spark.ui.retainedStages": "100000",
    "spark.sql.pyspark.udf.profiler": "perf",
}

_PLAN_TYPES = ("DataFrame", "Column", "SparkSession")


def _builds_plans(fn) -> bool:
    """Driver-side plan builders only: functions that run inside UDFs on
    the executors (str → str helpers) are timed by the UDF profiler."""
    ann = " ".join(str(v) for v in getattr(fn, "__annotations__", {}).values())
    return any(t in ann for t in _PLAN_TYPES)


class Tracer:
    """Span recorder. One stack serves every thread: the crawl's Python
    threads never run engine code at the same time (the streaming face's
    foreachBatch callback runs while the main thread waits), so a callback
    span nests under the main thread's open span."""

    def __init__(self):
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._lock = threading.Lock()
        self._tl = threading.local()
        self.sc = None  # set once the session exists
        # qualname → fn(args, kwargs, result); called after the span closes
        self.observers: dict = {}
        self.wrapped: list[str] = []
        self.admitted: list[tuple[float, int]] = []  # (time, n_new) per seen-store append
        self.gc: list[float] = []  # JVM GC seconds at the window's start and end

    # ---- spans ----------------------------------------------------------
    def _set_group(self, layer: str) -> None:
        if self.sc is None or getattr(self._tl, "group", None) == layer:
            return
        self._tl.group = layer
        self.sc.setJobGroup(layer, layer)

    def enter(self, layer: str, name: str) -> int:
        with self._lock:
            parent = self._stack[-1] if self._stack else None
            self.spans.append(Span(layer, name, time.time(), parent=parent))
            idx = len(self.spans) - 1
            self._stack.append(idx)
        self._set_group(layer)
        return idx

    def exit(self, idx: int) -> None:
        with self._lock:
            self.spans[idx].end = time.time()
            if not self._stack or self._stack[-1] != idx:
                raise RuntimeError(f"span {self.spans[idx].name} closed out of order")
            self._stack.pop()
            outer = self.spans[self._stack[-1]].layer if self._stack else "bench"
        self._set_group(outer)

    @contextlib.contextmanager
    def span(self, layer: str, name: str):
        """A span opened by the benchmark's own code."""
        idx = self.enter(layer, name)
        try:
            yield
        finally:
            self.exit(idx)

    # ---- wrapping -------------------------------------------------------
    def _wrap(self, layer: str, qualname: str, fn):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            idx = tracer.enter(layer, qualname)
            try:
                result = fn(*args, **kwargs)
            finally:
                tracer.exit(idx)
            obs = tracer.observers.get(qualname)
            if obs is not None:
                obs(args, kwargs, result)
            return result

        self.wrapped.append(qualname)
        return wrapper

    def install(self) -> None:
        """Wrap the layer modules' public functions and class methods.
        functools.wraps keeps ``__module__``/``__qualname__``, and the
        defining module's attribute IS the wrapper, so cloudpickle still
        ships such a function to a worker by reference (the worker imports
        the unwrapped original)."""
        replaced: dict[int, tuple] = {}
        for layer in LAYERS:
            mod = importlib.import_module(f"frontier_engine.{layer}")
            for name, obj in list(vars(mod).items()):
                if name.startswith("_"):
                    continue
                if inspect.isfunction(obj) and obj.__module__ == mod.__name__:
                    if _builds_plans(obj):
                        w = self._wrap(layer, f"{layer}.{name}", obj)
                        setattr(mod, name, w)
                        replaced[id(obj)] = (obj, w)
                elif inspect.isclass(obj) and obj.__module__ == mod.__name__:
                    self._wrap_class(layer, obj)
        for mname, mod in list(sys.modules.items()):
            if mod is None or not mname.startswith("frontier_engine"):
                continue
            for name, obj in list(vars(mod).items()):
                hit = replaced.get(id(obj))
                if hit is not None and hit[0] is obj:
                    setattr(mod, name, hit[1])

    def _wrap_class(self, layer: str, cls) -> None:
        for mname, m in list(vars(cls).items()):
            if mname.startswith("_"):
                continue
            qual = f"{layer}.{cls.__name__}.{mname}"
            if isinstance(m, classmethod):
                setattr(cls, mname, classmethod(self._wrap(layer, qual, m.__func__)))
            elif isinstance(m, staticmethod):
                setattr(cls, mname, staticmethod(self._wrap(layer, qual, m.__func__)))
            elif inspect.isfunction(m):
                setattr(cls, mname, self._wrap(layer, qual, m))


def attach(tracer: Tracer, bench) -> None:
    """Start charging jobs to layers, count seen-store admissions, reset
    the UDF profile when the timed window opens, and read the JVM's GC
    clock at both edges of the window."""
    spark = bench.spark
    tracer.sc = spark.sparkContext
    tracer.observers["seen_store.SeenExactStore.append"] = (
        lambda args, kwargs, _result: tracer.admitted.append(
            (time.time(), int(kwargs.get("n_new") or 0))
        )
    )

    def on_window(opening: bool):
        if opening:
            clear_udf_profile(spark)
        tracer.gc.append(gc_seconds(spark))

    bench.on_window = on_window


# ---- Spark status store ----------------------------------------------------

def read_jobs(sc, window: tuple[float, float]) -> list[dict]:
    """Jobs submitted inside *window*, with their stages' task time and
    shuffle-write bytes (each stage counted once, for the first job that
    lists it)."""
    store = sc._jsc.sc().statusStore()
    seq = store.jobsList(None)
    jobs = []
    for i in range(seq.length()):
        j = seq.apply(i)
        sub = j.submissionTime()
        if not sub.isDefined():
            continue
        start = sub.get().getTime() / 1000.0
        if not window[0] <= start < window[1]:
            continue
        comp = j.completionTime()
        grp = j.jobGroup()
        ids = j.stageIds()
        jobs.append({
            "id": j.jobId(),
            "group": grp.get() if grp.isDefined() else None,
            "start": start,
            "end": comp.get().getTime() / 1000.0 if comp.isDefined() else window[1],
            "stages": [ids.apply(k) for k in range(ids.length())],
        })
    jobs.sort(key=lambda d: d["id"])
    seen_stages: set[int] = set()
    for job in jobs:
        task_ms = shuffle = 0
        for sid in job["stages"]:
            if sid in seen_stages:
                continue
            seen_stages.add(sid)
            st = store.lastStageAttempt(sid)
            task_ms += st.executorRunTime()
            shuffle += st.shuffleWriteBytes()
        job["task_s"] = task_ms / 1000.0
        job["shuffle_bytes"] = shuffle
    return jobs


def charge_jobs(jobs: list[dict], spans: list[Span]) -> None:
    """Set each job's ``layer``: its job group, or, for jobs started by
    Spark itself (a streaming query's own group), the innermost span open
    when it was submitted."""
    for job in jobs:
        layer = job["group"] if job["group"] in LAYERS else innermost_at(spans, job["start"])
        job["layer"] = layer or "bench"


def gc_seconds(spark) -> float:
    beans = spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(b.getCollectionTime() for b in beans) / 1000.0


# ---- Python UDF profile ----------------------------------------------------

def clear_udf_profile(spark) -> None:
    spark.profile.clear(type="perf")


def udf_seconds(spark, dump_dir: str) -> dict[str, float]:
    """Seconds per defining module, from the perf profiles of every UDF run
    since the last clear. A UDF's module is that of the frontier_engine
    function with the largest cumulative time in its profile."""
    shutil.rmtree(dump_dir, ignore_errors=True)
    spark.profile.dump(dump_dir, type="perf")
    out: dict[str, float] = {}
    for path in glob.glob(os.path.join(dump_dir, "*.pstats")):
        stats = pstats.Stats(path).stats
        best = None
        for (fname, _line, _func), (_cc, _nc, _tt, ct, _callers) in stats.items():
            # the profiler records functions shipped by value under their
            # bare file name, and imported ones under their full path
            parts = fname.split("/")
            module = parts[-1][:-3] if parts[-1].endswith(".py") else None
            if len(parts) > 1 and parts[-2] != "frontier_engine":
                module = None
            if module in LAYERS and (best is None or ct > best[1]):
                best = (module, ct)
        if best is not None:
            out[best[0]] = out.get(best[0], 0.0) + best[1]
    shutil.rmtree(dump_dir, ignore_errors=True)
    return out
