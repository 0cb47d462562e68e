"""Spans and Spark counters for the benchmark's traced run.

Spans are recorded from the benchmark's side only: ``Tracer.install``
wraps every public function of ``dask_cudf_spark.sources.*`` and
``dask_cudf_spark.operators.*`` and rebinds each ``dask_cudf_spark``
module attribute that refers to one, so calls made through a
module-level import (``from ..sources import load_table``) are traced
too.  Each span records its name, start, end, parent, the call's trace
id, its thread, and the range of Spark job ids submitted while it was
open.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import pkgutil
import sys
import threading
import time
from contextlib import contextmanager

TRACED_PACKAGES = ("dask_cudf_spark.sources", "dask_cudf_spark.operators")
STAGE_FIELDS = {
    # StageData getter -> (counter, scale to the reported unit)
    "numCompleteTasks": ("tasks", 1),
    "executorRunTime": ("task_s", 1e-3),
    "executorCpuTime": ("task_cpu_s", 1e-9),
    "jvmGcTime": ("gc_s", 1e-3),
    "inputBytes": ("input_bytes", 1),
    "shuffleWriteBytes": ("shuffle_write_bytes", 1),
    "shuffleReadBytes": ("shuffle_read_bytes", 1),
    "diskBytesSpilled": ("spill_bytes", 1),
}


def next_job_id(sc) -> int:
    """Id the next submitted Spark job will get."""
    return int(sc._jsc.sc().dagScheduler().numTotalJobs())


def job_stages(sc, first_job: int, end_job: int) -> list[int]:
    """Ids of the stages of jobs ``first_job .. end_job - 1``."""
    tracker = sc.statusTracker()
    stages: set[int] = set()
    for j in range(first_job, end_job):
        info = tracker.getJobInfo(j)
        if info is not None:
            stages.update(info.stageIds)
    return sorted(stages)


def ran_stages(sc, stage_ids: list[int]) -> list[int]:
    """The stages that ran at least one task (skipped stages reuse an
    earlier shuffle and run none)."""
    tracker = sc.statusTracker()
    out = []
    for s in stage_ids:
        info = tracker.getStageInfo(s)
        if info is not None and info.numCompletedTasks > 0:
            out.append(s)
    return out


def stage_counters(sc, stage_ids: list[int], fields=STAGE_FIELDS) -> dict:
    """Sum Spark's per-stage task metrics over ``stage_ids`` (all
    attempts) from the application status store."""
    store = sc._jsc.sc().statusStore()
    no_quantiles = sc._gateway.new_array(sc._jvm.double, 0)
    tot = {name: 0.0 for name, _ in fields.values()}
    for s in stage_ids:
        attempts = store.stageData(s, False, [], False, no_quantiles)
        for i in range(attempts.size()):
            sd = attempts.apply(i)
            for getter, (name, scale) in fields.items():
                tot[name] += getattr(sd, getter)() * scale
    return tot


class Tracer:
    """In-memory span recorder; one per traced run."""

    def __init__(self, sc):
        self._sc = sc
        self._local = threading.local()
        self._lock = threading.Lock()
        self._next_id = 0
        self.spans: list[dict] = []
        self.trace_id: int | None = None
        self.root: int | None = None
        self.overhead_s = 0.0
        self._restore: list[tuple[object, str, object]] = []

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str):
        """Record one span.  A span opened on a thread with no open span
        of its own (a driver thread the engine started) is parented to
        the current call's root span."""
        t0 = time.perf_counter()
        stack = self._stack()
        with self._lock:
            sid = self._next_id
            self._next_id += 1
        parent = stack[-1] if stack else self.root
        if self.root is None:
            self.root = sid
        job0 = next_job_id(self._sc)
        stack.append(sid)
        start = time.perf_counter()
        with self._lock:
            self.overhead_s += start - t0
        try:
            yield sid
        finally:
            end = time.perf_counter()
            stack.pop()
            self.spans.append(
                {
                    "id": sid,
                    "name": name,
                    "start": start,
                    "end": end,
                    "parent": parent,
                    "trace": self.trace_id,
                    "thread": threading.current_thread().name,
                    "jobs": [job0, next_job_id(self._sc)],
                }
            )
            with self._lock:
                self.overhead_s += time.perf_counter() - end

    def begin_call(self, trace_id: int) -> None:
        self.trace_id, self.root = trace_id, None

    def _wrap(self, fn, name: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    def install(self) -> None:
        """Wrap the public functions of the traced packages and rebind
        every ``dask_cudf_spark.*`` attribute that refers to one."""
        wrapped = {}
        for pkg_name in TRACED_PACKAGES:
            pkg = importlib.import_module(pkg_name)
            layer = pkg_name.rsplit(".", 1)[1]
            for info in pkgutil.iter_modules(pkg.__path__):
                mod = importlib.import_module(f"{pkg_name}.{info.name}")
                for attr, fn in vars(mod).items():
                    if (
                        attr.startswith("_")
                        or not inspect.isfunction(fn)
                        or fn.__module__ != mod.__name__
                        or hasattr(fn, "evalType")  # a pandas_udf
                    ):
                        continue
                    wrapped[fn] = self._wrap(fn, f"{layer}.{info.name}.{attr}")
        for mod_name, mod in list(sys.modules.items()):
            if mod_name != "dask_cudf_spark" and not mod_name.startswith(
                "dask_cudf_spark."
            ):
                continue
            for attr, val in list(vars(mod).items()):
                if inspect.isfunction(val) and val in wrapped:
                    self._restore.append((mod, attr, val))
                    setattr(mod, attr, wrapped[val])

    def uninstall(self) -> None:
        for mod, attr, val in self._restore:
            setattr(mod, attr, val)
        self._restore.clear()


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by possibly overlapping intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(iv for iv in intervals if iv[1] > iv[0]):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans: list[dict]) -> dict[int, float]:
    """Each span's duration minus the part of it its children cover.
    Children may overlap each other (a driver thread the engine starts
    runs beside the main thread), so the covered part is the union of
    the children's intervals clipped to the parent, not their sum."""
    by_id = {s["id"]: s for s in spans}
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        p = by_id.get(s["parent"])
        if p is not None:
            kids.setdefault(p["id"], []).append(
                (max(s["start"], p["start"]), min(s["end"], p["end"]))
            )
    return {
        s["id"]: max(
            0.0, s["end"] - s["start"] - union_length(kids.get(s["id"], []))
        )
        for s in spans
    }
