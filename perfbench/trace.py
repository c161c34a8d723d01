"""Spans around calls into the engine's layers, for the traced run.

A span records a layer name, a label, its start and end, and the span
that caused it. Entering a span tags the Spark jobs started inside it
with a job group of its own (``spark.jobGroup.id``), so every job is
attributed to the innermost span that launched it; the stage metrics
of those jobs are read afterwards from the application status store,
which is populated with the UI disabled.

The layers wrapped here, each at the engine's public entry points:

- ``sources``: the public functions of ``sources.catalog`` and
  ``sources.io``, at every place the package binds them;
- ``operators.<module>``: the public DataFrame-level functions of each
  ``operators`` module;
- ``materialize``: ``DataFrame.localCheckpoint``, ``checkpoint``,
  ``persist`` and ``cache``;
- ``streaming.sink``: every ``foreachBatch`` sink function.

The benchmark itself opens the ``lane``, ``plans.construct`` and
``exec.action`` spans. A span's self time is its duration minus the
time its child spans cover. Construction and action cover a lane, so a
lane's self times add up to its wall time by construction; what the
wrapped engine layers leave unexplained is the self time of
``plans.construct``.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import itertools
import pkgutil
import sys
import threading
import time
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError
from pyspark.sql.classic.dataframe import DataFrame
from pyspark.sql.streaming.readwriter import DataStreamWriter

PKG = "etl_sql_and_pyspark_developement__spark"
_GROUP = "spark.jobGroup.id"
_MATERIALIZE = ("localCheckpoint", "checkpoint", "persist", "cache")


class Tracer:
    """Collects spans in memory; ``install`` wraps the engine's layer
    entry points, ``uninstall`` restores them."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self._ids = itertools.count()
        self._lock = threading.Lock()
        self._local = threading.local()
        self._main = self._stack()
        self._patches: list[tuple[object, str, object]] = []
        self._seen_stages: set[int] = set()

    # -- spans ---------------------------------------------------------
    def _stack(self) -> list[dict]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, layer: str, name: str):
        stack = self._stack()
        # a callback thread (foreachBatch) nests under the main
        # thread's open span, which is blocked waiting for it
        parent = stack[-1] if stack else (self._main[-1] if self._main else None)
        sid = next(self._ids)
        rec = {
            "id": sid, "parent": parent["id"] if parent else None,
            "layer": layer, "name": name, "group": f"perfbench-{sid}",
            "start": time.perf_counter(), "end": None, "jobs": [],
        }
        prev = self.sc.getLocalProperty(_GROUP)
        self.sc.setLocalProperty(_GROUP, rec["group"])
        stack.append(rec)
        try:
            yield rec
        finally:
            stack.pop()
            self.sc.setLocalProperty(_GROUP, prev)
            rec["end"] = time.perf_counter()
            with self._lock:
                self.spans.append(rec)

    def _wrap(self, fn, layer: str, name: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(layer, name):
                return fn(*args, **kwargs)

        return traced

    # -- installing wrappers -------------------------------------------
    def _set(self, owner, attr: str, value) -> None:
        self._patches.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, value)

    def install(self) -> None:
        targets: list[tuple[object, str]] = []  # (function, layer)
        for mod in ("sources.catalog", "sources.io"):
            m = importlib.import_module(f"{PKG}.{mod}")
            targets += [(f, "sources") for f in _public_functions(m, dataframe_only=False)]
        ops = importlib.import_module(f"{PKG}.operators")
        for info in pkgutil.iter_modules(ops.__path__):
            m = importlib.import_module(f"{PKG}.operators.{info.name}")
            targets += [(f, f"operators.{info.name}") for f in _public_functions(m)]
        wrapped = {id(f): self._wrap(f, layer, f.__name__) for f, layer in targets}
        for modname, module in list(sys.modules.items()):
            if module is None or not modname.startswith(PKG):
                continue
            for attr, val in list(vars(module).items()):
                if id(val) in wrapped and inspect.isfunction(val):
                    self._set(module, attr, wrapped[id(val)])
        for meth in _MATERIALIZE:
            self._set(DataFrame, meth, self._wrap(getattr(DataFrame, meth), "materialize", meth))
        original = DataStreamWriter.foreachBatch
        tracer = self

        def foreach_batch(writer, func):
            return original(writer, tracer._wrap(func, "streaming.sink", "foreachBatch"))

        self._set(DataStreamWriter, "foreachBatch", foreach_batch)

    def uninstall(self) -> None:
        while self._patches:
            owner, attr, val = self._patches.pop()
            setattr(owner, attr, val)

    # -- job and stage metrics -----------------------------------------
    def resolve_jobs(self, spans: list[dict]) -> None:
        """Fill each span's job list from its job group. Waits for the
        listener bus first, so the status store holds finished stages."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        tracker = self.sc.statusTracker()
        for s in spans:
            s["jobs"] = sorted(set(s["jobs"]) | set(tracker.getJobIdsForGroup(s["group"])))

    def stage_totals(self, job_ids) -> dict:
        """Sum the metrics of the stages these jobs ran, counting each
        stage once per run (a skipped stage reuses an earlier one)."""
        tot = dict(stages=0, tasks=0, run_s=0.0, cpu_s=0.0, shuffle_read_records=0,
                   shuffle_write_bytes=0, spill_bytes=0)
        tracker = self.sc.statusTracker()
        store = self.sc._jsc.sc().statusStore()
        for jid in job_ids:
            info = tracker.getJobInfo(jid)
            for sid in info.stageIds if info else ():
                if sid in self._seen_stages:
                    continue
                try:
                    st = store.lastStageAttempt(sid)
                except Py4JJavaError:  # NoSuchElementException: never submitted
                    continue
                if st.status().toString() not in ("COMPLETE", "FAILED"):
                    continue
                self._seen_stages.add(sid)
                tot["stages"] += 1
                tot["tasks"] += st.numTasks()
                tot["run_s"] += st.executorRunTime() / 1e3
                tot["cpu_s"] += st.executorCpuTime() / 1e9
                tot["shuffle_read_records"] += st.shuffleReadRecords()
                tot["shuffle_write_bytes"] += st.shuffleWriteBytes()
                tot["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
        return tot


def _public_functions(module, dataframe_only: bool = True):
    """Functions defined in ``module`` whose name has no leading
    underscore. With ``dataframe_only``, keep those whose first
    parameter is a DataFrame or SparkSession: expression builders that
    return a Column are called many times while a plan is built and
    are not layer boundaries."""
    out = []
    for name, fn in vars(module).items():
        if name.startswith("_") or not inspect.isfunction(fn):
            continue
        if fn.__module__ != module.__name__:
            continue
        if dataframe_only:
            params = list(inspect.signature(fn).parameters.values())
            ann = str(params[0].annotation) if params else ""
            if "DataFrame" not in ann and "SparkSession" not in ann:
                continue
        out.append(fn)
    return out


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id -> duration minus the time covered by its children
    (children of one span never overlap: the engine runs them in one
    thread, or in a callback thread while the parent waits)."""
    own = {s["id"]: s["end"] - s["start"] for s in spans}
    for s in spans:
        if s["parent"] in own:
            own[s["parent"]] -= s["end"] - s["start"]
    return own
