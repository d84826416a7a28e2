"""Layer tracer: spans around the package's public entry points, recorded
from outside the package.

``Tracer.install()`` wraps every function (and every public method of every
class) named in a layer subpackage's ``__all__``, plus
``catalog.load_table``, and rebinds each wrapped object in every already
imported module of the package. It must run before any ``queries*`` module
is imported, so their ``from … import f`` bindings pick up the wrappers;
``wrap_queries`` then wraps each ``QUERIES[name]`` builder.

Spans are kept in memory (layer, name, start, end, parent); self time is a
span's duration minus the part covered by its children. Spark work comes
from the Spark driver's statusStore, harvested after each top-level operation
with job/stage id watermarks (the store retains only the newest 1,000 jobs
and stages), and each job is charged to the innermost span open when it was
submitted. Streaming progress comes from a ``StreamingQueryListener``.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import json
import sys
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

import numpy as np

PKG = "high_volume_market_data_pipeline_spark"
SUBPACKAGES = (
    "sources",
    "operators",
    "functions",
    "dedup",
    "similarity",
    "streaming",
    "sinks",
    "plans",
)
LAYERS = ("catalog",) + SUBPACKAGES + ("queries",)
STREAM_DURATIONS = {
    "trigger_s": "triggerExecution",
    "add_batch_s": "addBatch",
    "query_planning_s": "queryPlanning",
    "get_batch_s": "getBatch",
    "wal_commit_s": "walCommit",
    "commit_offsets_s": "commitOffsets",
}
_MB = 1e6


def _inert() -> "Tracer":
    return Tracer()


def _union_seconds(intervals) -> float:
    """Total length of the union of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def _next_mark(mark: int, rows: list[dict], key: str, live: tuple) -> int:
    """Highest id below which every entry has finished."""
    live_ids = [r[key] for r in rows if r["status"] in live]
    if live_ids:
        return max(mark, min(live_ids) - 1)
    return max([mark] + [r[key] for r in rows])


class Tracer:
    def __init__(self) -> None:
        self.enabled = False
        self.spans: list[list] = []  # [layer, name, start, end, parent]
        self._lock = threading.Lock()
        self._tls = threading.local()
        self._main_stack: list[int] = []
        self._jobs: dict[int, dict] = {}
        self._stages: dict[tuple, dict] = {}
        self._job_mark = -1
        self._stage_mark = -1
        self.progress: list[dict] = []
        self._wrapped: dict[int, object] = {}
        self._classes: set = set()

    def __reduce__(self):
        # Wrappers captured in closures shipped to Python workers unpickle
        # to an inert tracer there.
        return (_inert, ())

    # -- spans -------------------------------------------------------------

    def _stack(self) -> list[int]:
        stack = getattr(self._tls, "stack", None)
        if stack is None:
            stack = self._tls.stack = []
        return stack

    @contextmanager
    def span(self, layer: str, name: str):
        if not self.enabled:
            yield
            return
        stack = self._stack()
        # A span opened on a callback thread (foreachBatch, listener) nests
        # under whatever the main thread has open at that moment.
        outer = stack or self._main_stack
        rec = [layer, name, time.time(), None, outer[-1] if outer else -1]
        with self._lock:
            idx = len(self.spans)
            self.spans.append(rec)
        stack.append(idx)
        try:
            yield
        finally:
            rec[3] = time.time()
            stack.pop()

    def wrap(self, layer: str, fn, name: str | None = None):
        label = name or fn.__name__

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not self.enabled:
                return fn(*args, **kwargs)
            with self.span(layer, label):
                return fn(*args, **kwargs)

        return traced

    def enable(self) -> None:
        self._main_stack = self._stack()
        self.progress = []
        self.enabled = True

    # -- installation --------------------------------------------------------

    def _wrap_class(self, layer: str, cls) -> None:
        for attr, raw in list(vars(cls).items()):
            if attr.startswith("_"):
                continue
            label = f"{cls.__name__}.{attr}"
            if isinstance(raw, staticmethod):
                setattr(cls, attr, staticmethod(self.wrap(layer, raw.__func__, label)))
            elif isinstance(raw, classmethod):
                setattr(cls, attr, classmethod(self.wrap(layer, raw.__func__, label)))
            elif inspect.isfunction(raw):
                setattr(cls, attr, self.wrap(layer, raw, label))

    def install(self) -> None:
        """Wrap the layer exports and rebind them across the package."""
        if f"{PKG}.queries" in sys.modules:
            raise RuntimeError("install the tracer before importing queries")
        catalog = importlib.import_module(f"{PKG}.catalog")
        self._wrapped[id(catalog.load_table)] = self.wrap(
            "catalog", catalog.load_table
        )
        for layer in SUBPACKAGES:
            pkg = importlib.import_module(f"{PKG}.{layer}")
            for name in pkg.__all__:
                obj = getattr(pkg, name)
                if inspect.isclass(obj) and obj not in self._classes:
                    self._classes.add(obj)
                    self._wrap_class(layer, obj)
                elif inspect.isfunction(obj) and id(obj) not in self._wrapped:
                    self._wrapped[id(obj)] = self.wrap(layer, obj)
        for mod_name, mod in list(sys.modules.items()):
            if mod is None or not mod_name.startswith(PKG):
                continue
            for attr, value in list(vars(mod).items()):
                wrapper = self._wrapped.get(id(value))
                if wrapper is not None:
                    setattr(mod, attr, wrapper)

    def wrap_queries(self, queries: dict) -> None:
        for name, fn in list(queries.items()):
            queries[name] = self.wrap("queries", fn, name)

    # -- Spark statusStore -------------------------------------------------------

    def attach(self, spark) -> None:
        """Point the harvester at ``spark`` and start listening to streams."""
        from pyspark.sql.streaming import StreamingQueryListener

        sc = spark.sparkContext
        jvm = sc._jvm
        self._store = sc._jsc.sc().statusStore()
        self._json = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        scala_mod = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
        self._json.registerModule(getattr(scala_mod, "MODULE$"))
        self._no_quantiles = sc._gateway.new_array(jvm.double, 0)
        tracer = self

        class _Progress(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                tracer.progress.append(json.loads(event.progress.json))

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        spark.streams.addListener(_Progress())
        self.harvest(record=False)

    def harvest(self, record: bool = True) -> None:
        """Pull finished jobs/stages newer than the watermarks."""
        jobs = json.loads(self._json.writeValueAsString(self._store.jobsList(None)))
        # stageList(statuses, details, withSummaries, unsortedQuantiles, taskStatus)
        stages = json.loads(
            self._json.writeValueAsString(
                self._store.stageList(None, False, False, self._no_quantiles, None)
            )
        )
        if record:
            # a finished entry can be read twice (the mark waits for live
            # ones below it); keying by id counts it once
            for j in jobs:
                if j["jobId"] > self._job_mark and j["status"] != "RUNNING":
                    self._jobs[j["jobId"]] = j
            for st in stages:
                if st["stageId"] > self._stage_mark and st["status"] == "COMPLETE":
                    self._stages[(st["stageId"], st["attemptId"])] = st
        self._job_mark = _next_mark(self._job_mark, jobs, "jobId", ("RUNNING",))
        self._stage_mark = _next_mark(
            self._stage_mark, stages, "stageId", ("ACTIVE", "PENDING")
        )

    # -- report ------------------------------------------------------------------

    def report(self, wall_s: float) -> dict[str, float]:
        """Per-layer metrics of everything recorded while enabled."""
        done = [i for i, s in enumerate(self.spans) if s[3] is not None]
        spans = [self.spans[i] for i in done]
        starts = np.array([s[2] for s in spans])
        ends = np.array([s[3] for s in spans])
        children: dict[int, list] = defaultdict(list)
        for s in spans:
            if s[4] >= 0:
                children[s[4]].append((s[2], s[3]))
        out: dict[str, float] = {}
        for layer in LAYERS:
            out[f"{layer}.calls"] = 0
            out[f"{layer}.self_s"] = 0.0
        for i, (layer, _, start, end, _) in zip(done, spans):
            covered = _union_seconds(
                (max(cs, start), min(ce, end)) for cs, ce in children.get(i, ())
                if ce > start and cs < end
            )
            out[f"{layer}.calls"] += 1
            out[f"{layer}.self_s"] += (end - start) - covered

        job_iv: dict[str, list] = defaultdict(list)
        all_iv = []
        for j in self._jobs.values():
            t0 = j["submissionTime"] / 1000.0
            t1 = (j.get("completionTime") or j["submissionTime"]) / 1000.0
            all_iv.append((t0, t1))
            owner = "driver"
            if len(spans):
                inside = np.flatnonzero((starts <= t0) & (ends >= t0))
                if inside.size:
                    owner = spans[inside[np.argmax(starts[inside])]][0]
            job_iv[owner].append((t0, t1))
        for layer in LAYERS:
            out[f"{layer}.jobs"] = len(job_iv.get(layer, ()))
            out[f"{layer}.in_job_s"] = _union_seconds(job_iv.get(layer, ()))

        st = list(self._stages.values())
        in_job = _union_seconds(all_iv)
        out.update(
            {
                "spark.jobs": len(self._jobs),
                "spark.stages": len(st),
                "spark.tasks": sum(s["numCompleteTasks"] for s in st),
                "spark.executor_run_s": sum(s["executorRunTime"] for s in st) / 1e3,
                "spark.executor_cpu_s": sum(s["executorCpuTime"] for s in st) / 1e9,
                "spark.gc_s": sum(s["jvmGcTime"] for s in st) / 1e3,
                "spark.in_job_s": in_job,
                "spark.shuffle_read_mb": sum(s["shuffleReadBytes"] for s in st) / _MB,
                "spark.shuffle_write_mb": sum(s["shuffleWriteBytes"] for s in st) / _MB,
                "spark.spill_mb": sum(s["diskBytesSpilled"] for s in st) / _MB,
                "spark.input_mb": sum(s["inputBytes"] for s in st) / _MB,
                "driver.outside_job_s": max(0.0, wall_s - in_job),
            }
        )
        out.update(self.stream_report())
        return out

    def stream_report(self) -> dict[str, float]:
        events = list(self.progress)
        out = {
            "streaming.batches": len(events),
            "streaming.input_rows": sum(e.get("numInputRows", 0) for e in events),
        }
        for key, field in STREAM_DURATIONS.items():
            out[f"streaming.{key}"] = (
                sum(e.get("durationMs", {}).get(field, 0) for e in events) / 1e3
            )
        last: dict[str, dict] = {}
        for e in events:
            last[e["runId"]] = e  # final state size of each query run
        ops = [op for e in last.values() for op in e.get("stateOperators", [])]
        out["streaming.state_rows"] = sum(op.get("numRowsTotal", 0) for op in ops)
        out["streaming.state_mb"] = sum(op.get("memoryUsedBytes", 0) for op in ops) / _MB
        return out
