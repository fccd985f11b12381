"""Out-of-program tracing for the benchmark's traced run.

Everything here is installed from outside the engine: public functions
of the layer modules are replaced by wrappers that record spans, py4j's
``GatewayClient.send_command`` is wrapped to count gateway round trips,
and Spark's own counters come from its status store, scoped to the job
group the benchmark sets around each operation.

Install order matters: plan modules bind operator names at import time
(``from ...functions.dedup import minhash_signatures``), so
:meth:`Tracer.install_layers` must run before ``registry`` loads them.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import json
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

PKG = "weather_data_data_pipeline_spark"

# (module, layer name, record nested calls of the same layer)
LAYER_MODULES = (
    *((f"functions.{m}", f"functions.{m}", False) for m in (
        "bloom", "bpe", "classifier", "clustering", "dedup", "graph",
        "importance", "index_io", "pca", "pq", "search", "similarity",
        "text", "udtfs", "url", "winnow",
    )),
    *((f"operators.{m}", f"operators.{m}", False) for m in (
        "aggregates", "joins", "merge", "quality", "ranking", "sketches",
        "state", "timeseries", "transforms",
    )),
    ("sources.tables", "sources.tables", False),
    ("sources.jdbc", "sources.jdbc", False),
    ("sources.layout", "sources.layout", False),
    ("pipeline.weather", "pipeline.weather", True),
    ("session", "session", False),
)

FUNCTION_LAYERS = (
    "dedup", "similarity", "text", "search", "clustering", "importance",
    "winnow", "classifier",
)
OPERATOR_LAYERS = ("timeseries", "joins", "aggregates", "ranking")


class Tracer:
    """Spans (name, start, end, parent, op) and counters, kept in memory
    and written out once when the run ends."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._local = threading.local()  # warm-up queries run on threads
        self._lock = threading.Lock()
        self.op: int | None = None
        self.py4j_calls = 0
        self.py4j_s = 0.0
        self.counting = False
        self._t0 = time.perf_counter()

    # -- spans -----------------------------------------------------------
    @property
    def _stack(self) -> list[int]:
        """Open spans of the calling thread, innermost last."""
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def _open(self, name: str, layer: str) -> int:
        span = {
            "name": name,
            "layer": layer,
            "start": time.perf_counter() - self._t0,
            "end": None,
            "parent": self._stack[-1] if self._stack else None,
            "op": self.op,
        }
        with self._lock:  # the index must be this thread's own append
            idx = len(self.spans)
            self.spans.append(span)
        self._stack.append(idx)
        return idx

    def _close(self, idx: int) -> None:
        self.spans[idx]["end"] = time.perf_counter() - self._t0
        self._stack.pop()

    @contextmanager
    def span(self, name: str, layer: str | None = None):
        idx = self._open(name, layer or name)
        try:
            yield
        finally:
            self._close(idx)

    def wrap(self, fn, layer: str, nested: bool):
        name = f"{layer}.{fn.__name__}"

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not nested and self._stack and self.spans[self._stack[-1]]["layer"] == layer:
                return fn(*args, **kwargs)  # inside the layer already
            idx = self._open(name, layer)
            try:
                return fn(*args, **kwargs)
            finally:
                self._close(idx)

        traced.__wrapped_by_tracer__ = True
        return traced

    # -- installation ----------------------------------------------------
    def install_layers(self) -> None:
        for mod_name, layer, nested in LAYER_MODULES:
            mod = importlib.import_module(f"{PKG}.{mod_name}")
            for attr, fn in list(vars(mod).items()):
                if (
                    attr.startswith("_")
                    or not inspect.isfunction(fn)
                    or fn.__module__ != mod.__name__
                    or getattr(fn, "__wrapped_by_tracer__", False)
                ):
                    continue
                setattr(mod, attr, self.wrap(fn, layer, nested))

    def install_py4j(self) -> None:
        from py4j.java_gateway import GatewayClient

        orig = GatewayClient.send_command

        def send_command(client, command, *args, **kwargs):
            if not self.counting:
                return orig(client, command, *args, **kwargs)
            t = time.perf_counter()
            try:
                return orig(client, command, *args, **kwargs)
            finally:
                self.py4j_calls += 1
                self.py4j_s += time.perf_counter() - t

        GatewayClient.send_command = send_command

    # -- reduction -------------------------------------------------------
    def self_times(self, ops: set[int] | None = None) -> tuple[dict, dict, dict]:
        """(self seconds by layer, inclusive seconds by span name, calls by
        layer) over spans of the given ops. Self time is a span's duration
        minus the time its direct child spans cover."""
        child_s: dict[int, float] = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None and s["end"] is not None:
                child_s[s["parent"]] += s["end"] - s["start"]
        self_by_layer: dict[str, float] = defaultdict(float)
        incl_by_name: dict[str, float] = defaultdict(float)
        calls: dict[str, int] = defaultdict(int)
        for i, s in enumerate(self.spans):
            if s["end"] is None or (ops is not None and s["op"] not in ops):
                continue
            dur = s["end"] - s["start"]
            self_by_layer[s["layer"]] += dur - child_s[i]
            incl_by_name[s["name"]] += dur
            calls[s["layer"]] += 1
        return self_by_layer, incl_by_name, calls

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans}, f)


def job_group_stats(spark, group: str) -> dict[str, float]:
    """Jobs, stages, tasks and task-level counters of every job in a job
    group, read from Spark's status store."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    out = dict.fromkeys(
        (
            "jobs", "stages", "tasks", "task_run_s", "task_cpu_s", "gc_s",
            "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes",
        ),
        0.0,
    )
    for job in tracker.getJobIdsForGroup(group):
        info = tracker.getJobInfo(job)
        if info is None:
            continue
        out["jobs"] += 1
        for sid in info.stageIds:
            try:
                st = store.lastStageAttempt(sid)
            except Exception:  # stage skipped (shuffle reuse) or evicted
                continue
            out["stages"] += 1
            out["tasks"] += st.numCompleteTasks()
            out["task_run_s"] += st.executorRunTime() / 1e3
            out["task_cpu_s"] += st.executorCpuTime() / 1e9
            out["gc_s"] += st.jvmGcTime() / 1e3
            out["shuffle_write_bytes"] += st.shuffleWriteBytes()
            out["shuffle_read_bytes"] += st.shuffleReadBytes()
            out["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
    return out
