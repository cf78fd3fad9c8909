"""Layer tracing for the traced run, installed from outside the program.

``Tracer.install()`` wraps every public function and public method that
a ``handyspark_spark`` module defines. The wrapper replaces each binding
of the original in every loaded ``handyspark_spark`` module (so names
imported with ``from x import f`` are covered too) and records one span
per call: layer, name, start, end, parent span and the trace id of the
query being built. Only calls made inside an open span are recorded,
so the harness's own calls into the package (outside the per-query root
span) do not count. A layer is the subpackage the callable lives in
(``core``, ``operators``, ``pipeline`` ...). The wrapper keeps the
original's ``__module__`` and ``__qualname__``, so a UDF closure that
refers to a wrapped helper is still pickled by reference and the Python
workers import the unwrapped original.

``parse_event_log`` reads the local Spark event log offline and sums
stage metrics per job group; the harness names groups ``query:phase``.
"""
from __future__ import annotations

import contextlib
import functools
import importlib
import json
import os
import pkgutil
import sys
import time
import types
from collections import defaultdict

PACKAGE = "handyspark_spark"
LAYERS = ["sources", "core", "operators", "ml", "functions", "streaming",
          "pipeline", "plans"]


def layer_of(module: str) -> str | None:
    parts = module.split(".")
    if len(parts) >= 2 and parts[0] == PACKAGE and parts[1] in LAYERS:
        return parts[1]
    return None


class Tracer:
    def __init__(self):
        self.spans: list[dict] = []
        self.trace_id: str | None = None
        self._stack: list[int] = []

    # -- recording -------------------------------------------------------
    @contextlib.contextmanager
    def span(self, layer: str, name: str):
        i = self._open(layer, name)
        try:
            yield
        finally:
            self._close(i)

    def _open(self, layer: str, name: str) -> int:
        i = len(self.spans)
        self.spans.append({"layer": layer, "name": name,
                           "start": time.perf_counter(), "end": None,
                           "parent": self._stack[-1] if self._stack
                           else None, "trace": self.trace_id})
        self._stack.append(i)
        return i

    def _close(self, i: int) -> None:
        self.spans[i]["end"] = time.perf_counter()
        self._stack.pop()

    def _wrap(self, fn, layer: str, name: str):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not tracer._stack:  # a harness call, not a query's
                return fn(*args, **kwargs)
            i = tracer._open(layer, name)
            try:
                return fn(*args, **kwargs)
            finally:
                tracer._close(i)
        traced.__perfbench_original__ = fn
        return traced

    # -- installation ----------------------------------------------------
    def install(self) -> int:
        """Wrap every public function and method of the package; return
        how many module-level functions were wrapped."""
        pkg = importlib.import_module(PACKAGE)
        for m in pkgutil.walk_packages(pkg.__path__, PACKAGE + "."):
            importlib.import_module(m.name)
        mods = [m for n, m in list(sys.modules.items())
                if n == PACKAGE or n.startswith(PACKAGE + ".")]
        wrapped: dict[int, object] = {}  # id(original) -> wrapper
        for mod in mods:
            layer = layer_of(mod.__name__)
            if layer is None:
                continue
            for attr, obj in list(vars(mod).items()):
                if attr.startswith("_"):
                    continue
                if isinstance(obj, types.FunctionType) and \
                        obj.__module__ == mod.__name__:
                    wrapped[id(obj)] = self._wrap(
                        obj, layer, f"{mod.__name__[len(PACKAGE) + 1:]}."
                        f"{obj.__name__}")
                elif isinstance(obj, type) and obj.__module__ == mod.__name__:
                    self._wrap_class(obj, layer)
        for mod in mods:
            for attr, obj in list(vars(mod).items()):
                w = wrapped.get(id(obj))
                if w is not None and \
                        getattr(w, "__perfbench_original__", None) is obj:
                    setattr(mod, attr, w)
        return len(wrapped)

    def _wrap_class(self, cls: type, layer: str) -> None:
        for attr, obj in list(vars(cls).items()):
            if attr.startswith("_"):
                continue
            name = f"{cls.__module__[len(PACKAGE) + 1:]}.{cls.__name__}." \
                   f"{attr}"
            if isinstance(obj, types.FunctionType):
                setattr(cls, attr, self._wrap(obj, layer, name))
            elif isinstance(obj, (staticmethod, classmethod)):
                setattr(cls, attr, type(obj)(
                    self._wrap(obj.__func__, layer, name)))

    # -- output ----------------------------------------------------------
    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


STAGE_METRICS = {
    "internal.metrics.executorRunTime": ("executor_run_s", 1e-3),
    "internal.metrics.executorCpuTime": ("executor_cpu_s", 1e-9),
    "internal.metrics.jvmGCTime": ("gc_s", 1e-3),
    "internal.metrics.shuffle.read.localBytesRead":
        ("shuffle_read_bytes", 1),
    "internal.metrics.shuffle.read.remoteBytesRead":
        ("shuffle_read_bytes", 1),
    "internal.metrics.shuffle.write.bytesWritten":
        ("shuffle_write_bytes", 1),
    "internal.metrics.diskBytesSpilled": ("spill_bytes", 1),
    "internal.metrics.memoryBytesSpilled": ("spill_bytes", 1),
    "internal.metrics.input.bytesRead": ("scan_bytes", 1),
    "internal.metrics.resultSize": ("result_bytes", 1),
    # Python SQL metrics of ArrowEvalPython / MapInPandas / BatchEvalPython
    # nodes (pythonTotalTime, pythonBootTime, pythonDataSent +
    # pythonDataReceived), timing metrics in ms. pythonInitTime ("time to
    # initialize Python workers") is left out: Spark measures it from the
    # worker's boot, so a reused worker reports its idle time since then.
    "time to run Python workers": ("python_s", 1e-3),
    "time to start Python workers": ("python_boot_s", 1e-3),
    "data sent to Python workers": ("python_bytes", 1),
    "data returned from Python workers": ("python_bytes", 1),
}


def parse_event_log(log_dir: str) -> dict[str, dict[str, float]]:
    """Per job group: jobs, stages, tasks and the STAGE_METRICS sums.

    Spark 4 writes rolling event logs by default: a directory
    ``eventlog_v2_<app id>`` holding the ``events_<n>_<app id>`` parts
    and an ``appstatus`` marker; the parts are read in numeric order.

    Each completed stage is counted once, for the first job that lists
    it; stages a later job skipped (reused shuffle output) never
    complete again and so are not double counted."""
    parts = sorted((d, int(f.split("_")[1]), f)
                   for d, _, fs in os.walk(log_dir)
                   for f in fs if f.startswith("events_"))
    files = [os.path.join(d, f) for d, _, f in parts]
    stage_group: dict[int, str] = {}
    out: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    for path in files:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    g = (ev.get("Properties") or {}).get(
                        "spark.jobGroup.id", "")
                    out[g]["jobs"] += 1
                    for sid in ev.get("Stage IDs", []):
                        stage_group.setdefault(sid, g)
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    g = stage_group.get(info["Stage ID"], "")
                    acc = out[g]
                    acc["stages"] += 1
                    acc["tasks"] += info.get("Number of Tasks", 0)
                    for a in info.get("Accumulables", []):
                        m = STAGE_METRICS.get(a.get("Name"))
                        if m is not None:
                            try:
                                acc[m[0]] += float(a["Value"]) * m[1]
                            except (TypeError, ValueError):
                                pass
    return {g: dict(v) for g, v in out.items()}
