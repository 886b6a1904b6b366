"""Layer spans and counters recorded from outside the engine.

Used only by traced runs (``--trace 1``). Spans are kept in memory and
written out with the run's artifact when the benchmark ends.

- ``Tracer.span`` records wall time and, for single-threaded workloads,
  the job-id and stage-id deltas of the DAG scheduler over the span.
  Nested spans get the innermost share through ``stats.self_counts``.
- ``Tracer.wrap`` replaces engine functions, wherever a package module
  holds them as an attribute, by a wrapper that opens a span. Registry
  builders import operators inside their bodies, so patching the module
  attribute catches every call. ``functools.wraps`` keeps the name and
  module, so a wrapped function still pickles by reference.
- ``stage_metrics`` sums the status store's per-stage task metrics over a
  stage-id range; ``StreamStats`` collects micro-batch progress.
"""

from __future__ import annotations

import functools
import inspect
import re
import sys
import threading
import time
from contextlib import contextmanager

from pyspark.sql.streaming import StreamingQueryListener

_EXCHANGE = re.compile(r"(?<![A-Za-z])Exchange\b")
_BROADCAST = re.compile(r"BroadcastExchange")
_PYTHON = re.compile(
    r"(ArrowEvalPython|BatchEvalPython|FlatMapGroupsInPandas|"
    r"FlatMapCoGroupsInPandas|MapInPandas|MapInArrow|PythonMapInArrow|"
    r"AggregateInPandas|WindowInPandas|FlatMapGroupsInArrow|"
    r"TransformWithStateInPandas|FlatMapGroupsInPandasWithState)"
)


def plan_counts(plan: str) -> dict[str, int]:
    """Exchange, broadcast and Python-crossing nodes in a physical plan."""
    return {
        "exchanges": len(_EXCHANGE.findall(plan)),
        "broadcasts": len(_BROADCAST.findall(plan)),
        "python_nodes": len(_PYTHON.findall(plan)),
    }


def normalize_plan(plan: str) -> str:
    """A plan string without per-build identifiers: expression ids,
    plan ids, RDD ids and scratch paths."""
    plan = re.sub(r"#\d+L?", "#", plan)
    plan = re.sub(r"(plan_id|id)=#?\d+", r"\1=", plan)
    plan = re.sub(r"file:[^\s,\]\)]+", "file:", plan)
    return re.sub(r"\[\d+\]", "[]", plan)


class Tracer:
    def __init__(self, spark, counted: bool = True) -> None:
        self.spans: list[dict] = []
        self.counted = counted
        self._dag = spark.sparkContext._jsc.sc().dagScheduler()
        self._local = threading.local()
        self._lock = threading.Lock()
        self._wrappers: dict = {}
        self._patched: list[tuple] = []

    def ids(self) -> tuple[int, int]:
        """Next job id and next stage id of the DAG scheduler."""
        if not self.counted:
            return 0, 0
        return self._dag.nextJobId(), self._dag.nextStageId()

    @contextmanager
    def span(self, name: str, layer: str, **attrs):
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        j0, s0 = self.ids()
        rec = {
            "name": name, "layer": layer,
            "parent": stack[-1] if stack else None,
            "start": time.perf_counter(), **attrs,
        }
        with self._lock:
            idx = len(self.spans)
            self.spans.append(rec)
        stack.append(idx)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            j1, s1 = self.ids()
            rec.update(jobs=j1 - j0, stages=s1 - s0, stage_lo=s0, stage_hi=s1)
            stack.pop()

    def _wrapper(self, fn, name: str, layer: str):
        if fn not in self._wrappers:
            @functools.wraps(fn)
            def traced(*args, **kwargs):
                with self.span(name, layer):
                    return fn(*args, **kwargs)

            self._wrappers[fn] = traced
        return self._wrappers[fn]

    def wrap(self, package: str, targets: dict) -> None:
        """Patch every package-module attribute that holds a function in
        ``targets`` (function -> (span name, layer))."""
        for mod in [m for n, m in sys.modules.items() if n.startswith(package)]:
            for attr, val in list(vars(mod).items()):
                if inspect.isfunction(val) and val in targets:
                    name, layer = targets[val]
                    setattr(mod, attr, self._wrapper(val, name, layer))
                    self._patched.append((mod, attr, val))

    def unwrap(self) -> None:
        for mod, attr, val in reversed(self._patched):
            setattr(mod, attr, val)
        self._patched.clear()


def public_functions(module, prefix: str, package: str) -> dict:
    """``{function: (prefix.<module>.<name>, prefix)}`` for the public
    plain functions a module defines (pandas UDF objects excluded).
    ``<module>`` is the path below ``package``, without ``operators.``."""
    short = module.__name__[len(package) + 1:].removeprefix("operators.")
    return {
        fn: (f"{prefix}.{short}.{name}", prefix)
        for name, fn in vars(module).items()
        if inspect.isfunction(fn)
        and not name.startswith("_")
        and fn.__module__ == module.__name__
        and not hasattr(fn, "evalType")
    }


STAGE_FIELDS = (
    ("tasks", "numCompleteTasks", 1),
    ("task_run_s", "executorRunTime", 1e-3),
    ("task_cpu_s", "executorCpuTime", 1e-9),
    ("gc_s", "jvmGcTime", 1e-3),
    ("input_bytes", "inputBytes", 1),
    ("shuffle_read_bytes", "shuffleReadBytes", 1),
    ("shuffle_write_bytes", "shuffleWriteBytes", 1),
    ("spill_bytes", "diskBytesSpilled", 1),
)


def stage_metrics(spark, lo: int, hi: int) -> dict[str, float]:
    """Task metrics summed over stages ``lo <= id < hi`` (skipped or
    evicted stages count zero). Call after ``drain``."""
    store = spark.sparkContext._jsc.sc().statusStore()
    out = {key: 0.0 for key, _, _ in STAGE_FIELDS}
    for sid in range(lo, hi):
        try:
            data = store.lastStageAttempt(sid)
        except Exception:
            continue
        for key, getter, unit in STAGE_FIELDS:
            out[key] += getattr(data, getter)() * unit
        out["spill_bytes"] += data.memoryBytesSpilled()
    return out


def drain(spark) -> None:
    """Wait until the listener bus has delivered every queued event."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()


class StreamStats(StreamingQueryListener):
    """Collects each micro-batch's phase durations and state size."""

    def __init__(self) -> None:
        self.batches: list[dict] = []

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        p = event.progress
        self.batches.append({
            "input_rows": p.numInputRows,
            "duration_ms": dict(p.durationMs),
            "state_rows": sum(s.numRowsTotal for s in p.stateOperators),
            "state_bytes": sum(s.memoryUsedBytes for s in p.stateOperators),
        })

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass
