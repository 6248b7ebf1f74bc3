"""In-memory span tracing around the program's public functions.

The tracer wraps functions from outside: every module of the package
that holds a reference to a wrapped function (``from ... import
table`` binds the name in the importing module) gets the wrapper in
its place, so calls are recorded no matter how they were imported.
Each span carries the deltas of Spark's own counters over its
interval, read through py4j from the application status store:
executor task totals and the job count. Spans stay in memory and are
written out with their self times when the run ends.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import json
import os
import sys
import time
from dataclasses import dataclass, field

PACKAGE = "spotify_podcasts_airflow_batch_spark"

# executor-summary getters → counter names
_EXEC_COUNTERS = {
    "tasks": "totalTasks",
    "task_ms": "totalDuration",
    "gc_ms": "totalGCTime",
    "input_bytes": "totalInputBytes",
    "shuffle_read_bytes": "totalShuffleRead",
    "shuffle_write_bytes": "totalShuffleWrite",
    "failed_tasks": "failedTasks",
}


class SparkCounters:
    """Cumulative counters of one SparkContext, read from its status
    store. Reads first drain the listener bus, so every task that has
    ended is counted. Jobs and stages are found by walking the store's
    id-ordered views from the newest entry down, which costs a few py4j
    round trips and never raises."""

    def __init__(self, spark):
        jsc = spark.sparkContext._jsc.sc()
        jvm = spark.sparkContext._jvm
        self._bus = jsc.listenerBus()
        self._store = jsc.statusStore()
        self._kv = self._store.store()
        self._jobs = jvm.java.lang.Class.forName("org.apache.spark.status.JobDataWrapper")
        self._stages = jvm.java.lang.Class.forName(
            "org.apache.spark.status.StageDataWrapper"
        )
        self._next_stage = 0
        self._stage_totals = {"cpu_ns": 0, "input_rows": 0, "spill_bytes": 0}
        self.stage_totals()  # skip what ran before the tracer existed
        self._stage_totals = dict.fromkeys(self._stage_totals, 0)

    def _newest(self, cls):
        """Info objects of ``cls`` wrappers, newest id first."""
        it = self._kv.view(cls).reverse().closeableIterator()
        try:
            while it.hasNext():
                yield it.next().info()
        finally:
            it.close()

    def read(self) -> dict:
        self._bus.waitUntilEmpty()
        ex = self._store.executorSummary("driver")
        out = {k: int(getattr(ex, g)()) for k, g in _EXEC_COUNTERS.items()}
        out["jobs"] = next((j.jobId() + 1 for j in self._newest(self._jobs)), 0)
        return out

    def stage_totals(self) -> dict:
        """CPU time, rows read and spilled bytes summed over every stage
        attempt seen so far."""
        self._bus.waitUntilEmpty()
        first, top = self._next_stage, self._next_stage
        for st in self._newest(self._stages):
            sid = st.stageId()
            if sid < first:
                break
            top = max(top, sid + 1)
            self._stage_totals["cpu_ns"] += int(st.executorCpuTime())
            self._stage_totals["input_rows"] += int(st.inputRecords())
            self._stage_totals["spill_bytes"] += int(st.memoryBytesSpilled()) + int(
                st.diskBytesSpilled()
            )
        self._next_stage = top
        return dict(self._stage_totals)


@dataclass
class Span:
    name: str
    op: int
    parent: int | None
    start: float
    wall: float = 0.0  # time.time() at start, for file mtimes
    end: float = 0.0
    counters: dict = field(default_factory=dict)
    attrs: dict = field(default_factory=dict)
    self_s: float = 0.0


def _diff(a: dict, b: dict) -> dict:
    return {k: b[k] - a[k] for k in b}


class Tracer:
    def __init__(self, spark):
        self.counters = SparkCounters(spark)
        self.spans: list[Span] = []
        self.enabled = False
        self.op = -1
        self._stack: list[int] = []

    # -- spans ---------------------------------------------------------

    def begin(self, name: str, **attrs) -> int:
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        span = Span(name, self.op, parent, 0.0, attrs=attrs)
        span.counters = self.counters.read()
        span.wall = time.time()
        span.start = time.perf_counter()
        self.spans.append(span)
        self._stack.append(sid)
        return sid

    def end(self, sid: int, **attrs) -> Span:
        span = self.spans[sid]
        span.end = time.perf_counter()
        span.counters = _diff(span.counters, self.counters.read())
        span.attrs.update(attrs)
        self._stack.pop()
        return span

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        """Record the enclosed block as a span while tracing is enabled."""
        if not self.enabled:
            yield
            return
        sid = self.begin(name, **attrs)
        try:
            yield
        except BaseException:
            self.end(sid, error=True)
            raise
        self.end(sid)

    # -- patching ------------------------------------------------------

    def wrap_function(self, module_name: str, attr: str, span_name: str, on_end=None):
        """Replace ``module.attr`` and every package-module reference to
        the same function object with a recording wrapper."""
        orig = getattr(importlib.import_module(module_name), attr)
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            if not tracer.enabled:
                return orig(*args, **kwargs)
            sid = tracer.begin(span_name)
            try:
                result = orig(*args, **kwargs)
            except BaseException:
                tracer.end(sid, error=True)
                raise
            span = tracer.end(sid)
            if on_end is not None:
                on_end(span, args, kwargs, result)
            return result

        for name, mod in list(sys.modules.items()):
            if name == module_name or name.startswith(PACKAGE + "."):
                for a, v in list(vars(mod).items()):
                    if v is orig:
                        setattr(mod, a, wrapper)

    def wrap_method(self, cls, attr: str, span_name: str):
        orig = cls.__dict__[attr]
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            with tracer.span(span_name):
                return orig(*args, **kwargs)

        setattr(cls, attr, wrapper)

    # -- output --------------------------------------------------------

    def finish(self, path: str) -> None:
        """Compute self times (duration minus the time covered by child
        spans) and write every span as one JSON line."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s.parent is not None:
                child[s.parent] += s.end - s.start
        for i, s in enumerate(self.spans):
            s.self_s = max((s.end - s.start) - child[i], 0.0)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            for i, s in enumerate(self.spans):
                fh.write(
                    json.dumps(
                        {
                            "id": i,
                            "name": s.name,
                            "op": s.op,
                            "parent": s.parent,
                            "start": s.start,
                            "end": s.end,
                            "self_s": s.self_s,
                            "counters": s.counters,
                            "attrs": s.attrs,
                        }
                    )
                    + "\n"
                )
