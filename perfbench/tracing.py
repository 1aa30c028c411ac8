"""Span tracing and JVM counters for the benchmark's traced run.

Spans are recorded from the benchmark's own files, around the calls it
makes into each layer of the engine (``session``, ``catalog``, ``plans``,
Catalyst, JVM execution, ``sources``/``sinks``, ``oracle``). A layer's
self time is its spans' duration minus the part covered by child spans.

Counters come from Spark's own status stores, read after each action:
job/stage/task counts and shuffle/spill bytes from the core
``AppStatusStore`` for the jobs of the query's job group, operator
metrics (Python-boundary, aggregate fallback) from the SQL status
store's per-execution metric values.
"""

from __future__ import annotations

import contextlib
import json
import re
import sys
import time
from collections import defaultdict
from collections.abc import Iterator
from typing import Any

from py4j.protocol import Py4JJavaError


class Tracer:
    """In-memory span recorder. ``enabled`` is toggled per pass so that
    traced and untraced passes can interleave in one process."""

    def __init__(self) -> None:
        self.enabled = False
        self.spans: list[dict[str, Any]] = []
        self._stack: list[dict[str, Any]] = []

    @contextlib.contextmanager
    def span(self, layer: str, name: str) -> Iterator[None]:
        if not self.enabled:
            yield
            return
        rec = {
            "id": len(self.spans), "layer": layer, "name": name,
            "parent": self._stack[-1]["id"] if self._stack else None,
            "child_s": 0.0,
        }
        self.spans.append(rec)
        self._stack.append(rec)
        rec["start"] = time.perf_counter()
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            dur = rec["end"] - rec["start"]
            if self._stack:
                self._stack[-1]["child_s"] += dur

    def self_times(self, spans: list[dict[str, Any]] | None = None) -> dict[str, float]:
        out: dict[str, float] = defaultdict(float)
        for s in self.spans if spans is None else spans:
            out[s["layer"]] += s["end"] - s["start"] - s["child_s"]
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


def wrap_function(
    package: str, module: Any, name: str, tracer: Tracer, layer: str
) -> None:
    """Route every package-level reference to ``module.<name>`` through a
    span. Plan modules import layer functions by name, so each
    ``sys.modules`` entry under ``package`` holding the original
    function object is rebound, not only ``module`` itself."""
    orig = getattr(module, name)

    def traced(*a: Any, **kw: Any) -> Any:
        with tracer.span(layer, name):
            return orig(*a, **kw)

    for mod_name, mod in list(sys.modules.items()):
        if mod_name.startswith(package) and getattr(mod, name, None) is orig:
            setattr(mod, name, traced)


_NUM = re.compile(r"([0-9][0-9,]*(?:\.[0-9]+)?)\s*([A-Za-z]*)")
_SCALE = {
    "": 1, "B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40,
    "ms": 1, "s": 1e3, "m": 6e4, "min": 6e4, "h": 3.6e6,
}


def parse_metric(text: str) -> float:
    """Total of one SQL-store metric string: ``'1,234'``, ``'1.3 s'``
    (as ms), ``'235.4 KiB'`` (as bytes), or the multi-task form
    ``'total (min, med, max ...)\\n4.4 s (...)'``."""
    line = text.split("\n", 1)[1] if "\n" in text else text
    m = _NUM.search(line)
    if m is None:
        return 0.0
    return float(m.group(1).replace(",", "")) * _SCALE.get(m.group(2), 1)


# SQL metric display name -> per-layer counter it feeds
SQL_METRICS = {
    "time to start Python workers": "python.boot_ms",
    "time to initialize Python workers": "python.init_ms",
    "time to run Python workers": "python.total_ms",
    "data sent to Python workers": "python.bytes_sent",
    "data returned from Python workers": "python.bytes_received",
    "number of sort fallback tasks": "aggregate.fallback_tasks",
}
STAGE_COUNTERS = (
    "exec.jobs", "exec.stages", "exec.tasks", "exec.failed_tasks",
    "exchange.shuffle_write_bytes", "exchange.shuffle_records",
    "exec.spill_bytes",
)


class JvmCounters:
    """Reads per-action counters from Spark's status stores."""

    def __init__(self, spark: Any) -> None:
        self.sc = spark.sparkContext
        jsc = self.sc._jsc.sc()
        self.bus = jsc.listenerBus()
        self.store = jsc.statusStore()
        self.sql_store = spark._jsparkSession.sharedState().statusStore()
        self.next_execution = 0

    def _executions(self) -> Iterator[int]:
        """Ids of SQL executions started since the previous call."""
        misses, eid = 0, self.next_execution
        while misses < 8:
            if self.sql_store.execution(eid).isDefined():
                misses = 0
                self.next_execution = eid + 1
                yield eid
            else:
                misses += 1
            eid += 1

    def mark(self) -> None:
        """Skip the executions of untraced work done since the last read."""
        self.bus.waitUntilEmpty(30_000)
        for _ in self._executions():
            pass

    def read(self, group: str) -> dict[str, float]:
        """Counters of every job run under ``group`` and every SQL
        execution started since the previous read."""
        self.bus.waitUntilEmpty(30_000)
        out = dict.fromkeys((*STAGE_COUNTERS, *SQL_METRICS.values()), 0.0)
        tracker = self.sc.statusTracker()
        for job in tracker.getJobIdsForGroup(group):
            out["exec.jobs"] += 1
            info = tracker.getJobInfo(job)
            for stage in info.stageIds if info else ():
                try:
                    sd = self.store.lastStageAttempt(stage)
                except Py4JJavaError:  # skipped stage: never submitted
                    continue
                out["exec.stages"] += 1
                out["exec.tasks"] += sd.numTasks()
                out["exec.failed_tasks"] += sd.numFailedTasks()
                out["exchange.shuffle_write_bytes"] += sd.shuffleWriteBytes()
                out["exchange.shuffle_records"] += sd.shuffleWriteRecords()
                out["exec.spill_bytes"] += sd.memoryBytesSpilled()
        for eid in self._executions():
            values = self.sql_store.executionMetrics(eid)
            seen: set[int] = set()
            nodes = self.sql_store.planGraph(eid).allNodes().iterator()
            while nodes.hasNext():
                metrics = nodes.next().metrics().iterator()
                while metrics.hasNext():
                    m = metrics.next()
                    key = SQL_METRICS.get(m.name())
                    acc = m.accumulatorId()
                    if key is None or acc in seen:
                        continue
                    seen.add(acc)
                    v = values.get(acc)
                    if v.isDefined():
                        out[key] += parse_metric(v.get())
        return out


def jvm_peak_rss_mb(spark: Any) -> float:
    """``VmHWM`` of the driver JVM (peak resident set), in MiB."""
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0
