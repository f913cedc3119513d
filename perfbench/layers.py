"""Per-layer readings: the trace recorder and Spark's own status readings.

Nothing here runs a Spark action. Counts come from the SQL status store
(read after each operation, once the listener bus is drained) and from
``StreamingQueryProgress``; spans come from timers the benchmark wraps
around its calls into each layer.
"""

from __future__ import annotations

import re
import statistics
import sys
import time
from contextlib import contextmanager

from distributed_causal_stream_processing_spark.benchlib import (
    _parse_metric_size,
    drain_listener_bus,
)

# SQL plan-metric name -> per-layer counter, with the value's kind
SQL_METRICS = {
    "size of files read": ("scan.bytes_read", "size"),
    "number of files read": ("scan.files_read", "count"),
    "scan time": ("scan.time_ms", "time"),
    "shuffle records written": ("shuffle.records_written", "count"),
    "shuffle bytes written": ("shuffle.bytes_written", "size"),
    "fetch wait time": ("shuffle.fetch_wait_ms", "time"),
    "spill size": ("spill.bytes", "size"),
    "time in aggregation build": ("agg.time_ms", "time"),
    "sort time": ("sort.time_ms", "time"),
    "data sent to Python workers": ("python.bytes_sent", "size"),
    "data returned from Python workers": ("python.bytes_returned", "size"),
}
PYTHON_NODE = re.compile(r"Pandas|ArrowEvalPython|PythonUDF|MapInArrow|ArrowPython")
_MS = {"ms": 1.0, "s": 1e3, "m": 6e4, "h": 3.6e6}


def _total(text: str) -> str:
    # per-task stats render as "total (min, med, max ...)\n<total> (...)"
    lines = text.strip().splitlines()
    return lines[-1] if lines else ""


def parse_metric(text: str, kind: str) -> float:
    """Numeric total of one formatted SQL metric value."""
    t = _total(text)
    if kind == "size":
        return float(_parse_metric_size(t))
    if kind == "time":
        m = re.match(r"\s*([\d.,]+)\s*(ms|s|m|h)\b", t)
        return float(m.group(1).replace(",", "")) * _MS[m.group(2)] if m else 0.0
    m = re.match(r"\s*([\d,]+)", t)
    return float(m.group(1).replace(",", "")) if m else 0.0


class StatusStore:
    """SQL executions as Spark's status store records them."""

    def __init__(self, spark):
        self.spark = spark
        self.store = spark._jsparkSession.sharedState().statusStore()

    def last_id(self) -> int:
        """Id of the newest SQL execution (-1 if none), after draining
        the listener bus so trailing executions are not missed."""
        drain_listener_bus(self.spark)
        lst = self.store.executionsList()
        return lst.apply(lst.size() - 1).executionId() if lst.size() else -1

    def ids_after(self, mark: int) -> list[int]:
        drain_listener_bus(self.spark)
        lst = self.store.executionsList()
        ids = (lst.apply(i).executionId() for i in range(lst.size()))
        return [i for i in ids if i > mark]

    def metrics(self, execution_id: int, into: dict) -> None:
        """Add one execution's plan metrics to the ``into`` counters."""
        values = self.store.executionMetrics(execution_id)
        nodes = self.store.planGraph(execution_id).allNodes()
        for j in range(nodes.size()):
            node = nodes.apply(j)
            python_node = bool(PYTHON_NODE.search(node.name()))
            ms = node.metrics()
            for k in range(ms.size()):
                m = ms.apply(k)
                name = m.name()
                if name in SQL_METRICS:
                    key, kind = SQL_METRICS[name]
                elif python_node and name == "number of output rows":
                    key, kind = "python.rows_returned", "count"
                else:
                    continue
                opt = values.get(m.accumulatorId())
                if opt.isDefined():
                    into[key] = into.get(key, 0.0) + parse_metric(opt.get(), kind)


class Tracer:
    """In-memory spans and counts; a disabled tracer records nothing.

    A span is ``{name, op, start, end, parent}`` with times in seconds
    from the tracer's creation; spans of one operation share ``op``
    (a child span inherits its parent's). Counts are summed per name
    and written out with the spans. ``own_s`` is the time the tracer
    itself spent reading Spark's status store: the part of a traced
    run that an untraced run does not do.
    """

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.t0 = time.perf_counter()
        self.spans: list[dict] = []
        self.counts: dict[str, float] = {}
        self.own_s = 0.0
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, op: str | None = None):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        if op is None and parent is not None:
            op = self.spans[parent]["op"]
        rec = {
            "name": name,
            "op": op,
            "start": time.perf_counter() - self.t0,
            "end": None,
            "parent": parent,
        }
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter() - self.t0

    def count(self, name: str, value: float = 1.0) -> None:
        if self.enabled:
            self.counts[name] = self.counts.get(name, 0.0) + value

    def mark(self, status: StatusStore) -> int | None:
        """The newest SQL execution id, to read the executions after it
        with :meth:`read`; None when disabled."""
        if not self.enabled:
            return None
        t0 = time.perf_counter()
        mark = status.last_id()
        self.own_s += time.perf_counter() - t0
        return mark

    def read(self, status: StatusStore, mark: int | None, counter: str | None = None) -> None:
        """Add the plan metrics of every SQL execution after ``mark`` to
        the counts, and one to ``counter`` for each execution."""
        if not self.enabled:
            return
        t0 = time.perf_counter()
        for eid in status.ids_after(mark):
            if counter:
                self.count(counter)
            status.metrics(eid, self.counts)
        self.own_s += time.perf_counter() - t0

    def total_s(self, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.spans if s["name"] == name)


@contextmanager
def traced_loads(tracer: Tracer):
    """Wrap ``io.load`` wherever the package bound it, so every fixture
    load is a span and a count; restore the bindings afterwards."""
    from distributed_causal_stream_processing_spark import io

    if not tracer.enabled:
        yield
        return
    original = io.load

    def load(spark, sf_dir, name):
        tracer.count("io.load_calls")
        with tracer.span("io.load"):
            return original(spark, sf_dir, name)

    patched = [
        m
        for n, m in list(sys.modules.items())
        if n.startswith("distributed_causal_stream_processing_spark")
        and getattr(m, "load", None) is original
    ]
    for m in patched:
        m.load = load
    try:
        yield
    finally:
        for m in patched:
            m.load = original


def jvm_peak_rss_mb(spark) -> float:
    """Peak resident set of the Spark driver JVM (VmHWM), in MiB."""
    mx = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    pid = int(mx.getRuntimeMXBean().getName().split("@")[0])
    with open(f"/proc/{pid}/status") as fh:
        kb = next(int(x.split()[1]) for x in fh if x.startswith("VmHWM:"))
    return kb / 1024.0


def median(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def tail(xs) -> dict | None:
    """The highest of p99/p95/p90/p75 with at least ten samples beyond
    it, or None when the run has too few samples for any of them."""
    n = len(xs)
    for p in (99, 95, 90, 75):
        if n * (100 - p) / 100 >= 10:
            q = statistics.quantiles(xs, n=100, method="inclusive")[p - 1]
            return {"percentile": p, "value": q, "samples": n}
    return None
