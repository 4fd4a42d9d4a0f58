"""Measurement helpers: process-tree CPU and memory from /proc, Spark's
per-operator SQL metrics from the status store, JVM GC time, and spans.

Nothing here changes what the program does; every reading is taken
outside the timed region except the RSS sampler, a thread that reads one
small /proc file per process every 50 ms.
"""

from __future__ import annotations

import os
import re
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

_CLK_TCK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat", "rb") as fh:
            raw = fh.read().decode()
    except OSError:  # the process ended between listing and reading
        return None
    # the command name may hold spaces; fields resume after the last ')'
    return raw[raw.rindex(")") + 2 :].split()


def tree_pids(root: int | None = None) -> list[int]:
    """``root`` and all its live descendants."""
    root = os.getpid() if root is None else root
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            f = _stat_fields(int(name))
            if f is not None:
                children.setdefault(int(f[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s(root: int | None = None) -> float:
    """CPU seconds used by the process tree so far: user + system time of
    each live process plus that of its ended, reaped children."""
    ticks = 0
    for pid in tree_pids(root):
        f = _stat_fields(pid)
        if f is not None:  # utime, stime, cutime, cstime
            ticks += sum(int(x) for x in f[11:15])
    return ticks / _CLK_TCK


def host_steal_s() -> float:
    """CPU time the hypervisor gave to other guests while this host's
    CPUs wanted to run, summed over CPUs (the 'steal' field of
    /proc/stat). Recorded beside the walls to explain outliers."""
    with open("/proc/stat", encoding="ascii") as fh:
        return int(fh.readline().split()[8]) / _CLK_TCK


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm", "rb") as fh:
            return int(fh.read().split()[1]) * _PAGE
    except OSError:
        return 0


def _age_s(pid: int) -> float:
    f = _stat_fields(pid)
    if f is None:
        return 0.0
    with open("/proc/uptime", encoding="ascii") as fh:
        uptime = float(fh.read().split()[0])
    return uptime - int(f[19]) / _CLK_TCK  # field 22: start time


class RssSampler:
    """Peak of the summed RSS of the process tree, sampled every 50 ms
    while the ``with`` block runs. The tree is re-listed once a second so
    Python workers started mid-pass are counted. Processes younger than a
    second are left out: a helper the JVM spawns shares the JVM's memory
    until it execs, and counting it would add the JVM's RSS a second
    time."""

    def __init__(self, interval: float = 0.05):
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        pids, listed = [], 0.0
        while not self._stop.is_set():
            now = time.monotonic()
            if now - listed > 1.0:
                pids = [p for p in tree_pids() if _age_s(p) >= 1.0]
                listed = now
            self.peak = max(self.peak, sum(_rss_bytes(p) for p in pids))
            self._stop.wait(self.interval)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


def jvm_gc_s(spark) -> float:
    """Total collection time of the driver JVM's garbage collectors. In
    local mode the driver JVM runs every task."""
    beans = spark._jvm.java.lang.management.ManagementFactory
    return sum(
        b.getCollectionTime() for b in beans.getGarbageCollectorMXBeans()
    ) / 1000.0


def jvm_jit_s(spark) -> float:
    """Total time the driver JVM's JIT compilers have spent compiling."""
    mx = spark._jvm.java.lang.management.ManagementFactory
    return mx.getCompilationMXBean().getTotalCompilationTime() / 1000.0


def engine_delta(spark, fn):
    """Run ``fn``; (its result, the JVM GC and JIT seconds it took)."""
    gc0, jit0 = jvm_gc_s(spark), jvm_jit_s(spark)
    out = fn()
    return out, {"jvm.gc_s": jvm_gc_s(spark) - gc0, "jvm.jit_s": jvm_jit_s(spark) - jit0}


# -- Spark SQL metrics ------------------------------------------------------

_UNITS = {
    "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
    "B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40,
}
_VALUE = re.compile(r"^\s*([\d,.]+)\s*([A-Za-z]*)")


def parse_metric(text: str) -> float:
    """A status-store metric string -> seconds, bytes or a count. Timing
    and size metrics read 'total (min, med, max ...)\\n<total> (...)';
    counts read '40,634'."""
    m = _VALUE.match(text.splitlines()[-1])
    if m is None:
        raise ValueError(f"unparsable SQL metric {text!r}")
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1)


@dataclass
class PlanNode:
    execution_id: int
    name: str
    desc: str
    metrics: dict[str, float]


def last_execution_id(spark) -> int:
    store = spark._jsparkSession.sharedState().statusStore()
    execs = store.executionsList()
    return execs.apply(execs.size() - 1).executionId() if execs.size() else -1


def plan_nodes(spark, after_id: int, upto_id: int | None = None) -> list[PlanNode]:
    """Every plan node, with its SQL metrics, of the executions with
    after_id < id <= upto_id (read in-process; works with the UI
    disabled)."""
    jvm = spark._jvm
    conv = jvm.scala.jdk.javaapi.CollectionConverters
    store = spark._jsparkSession.sharedState().statusStore()
    nodes = []
    for e in conv.asJava(store.executionsList()):
        eid = e.executionId()
        if eid <= after_id or (upto_id is not None and eid > upto_id):
            continue
        values = conv.asJava(store.executionMetrics(eid))
        for node in conv.asJava(store.planGraph(eid).allNodes()):
            metrics = {}
            for m in conv.asJava(node.metrics()):
                text = values.get(m.accumulatorId())
                if text is not None and m.metricType() != "average":
                    metrics[m.name()] = parse_metric(text)
            nodes.append(PlanNode(eid, node.name().strip(), node.desc(), metrics))
    return nodes


def metric_sum(nodes: list[PlanNode], node_prefix: str, metric: str) -> float:
    return sum(
        n.metrics.get(metric, 0.0)
        for n in nodes
        if n.name.startswith(node_prefix)
    )


# -- spans --------------------------------------------------------------------


@dataclass
class Tracer:
    """Spans (name, start, end, parent) kept in memory, written at the
    end of the run. Times are seconds from the tracer's creation."""

    t0: float = field(default_factory=time.perf_counter)
    spans: list[dict] = field(default_factory=list)
    _stack: list[int] = field(default_factory=list)

    @contextmanager
    def span(self, name: str):
        idx = len(self.spans)
        parent = self.spans[self._stack[-1]]["id"] if self._stack else None
        rec = {"id": idx, "name": name, "parent": parent,
               "start": time.perf_counter() - self.t0, "end": None}
        self.spans.append(rec)
        self._stack.append(idx)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter() - self.t0
