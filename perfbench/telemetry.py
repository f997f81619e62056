"""Counters and spans read from outside the engine.

Everything here reads public counters of the JVM (JMX beans through
py4j), Spark's status store (per job group) and Spark's
``CodegenMetrics``, or times calls into the engine's public functions.
Nothing in the engine is modified.
"""

from __future__ import annotations

import time
from contextlib import contextmanager
from dataclasses import dataclass, field


class JvmCounters:
    """Cumulative JIT, GC and Janino-codegen counters of the session's JVM."""

    def __init__(self, spark) -> None:
        jvm = spark.sparkContext._jvm
        mf = jvm.java.lang.management.ManagementFactory
        self._compilation = mf.getCompilationMXBean()
        self._gcs = list(mf.getGarbageCollectorMXBeans())
        self._codegen = (
            jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
        )
        self.pid = int(jvm.java.lang.ProcessHandle.current().pid())
        self._jvm = jvm
        self._memory = mf.getMemoryMXBean()

    def jit_ms(self) -> int:
        return int(self._compilation.getTotalCompilationTime())

    def snapshot(self) -> dict:
        return {
            "jit_ms": self.jit_ms(),
            "gc_ms": sum(int(b.getCollectionTime()) for b in self._gcs),
            "compiles": int(self._codegen.getCount()),
        }

    def codegen_mean_ms(self) -> float:
        """Mean Janino compile time over the histogram's reservoir."""
        return float(self._codegen.getSnapshot().getMean())

    def retained_mb(self) -> float:
        """Heap live after a full collection, plus non-heap (metaspace,
        code cache): what the session keeps between operations."""
        self._jvm.java.lang.System.gc()
        used = (self._memory.getHeapMemoryUsage().getUsed()
                + self._memory.getNonHeapMemoryUsage().getUsed())
        return used / (1 << 20)

    def peak_rss_mb(self) -> float:
        """VmHWM of the JVM process (its peak resident set)."""
        with open(f"/proc/{self.pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
        raise RuntimeError(f"no VmHWM for pid {self.pid}")


def _seq(scala_seq) -> list:
    return [scala_seq.apply(i) for i in range(scala_seq.size())]


def group_totals(spark, group: str) -> dict:
    """Sum stage metrics over every job run under ``group``.

    Waits for the listener bus first, so the status store holds every
    finished stage. Skipped stages (reused shuffle output) count as
    neither stages nor tasks.
    """
    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    store = jsc.statusStore()
    no_quantiles = sc._gateway.new_array(sc._jvm.double, 0)
    jobs = list(sc.statusTracker().getJobIdsForGroup(group))
    tot = dict(jobs=len(jobs), stages=0, tasks=0, run_ms=0, cpu_ms=0.0,
               input_bytes=0, shuffle_read_bytes=0, shuffle_write_bytes=0,
               spill_bytes=0)
    seen = set()
    for j in jobs:
        for sid in _seq(store.job(j).stageIds()):
            if sid in seen:
                continue
            seen.add(sid)
            for sd in _seq(store.stageData(sid, False, None, False, no_quantiles)):
                if str(sd.status()) == "SKIPPED":
                    continue
                tot["stages"] += 1
                tot["tasks"] += sd.numCompleteTasks()
                tot["run_ms"] += sd.executorRunTime()
                tot["cpu_ms"] += sd.executorCpuTime() / 1e6
                tot["input_bytes"] += sd.inputBytes()
                tot["shuffle_read_bytes"] += sd.shuffleReadBytes()
                tot["shuffle_write_bytes"] += sd.shuffleWriteBytes()
                tot["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
    return tot


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    op: str


@dataclass
class Tracer:
    """In-memory spans: name, start, end, parent and the op they belong to."""

    spans: list[Span] = field(default_factory=list)
    _stack: list[int] = field(default_factory=list)
    op: str = ""

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        s = Span(name, time.perf_counter(), 0.0, parent, self.op)
        self.spans.append(s)
        self._stack.append(len(self.spans) - 1)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()

    def wrap(self, name: str, fn):
        """``fn`` with every call recorded as a span called ``name``."""

        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    def self_times(self, ops: set[str]) -> dict[str, float]:
        """Seconds per span name, minus the time its child spans cover."""
        child_time = [0.0] * len(self.spans)
        for s in self.spans:
            if s.parent is not None:
                child_time[s.parent] += s.end - s.start
        out: dict[str, float] = {}
        for i, s in enumerate(self.spans):
            if s.op in ops:
                out[s.name] = out.get(s.name, 0.0) + (s.end - s.start) - child_time[i]
        return out

    def to_json(self) -> list[dict]:
        return [vars(s) for s in self.spans]


@contextmanager
def patched(targets: list[tuple[object, str]], tracer: Tracer, name: str):
    """Route ``module.attr`` through ``tracer.wrap`` for the duration."""
    saved = [(mod, attr, getattr(mod, attr)) for mod, attr in targets]
    try:
        for mod, attr, fn in saved:
            setattr(mod, attr, tracer.wrap(name, fn))
        yield
    finally:
        for mod, attr, fn in saved:
            setattr(mod, attr, fn)
