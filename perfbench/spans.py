"""Spans and counters read from outside the engine's layers.

A :class:`Tracer` records one span per call into a layer (name, start,
end, parent, run id). Each span tags the Spark work it causes with its own
job group, and on exit reads that group's stages from Spark's in-process
status store. Reading per group right after the span matters: the store
keeps only the last ``spark.ui.retainedStages`` stages, so totals taken
over the whole stage list go wrong within a single pass.

Nothing here changes the program. ``count_load_table`` wraps the public
``load_table`` function where the program's modules bound it, and
``unwrap`` restores it.
"""

from __future__ import annotations

import gc
import json
import os
import sys
import time
from collections.abc import Callable, Iterator
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

from py4j.protocol import Py4JJavaError

MB = 1024 * 1024


@dataclass
class StageTotals:
    """Status-store totals over the stages of a set of jobs."""

    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    run_s: float = 0.0
    cpu_s: float = 0.0
    shuffle_read_mb: float = 0.0
    shuffle_write_mb: float = 0.0
    spill_mb: float = 0.0
    gc_s: float = 0.0
    input_mb: float = 0.0

    def __add__(self, other: StageTotals) -> StageTotals:
        return StageTotals(**{k: getattr(self, k) + getattr(other, k) for k in asdict(self)})


class SparkProbe:
    """Job-group tagging and per-group stage totals for one SparkContext."""

    def __init__(self, spark) -> None:
        self._sc = spark.sparkContext
        self._jsc = self._sc._jsc.sc()
        self._store = self._jsc.statusStore()
        self._tracker = self._sc.statusTracker()

    def current_group(self) -> str | None:
        return self._sc.getLocalProperty("spark.jobGroup.id")

    def set_group(self, group: str | None) -> None:
        if group is None:
            self._sc._jsc.clearJobGroup()
        else:
            self._sc.setJobGroup(group, group)

    def totals(self, group: str) -> StageTotals:
        """Totals for the jobs of ``group``, once the listener has seen them."""
        self._jsc.listenerBus().waitUntilEmpty()
        out = StageTotals()
        for job_id in self._tracker.getJobIdsForGroup(group):
            out.jobs += 1
            info = self._tracker.getJobInfo(job_id)
            for stage_id in info.stageIds if info is not None else ():
                try:
                    sd = self._store.lastStageAttempt(stage_id)
                except Py4JJavaError:
                    # trimmed from the store, which trims skipped stages
                    # first; the group's ran stages are too recent to go
                    continue
                tasks = sd.numCompleteTasks()
                if tasks == 0:  # skipped: its output was reused
                    continue
                out.stages += 1
                out.tasks += tasks
                out.cpu_s += sd.executorCpuTime() / 1e9
                out.run_s += sd.executorRunTime() / 1e3
                out.shuffle_read_mb += sd.shuffleReadBytes() / MB
                out.shuffle_write_mb += sd.shuffleWriteBytes() / MB
                out.spill_mb += (sd.memoryBytesSpilled() + sd.diskBytesSpilled()) / MB
                out.gc_s += sd.jvmGcTime() / 1e3
                out.input_mb += sd.inputBytes() / MB
        return out

    @contextmanager
    def group(self, name: str) -> Iterator[None]:
        prev = self.current_group()
        self.set_group(name)
        try:
            yield
        finally:
            self.set_group(prev)


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    run_id: str
    start: float
    end: float = 0.0
    spark: StageTotals = field(default_factory=StageTotals)  # includes children

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory spans for one run; :meth:`write` saves them at the end.

    A disabled tracer records nothing and touches no Spark state, so an
    untraced run pays nothing for it.
    """

    def __init__(self, run_id: str, probe: SparkProbe, enabled: bool) -> None:
        self.run_id = run_id
        self.enabled = enabled
        self.probe = probe
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    @contextmanager
    def span(self, name: str) -> Iterator[Span | None]:
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        sp = Span(len(self.spans), name, parent.id if parent else None, self.run_id, time.perf_counter())
        self.spans.append(sp)
        self._stack.append(sp)
        group = f"{self.run_id}/{sp.id}"
        try:
            with self.probe.group(group):
                yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            # children closed first and already added theirs
            sp.spark = sp.spark + self.probe.totals(group)
            if parent is not None:
                parent.spark = parent.spark + sp.spark

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump([{**asdict(s), "seconds": s.seconds} for s in self.spans], fh)


# ---------------------------------------------------------------------------
# load_table calls, read by wrapping the function the plan modules bind
# ---------------------------------------------------------------------------

_PROGRAM = "counsel_data_pipeline_spark"


def count_load_table(tracer: Tracer) -> Callable[[], None]:
    """Route every bound ``load_table`` of the program through an
    ``io.load_table`` span. Returns a function that restores the originals."""
    from counsel_data_pipeline_spark.io import sources

    original = sources.load_table

    def load_table(spark, sf_dir, name):
        with tracer.span("io.load_table"):
            return original(spark, sf_dir, name)

    patched = []
    for mod_name, mod in list(sys.modules.items()):
        if mod_name.startswith(_PROGRAM) and getattr(mod, "load_table", None) is original:
            mod.load_table = load_table
            patched.append(mod)

    def unwrap() -> None:
        for mod in patched:
            mod.load_table = original

    return unwrap


# ---------------------------------------------------------------------------
# weather and memory
# ---------------------------------------------------------------------------


def cpu_times() -> list[int]:
    """Aggregate jiffies from /proc/stat: user nice system idle iowait irq
    softirq steal."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:9]]


def weather(before: list[int], after: list[int]) -> dict[str, float]:
    delta = [b - a for a, b in zip(before, after)]
    total = sum(delta) or 1
    with open("/proc/loadavg") as fh:
        load = float(fh.read().split()[0])
    return {
        "host.steal_pct": 100.0 * delta[7] / total,
        "host.idle_pct": 100.0 * delta[3] / total,
        "host.load_1m": load,
    }


def retained_mb(spark) -> dict[str, float]:
    """Memory the run still holds: live JVM heap after a full GC, JVM
    non-heap, and the Python driver's resident set."""
    gc.collect()  # drop Python proxies so the JVM objects behind them can go
    jvm = spark.sparkContext._jvm
    # the first collection queues Spark's unreferenced broadcasts and shuffles
    # for the context cleaner; the second collects what the cleaner released
    jvm.java.lang.System.gc()
    time.sleep(1.0)
    jvm.java.lang.System.gc()
    mx = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    with open("/proc/self/status") as fh:
        rss_kb = next(int(line.split()[1]) for line in fh if line.startswith("VmRSS:"))
    return {
        "heap": mx.getHeapMemoryUsage().getUsed() / MB,
        "non_heap": mx.getNonHeapMemoryUsage().getUsed() / MB,
        "python": rss_kb / 1024.0,
    }


def peak_rss_mb(pids: list[int]) -> float:
    """Sum of VmHWM (peak resident set) over ``pids``."""
    total_kb = 0
    for pid in pids:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    total_kb += int(line.split()[1])
    return total_kb / 1024.0
