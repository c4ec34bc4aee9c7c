"""Spans and Spark counters recorded from outside the engine.

A span is one timed call into a layer: name, start, end, parent span and
the rep it belongs to. Each span runs its Spark jobs under its own job
group; right after the span ends its counters are read from the live
status store (``statusTracker().getJobIdsForGroup`` + ``statusStore()
.stageData``), because the store keeps only ``spark.ui.retainedStages``
stages. Spans stay in memory and are written out once, when the run ends.

With tracing off, :meth:`Tracer.span` only yields: no job group, no
counter reads, nothing kept.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

WARMUP = "warmup"
COUNTERS = ("jobs", "cpu_ms", "shuffle_write_bytes", "spill_bytes", "input_bytes", "output_bytes")


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    rep: str
    start: float
    end: float = 0.0
    counters: dict = field(default_factory=dict)
    attrs: dict = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[Span] = []
        self.rep = WARMUP
        self._stack: list[Span] = []

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        sc = self.spark.sparkContext
        s = Span(len(self.spans), name, self._stack[-1].id if self._stack else None,
                 self.rep, time.perf_counter(), attrs=dict(attrs))
        self.spans.append(s)
        self._stack.append(s)
        group = f"perfbench-{s.id}"
        sc.setJobGroup(group, name)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            if self._stack:
                sc.setJobGroup(f"perfbench-{self._stack[-1].id}", self._stack[-1].name)
            else:
                sc._jsc.clearJobGroup()
            s.counters = group_counters(sc, group)

    def total(self, span: Span, counter: str) -> float:
        """``counter`` over ``span`` and every span below it."""
        kids = [c for c in self.spans if c.parent == span.id]
        return span.counters.get(counter, 0) + sum(self.total(c, counter) for c in kids)

    def find(self, name: str) -> list[Span]:
        """Spans called ``name``, warm-up reps left out."""
        return [s for s in self.spans if s.name == name and s.rep != WARMUP]

    def dump(self, path: str, extra: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({**extra, "spans": [asdict(s) for s in self.spans]}, f)


def group_counters(sc, group: str) -> dict:
    """Jobs, executor CPU ms, shuffle-write, spill, input and output bytes
    of every stage the jobs of ``group`` ran (skipped stages read 0)."""
    jvm = sc._jvm
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    job_ids = tracker.getJobIdsForGroup(group)
    stage_ids = set()
    for j in job_ids:
        info = tracker.getJobInfo(j)
        if info is not None:
            stage_ids.update(info.stageIds)
    out = dict.fromkeys(COUNTERS, 0)
    out["jobs"] = len(job_ids)
    no_tasks, no_quantiles = jvm.java.util.ArrayList(), sc._gateway.new_array(jvm.double, 0)
    for sid in stage_ids:
        seq = store.stageData(sid, False, no_tasks, False, no_quantiles)
        for i in range(seq.size()):
            sd = seq.apply(i)
            out["cpu_ms"] += sd.executorCpuTime() / 1e6
            out["shuffle_write_bytes"] += sd.shuffleWriteBytes()
            out["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
            out["input_bytes"] += sd.inputBytes()
            out["output_bytes"] += sd.outputBytes()
    return out


class HostSampler:
    """Load average and the CPU-steal share of ``/proc/stat`` jiffies,
    sampled around each rep, so a slow rep can be told from a busy host."""

    def __init__(self):
        self.samples: list[dict] = []
        self._last = _cpu_jiffies()

    def sample(self, rep: str) -> dict:
        now = _cpu_jiffies()
        total = sum(now) - sum(self._last)
        steal = now[7] - self._last[7] if len(now) > 7 else 0
        self._last = now
        s = {"rep": rep, "loadavg_1m": os.getloadavg()[0],
             "steal_pct": 100.0 * steal / total if total > 0 else 0.0}
        self.samples.append(s)
        return s


def _cpu_jiffies() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def process_age_s() -> float:
    """Seconds since this process started, from ``/proc/self/stat`` and
    ``/proc/uptime`` — a cold set-up timed from the real process start,
    interpreter start-up included."""
    with open("/proc/self/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    start_ticks = int(fields[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def jvm_peak_rss_mb(spark) -> float:
    """High-water resident set (VmHWM) of the driver JVM, in MiB."""
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM in /proc/{pid}/status")


def jvm_args(spark) -> list[str]:
    mx = spark.sparkContext._jvm.java.lang.management.ManagementFactory.getRuntimeMXBean()
    return list(mx.getInputArguments())
