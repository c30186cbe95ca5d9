"""Outside-in layer record: spans around each call into the program, and
the Spark counters behind each call.

A span has a name, start, end, parent and op id, and lives in memory
until :meth:`Recorder.write` runs at the end. With tracing on, a call
into a layer runs under its own Spark job group; after it returns, the
group's jobs are looked up through the status tracker and every stage
is read from the status store (tasks, executor run and CPU time, input,
shuffle and spill bytes). Bytes written come from the JVM's
``/proc/<pid>/io``. With tracing off, spans are only timed.
"""

from __future__ import annotations

import json
import os
import time
import uuid
from collections import Counter, defaultdict
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError

_STAGE_FIELDS = {
    "tasks": "numTasks",
    "run_s": "executorRunTime",  # ms
    "cpu_s": "executorCpuTime",  # ns
    "input_bytes": "inputBytes",
    "shuffle_read_bytes": "shuffleReadBytes",
    "shuffle_write_bytes": "shuffleWriteBytes",
    "memory_spill_bytes": "memoryBytesSpilled",
    "disk_spill_bytes": "diskBytesSpilled",
}
_SCALE = {"run_s": 1e-3, "cpu_s": 1e-9}


def proc_io(pid: int) -> dict[str, int]:
    with open(f"/proc/{pid}/io") as f:
        return {k: int(v) for k, v in (line.split(":") for line in f)}


def proc_cpu_s(pid: int, children: bool = False) -> float:
    """CPU seconds of ``pid`` (plus its reaped children's, if asked)."""
    with open(f"/proc/{pid}/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    ticks = sum(int(v) for v in fields[11:15 if children else 13])
    return ticks / os.sysconf("SC_CLK_TCK")


def descendants(pid: int) -> list[int]:
    """Pids below ``pid`` (the JVM's Python workers)."""
    children: dict[int, list[int]] = defaultdict(list)
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except OSError:
                continue
            children[ppid].append(int(d))
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), ()):
            out.append(c)
            todo.append(c)
    return out


def host_cpu_ticks() -> tuple[int, int, int]:
    """(busy, steal, total) jiffies from the aggregate line of /proc/stat."""
    with open("/proc/stat") as f:
        vals = [int(v) for v in f.readline().split()[1:]]
    idle, steal = vals[3] + vals[4], vals[7]
    return sum(vals) - idle - steal, steal, sum(vals)


class Span:
    __slots__ = ("name", "layer", "op_id", "parent", "start", "end", "group", "counters")

    def __init__(self, name, layer, op_id, parent):
        self.name, self.layer, self.op_id, self.parent = name, layer, op_id, parent
        self.start = self.end = 0.0
        self.group = None
        self.counters: dict[str, float] = {}

    @property
    def seconds(self) -> float:
        return self.end - self.start

    def as_dict(self, idx: int) -> dict:
        return {
            "id": idx, "name": self.name, "layer": self.layer, "op_id": self.op_id,
            "parent": self.parent, "start": self.start, "end": self.end,
            "counters": self.counters,
        }


class Recorder:
    """Times every call the benchmark makes into the program. With
    ``trace`` it also keeps the spans and reads each layer call's Spark
    counters; the bookkeeping time is itself measured (``overhead_s``)."""

    def __init__(self, spark, trace: bool):
        self.trace = trace
        self.sc = spark.sparkContext
        self.jvm_pid = self.sc._gateway.proc.pid
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self.overhead_s = 0.0
        self.totals: dict[str, Counter] = defaultdict(Counter)
        self.counted_stages: set[int] = set()
        if trace:
            jsc = self.sc._jsc.sc()
            self._tracker = self.sc.statusTracker()
            self._status = jsc.statusStore()
            self._bus = jsc.listenerBus()

    @contextmanager
    def span(self, name: str, layer: str | None = None, op_id=None):
        """Time one call. A span with a ``layer`` is a call into that
        layer: traced, it runs under its own job group (unless the body
        sets ``span.group`` to the group the work actually ran under,
        as a streaming query does) and its counters are added to the
        layer's totals."""
        parent = self._stack[-1] if self._stack else None
        s = Span(name, layer, op_id, parent)
        if self.trace:
            self.spans.append(s)
            self._stack.append(len(self.spans) - 1)
        if self.trace and layer:
            t = time.perf_counter()
            s.group = f"pb-{uuid.uuid4().hex[:12]}"
            self.sc.setJobGroup(s.group, name)
            io0 = proc_io(self.jvm_pid)["write_bytes"]
            self.overhead_s += time.perf_counter() - t
        s.start = time.perf_counter()
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            if self.trace:
                self._stack.pop()
                if layer:
                    t = time.perf_counter()
                    self.sc.setLocalProperty("spark.jobGroup.id", None)
                    self.sc.setLocalProperty("spark.job.description", None)
                    s.counters = self._group_counters(s.group)
                    s.counters["write_bytes"] = proc_io(self.jvm_pid)["write_bytes"] - io0
                    self.overhead_s += time.perf_counter() - t
            if layer:
                tot = self.totals[layer]
                tot["busy_s"] += s.seconds
                tot["calls"] += 1
                for k, v in s.counters.items():
                    tot[k] += v

    def _group_counters(self, group: str) -> dict[str, float]:
        self._bus.waitUntilEmpty()
        c: Counter = Counter()
        jobs = list(self._tracker.getJobIdsForGroup(group))
        c["jobs"] = len(jobs)
        for j in jobs:
            info = self._tracker.getJobInfo(j)
            for sid in info.stageIds if info else ():
                # a stage reused by a later job shows up as skipped there;
                # count each stage once, in the call that ran it
                if sid in self.counted_stages:
                    continue
                try:
                    sd = self._status.lastStageAttempt(sid)
                except Py4JJavaError:
                    continue
                self.counted_stages.add(sid)
                c["stages"] += 1
                for key, getter in _STAGE_FIELDS.items():
                    c[key] += getattr(sd, getter)() * _SCALE.get(key, 1)
        c["shuffle_bytes"] = c["shuffle_read_bytes"] + c["shuffle_write_bytes"]
        c["spill_bytes"] = c["memory_spill_bytes"] + c["disk_spill_bytes"]
        return dict(c)

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for i, s in enumerate(self.spans):
                f.write(json.dumps(s.as_dict(i)) + "\n")


class HostSampler:
    """Process and host load over the measured window: the benchmark's
    own rusage, the JVM and its workers' CPU, and what the rest of the
    host used (``busy_other_pct``)."""

    def __init__(self, jvm_pid: int):
        self.jvm_pid = jvm_pid
        self._start = self._sample()

    def _ours_s(self) -> float:
        total = 0.0
        for pid in [self.jvm_pid, *descendants(self.jvm_pid)]:
            try:
                total += proc_cpu_s(pid, children=True)
            except OSError:
                pass
        return total + sum(os.times()[:4])

    def _sample(self):
        return time.perf_counter(), host_cpu_ticks(), self._ours_s()

    def finish(self) -> dict:
        t1, (busy1, steal1, tot1), ours1 = self._sample()
        t0, (busy0, steal0, tot0), ours0 = self._start
        hz = os.sysconf("SC_CLK_TCK")
        total_s = (tot1 - tot0) / hz or 1e-9
        other_s = (busy1 - busy0) / hz - (ours1 - ours0)
        return {
            "wall_s": t1 - t0,
            "busy_other_pct": max(0.0, 100.0 * other_s / total_s),
            "steal_pct": 100.0 * (steal1 - steal0) / hz / total_s,
            "loadavg": os.getloadavg()[0],
            "driver_cpu_s": proc_cpu_s(self.jvm_pid),
            "workers_cpu_s": ours1 - ours0,
        }


def percentile_tail(values: list[float]) -> tuple[float, float, int]:
    """The highest percentile of ``values`` that still has at least ten
    samples beyond it: (value, percentile, n). Below 21 samples it would
    not lie above the median, and (None, None, n) is returned."""
    v = sorted(values)
    n = len(v)
    if n < 21:
        return None, None, n
    return v[n - 11], 100.0 * (n - 10) / n, n
