"""Measurement helpers: spans, Spark executor counters, memory and noise.

Spans are timed in every run (they are the stage timers). Only a traced
run also keeps them and sums the Spark task counters of the stages each
one submitted, read from the status store after its listener has caught
up; that extra work is the tracing overhead.
"""

from __future__ import annotations

import os
import socket
import statistics
import threading
import time
from contextlib import contextmanager

COUNTERS = ("tasks", "task_s", "gc_s", "shuffle_read_mb", "shuffle_write_mb")


def _stages(spark):
    """All retained stages, newest first, once the listener bus has drained
    (a snapshot taken straight after a job can otherwise miss that job's
    task-end events)."""
    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    empty = sc._jvm.java.util.ArrayList()
    stages = jsc.statusStore().stageList(empty, False, False,
                                         sc._gateway.new_array(sc._jvm.double, 0), empty)
    return stages.iterator()


def last_stage_id(spark) -> int:
    it = _stages(spark)
    return it.next().stageId() if it.hasNext() else -1


def stage_counters_since(spark, stage_id: int) -> dict:
    """Task totals of the stages submitted after ``stage_id``."""
    tot = dict.fromkeys(COUNTERS, 0.0)
    it = _stages(spark)
    while it.hasNext():
        s = it.next()
        if s.stageId() <= stage_id:
            break
        tot["tasks"] += s.numCompleteTasks()
        tot["task_s"] += s.executorRunTime() / 1e3
        tot["gc_s"] += s.jvmGcTime() / 1e3
        tot["shuffle_read_mb"] += s.shuffleReadBytes() / 2**20
        tot["shuffle_write_mb"] += s.shuffleWriteBytes() / 2**20
    return tot


class Span:
    __slots__ = ("id", "parent", "name", "layer", "start", "end", "spark")

    def __init__(self, id_, parent, name, layer, start, end=None):
        self.id, self.parent, self.name, self.layer = id_, parent, name, layer
        self.start, self.end = start, end
        self.spark: dict | None = None

    @property
    def seconds(self) -> float:
        return self.end - self.start

    def as_dict(self) -> dict:
        return {"id": self.id, "parent": self.parent, "name": self.name,
                "layer": self.layer, "start": self.start, "end": self.end,
                "spark": self.spark}


class Tracer:
    def __init__(self, spark, enabled: bool, cores: int):
        self.spark = spark
        self.enabled = enabled
        self.cores = cores
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._next = 0
        self.overhead_s = 0.0     # time spent reading counters
        self.seconds: dict[str, float] = {}   # "<span name>_s" -> wall

    def _new(self, name, layer, start, end=None) -> Span:
        parent = self._stack[-1].id if self._stack else None
        s = Span(self._next, parent, name, layer, start, end)
        self._next += 1
        if self.enabled:
            self.spans.append(s)
        return s

    @contextmanager
    def span(self, name: str, layer: str):
        t0 = time.perf_counter()
        first = last_stage_id(self.spark) if self.enabled else None
        s = self._new(name, layer, time.perf_counter())
        self.overhead_s += s.start - t0
        self._stack.append(s)
        try:
            yield s
        finally:
            self._stack.pop()
            s.end = time.perf_counter()
            self.seconds[f"{name}_s"] = s.seconds
            if first is not None:
                d = stage_counters_since(self.spark, first)
                d["busy_ratio"] = d["task_s"] / max(s.seconds * self.cores, 1e-9)
                s.spark = d
                self.overhead_s += time.perf_counter() - s.end

    def step_recorder(self, history: list):
        """An ``on_step`` callback: keeps (StepMetrics, end time) and, when
        tracing, adds the superstep as a child span of the open span."""
        def on_step(m):
            end = time.perf_counter()
            history.append((m, end))
            if self.enabled:
                self._new(f"superstep.{m.step}", "superstep", end - m.wall_ms / 1e3, end)
        return on_step

    def self_seconds(self) -> dict[str, float]:
        """Per layer: Σ span duration minus the time its children cover."""
        child = {}
        for s in self.spans:
            if s.parent is not None:
                child[s.parent] = child.get(s.parent, 0.0) + s.seconds
        out: dict[str, float] = {}
        for s in self.spans:
            out[s.layer] = out.get(s.layer, 0.0) + s.seconds - child.get(s.id, 0.0)
        return out


def persistent_rdds(spark) -> set[int]:
    m = spark.sparkContext._jsc.getPersistentRDDs()
    return {int(k) for k in m.keySet().toArray()}


def checkpointed_rdds(spark) -> set[int]:
    """Persistent RDDs holding localCheckpoint blocks (superstep states)."""
    m = spark.sparkContext._jsc.getPersistentRDDs()
    return {int(k) for k in m.keySet().toArray()
            if m.get(k).rdd().isLocallyCheckpointed()}


def release_rdds(spark, ids) -> None:
    m = spark.sparkContext._jsc.getPersistentRDDs()
    for i in ids:
        if m.containsKey(i):
            m.get(i).unpersist(True)


def jvm_peak_rss_mb(spark) -> float:
    """VmHWM of the driver JVM (the py4j gateway process)."""
    pid = spark.sparkContext._gateway.proc.pid
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM missing from /proc status")


def dir_mb(path: str) -> float:
    total = 0
    for root, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total / 2**20


# ---- noise evidence (recorded per sample, never used to drop samples) ------

def cpu_steal() -> tuple[int, int]:
    """(steal, total) jiffies from the aggregate line of /proc/stat."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    return vals[7], sum(vals)


def loopback_rtt_us(n: int = 60) -> float:
    """Median localhost TCP round trip: a direct probe of the wake-up
    latency the host imposes on socket traffic (py4j, task results)."""
    srv = socket.socket()
    srv.bind(("127.0.0.1", 0))
    srv.listen(1)

    def echo():
        c, _ = srv.accept()
        with c:
            c.setsockopt(socket.IPPROTO_TCP, socket.TCP_NODELAY, 1)
            while d := c.recv(64):
                c.sendall(d)

    t = threading.Thread(target=echo, daemon=True)
    t.start()
    rtts = []
    with socket.create_connection(srv.getsockname()) as c:
        c.setsockopt(socket.IPPROTO_TCP, socket.TCP_NODELAY, 1)
        for _ in range(n + 1):
            t0 = time.perf_counter()
            c.sendall(b"x")
            c.recv(64)
            rtts.append(time.perf_counter() - t0)
    t.join(5)
    srv.close()
    return statistics.median(rtts[1:]) * 1e6


class NoiseSample:
    """Steal share and loopback RTT over one measured job."""

    def __enter__(self):
        self.rtt_before = loopback_rtt_us()
        self.s0, self.t0 = cpu_steal()
        return self

    def __exit__(self, *exc):
        s1, t1 = cpu_steal()
        self.steal = (s1 - self.s0) / max(1, t1 - self.t0)
        self.rtt_us = max(self.rtt_before, loopback_rtt_us())
        return False
