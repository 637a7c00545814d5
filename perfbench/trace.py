"""Measurement helpers: in-memory spans, a peak-RSS sampler over the
process tree, box readings, and the Spark-side counters a traced run
reads after each action (job group + status tracker, executed-plan SQL
metrics)."""

from __future__ import annotations

import math
import os
import threading
import time
from contextlib import contextmanager

# span names a traced run can record; each one's self time is reported
SPAN_NAMES = ("session.start", "warmup", "build", "op", "analyzer", "build.lookup",
              "query.plan", "query.collect", "streaming.append",
              "streaming.compact", "trace.instrument", "trace.payload",
              "codec.decode", "query.kernel", "wand.kernel",
              "query.batch_kernel")


def pct(values, q: float) -> float:
    """Nearest-rank percentile (``q`` in [0, 1]); 0.0 for no values."""
    v = sorted(values)
    if not v:
        return 0.0
    return float(v[min(len(v), max(1, math.ceil(q * len(v)))) - 1])


def median(values) -> float:
    v = sorted(values)
    if not v:
        return 0.0
    n = len(v)
    return float(v[n // 2] if n % 2 else (v[n // 2 - 1] + v[n // 2]) / 2)


class Tracer:
    """Spans kept in memory until the run ends: (op id, name, start, end,
    parent span id). Disabled, ``span`` costs one branch."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[tuple] = []
        self._stack: list[int] = []
        self._op = 0

    def new_op(self) -> int:
        self._op += 1
        return self._op

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        self.spans.append(None)  # reserve the id; filled on exit
        self._stack.append(sid)
        start = time.perf_counter()
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[sid] = (self._op, name, start, time.perf_counter(),
                               parent)

    def total(self, name: str) -> float:
        return sum(s[3] - s[2] for s in self.spans if s[1] == name)

    def self_times(self) -> dict[str, float]:
        """Per span name: summed duration minus the time covered by its
        direct children (children of one span never overlap here)."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s[4] is not None:
                child[s[4]] += s[3] - s[2]
        out = {n: 0.0 for n in SPAN_NAMES}
        for i, s in enumerate(self.spans):
            out[s[1]] = out.get(s[1], 0.0) + (s[3] - s[2]) - child[i]
        return out


class RssSampler:
    """Peak resident memory of this process and all its descendants (the
    JVM and its Python workers), summed per sample from ``/proc``. Python
    processes count their proportional set size, so pages the forked
    workers share are not counted once per worker; the JVM counts its
    RSS (its ``smaps_rollup`` takes tens of ms to read and holds the
    JVM's memory-map lock meanwhile)."""

    def __init__(self, interval_s: float = 0.2):
        self.interval_s = interval_s
        self._page = os.sysconf("SC_PAGE_SIZE")
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
        self.sample()

    def _loop(self):
        while not self._stop.wait(self.interval_s):
            self.sample()

    def sample(self) -> None:
        children: dict[int, list[int]] = {}
        for d in os.listdir("/proc"):
            if not d.isdigit():
                continue
            try:
                with open(f"/proc/{d}/stat") as f:
                    stat = f.read()
            except OSError:
                continue
            ppid = int(stat.rsplit(")", 1)[1].split()[1])
            children.setdefault(ppid, []).append(int(d))
        total, todo = 0, [os.getpid()]
        while todo:
            pid = todo.pop()
            todo += children.get(pid, [])
            try:
                total += self._resident(pid)
            except OSError:
                continue
        self.peak_bytes = max(self.peak_bytes, total)

    def _resident(self, pid: int) -> int:
        with open(f"/proc/{pid}/comm") as f:
            jvm = f.read().strip() == "java"
        if jvm:
            with open(f"/proc/{pid}/statm") as f:
                return int(f.read().split()[1]) * self._page
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
        return 0


def box_reading() -> dict:
    """Ambient load, read without waiting for quiet (the 0.2 s window is
    the busy-fraction sample itself)."""
    from engine.quiet import cpu_busy, loadavg
    return {"load1": round(loadavg(), 2), "busy": round(cpu_busy(0.2), 3)}


def _scala_list(jvm, seq) -> list:
    return list(jvm.scala.jdk.javaapi.CollectionConverters.asJava(seq))


class SparkProbe:
    """Counters a traced run reads around one action: jobs and tasks of
    a job group, and the executed plan's SQL metrics as deltas (a plan
    the engine's cache hands back again keeps accumulating its own
    metrics, so the previous reading is subtracted)."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.jvm = self.sc._jvm
        self._last: dict[int, dict] = {}
        self._keep: list = []  # keeps DataFrames alive so ids stay unique

    def group(self, gid: str) -> None:
        self.sc.setJobGroup(gid, gid)

    def jobs_tasks(self, gid: str) -> tuple[int, int]:
        st = self.sc.statusTracker()
        jobs = st.getJobIdsForGroup(gid)
        tasks = 0
        for j in jobs:
            info = st.getJobInfo(j)
            for s in (list(info.stageIds) if info else []):
                si = st.getStageInfo(s)
                tasks += si.numCompletedTasks if si else 0
        return len(jobs), tasks

    def _nodes(self, plan):
        todo = [plan]
        while todo:
            p = todo.pop()
            yield p
            todo += _scala_list(self.jvm, p.children())
            cls = p.getClass().getSimpleName()
            if cls == "AdaptiveSparkPlanExec":
                todo.append(p.executedPlan())
            elif cls.endswith("QueryStageExec"):
                todo.append(p.plan())

    def plan_metrics(self, df) -> dict:
        """python_s, python_tasks, scan_bytes, shuffle_bytes,
        fetch_wait_s of the last action on ``df``."""
        raw = {"python_ms": 0, "scan_bytes": 0, "shuffle_bytes": 0,
               "fetch_wait_ms": 0}
        python_tasks = 0
        conv = self.jvm.scala.jdk.javaapi.CollectionConverters
        for node in self._nodes(df._jdf.queryExecution().executedPlan()):
            cls = node.getClass().getSimpleName()
            ms = conv.asJava(node.metrics())
            if "InPandas" in cls or "Python" in cls:
                raw["python_ms"] += ms["pythonTotalTime"].value() \
                    if ms.containsKey("pythonTotalTime") else 0
                for c in _scala_list(self.jvm, node.children()):
                    for sub in self._nodes(c):
                        if sub.getClass().getSimpleName() == \
                                "AQEShuffleReadExec":
                            python_tasks += conv.asJava(
                                sub.metrics())["numPartitions"].value()
                            break
            elif cls == "FileSourceScanExec":
                raw["scan_bytes"] += ms["filesSize"].value()
            elif cls == "ShuffleExchangeExec":
                raw["shuffle_bytes"] += ms["shuffleBytesWritten"].value()
                raw["fetch_wait_ms"] += ms["fetchWaitTime"].value()
        prev = self._last.get(id(df), {k: 0 for k in raw})
        self._last[id(df)] = raw
        self._keep.append(df)
        d = {k: raw[k] - prev[k] for k in raw}
        return {"python_s": d["python_ms"] / 1e3,
                "python_tasks": python_tasks,
                "scan_bytes": d["scan_bytes"],
                "shuffle_bytes": d["shuffle_bytes"],
                "fetch_wait_s": d["fetch_wait_ms"] / 1e3}


def dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except OSError:
                pass
    return total
