"""Measurement from outside the engine: percentiles, spans, /proc, and
Spark's own counters (job groups, the status store, final-plan SQL
metrics). Nothing here is a hook inside sparktext."""

from __future__ import annotations

import json
import math
import os
import statistics
import threading
import time
import uuid
from contextlib import contextmanager

#: Percentiles the tail is chosen from, highest first.
TAIL_LADDER = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)


def tail(values: list[float]) -> tuple[float, float, int]:
    """(percentile, value, samples beyond it): the highest ladder
    percentile with at least 10 samples above its nearest-rank position.
    Under 20 samples no percentile qualifies and the tail is the maximum
    (percentile 100, 0 beyond), so the printed percentile says how much
    the number is worth."""
    vals = sorted(values)
    n = len(vals)
    for p in TAIL_LADDER:
        rank = max(1, math.ceil(n * p / 100.0))
        if n - rank >= 10:
            return p, vals[rank - 1], n - rank
    return 100.0, vals[-1], 0


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


# ------------------------------------------------------------------ spans ---


class Spans:
    """In-memory spans (name, start, end, parent, op id), written out once
    at the end of the run. A span's self time is its duration minus the
    time its children cover."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.rows: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, op_id: int | None = None):
        if not self.enabled:
            yield
            return
        idx = len(self.rows)
        parent = self._stack[-1] if self._stack else None
        if op_id is None and parent is not None:
            op_id = self.rows[parent]["op"]
        self.rows.append({"name": name, "start": time.perf_counter(), "end": None,
                          "parent": parent, "op": op_id})
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.rows[idx]["end"] = time.perf_counter()

    def self_times(self) -> dict[str, float]:
        """Summed self time in seconds per span name."""
        child = [0.0] * len(self.rows)
        for r in self.rows:
            if r["parent"] is not None:
                child[r["parent"]] += r["end"] - r["start"]
        out: dict[str, float] = {}
        for i, r in enumerate(self.rows):
            out[r["name"]] = out.get(r["name"], 0.0) + (r["end"] - r["start"]) - child[i]
        return out

    def dump(self, path: str) -> None:
        t0 = self.rows[0]["start"] if self.rows else 0.0
        rows = [dict(r, start=r["start"] - t0, end=r["end"] - t0) for r in self.rows]
        with open(path, "w") as f:
            json.dump({"spans": rows, "self_s": self.self_times()}, f)


# ------------------------------------------------------------------ /proc ---


def cpu_times() -> tuple[int, int]:
    """(steal, total) jiffies of the whole host from /proc/stat."""
    with open("/proc/stat") as f:
        vals = [int(v) for v in f.readline().split()[1:]]
    return vals[7], sum(vals[:8])


def steal_frac(t0: tuple[int, int], t1: tuple[int, int]) -> float:
    """Share of host CPU time the hypervisor gave to other guests."""
    return (t1[0] - t0[0]) / max(1, t1[1] - t0[1])


_TICK_MS = 1000.0 / os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    return raw[raw.rfind(")") + 2:].split()  # fields from 3 (state) on


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                kids.setdefault(int(st[1]), []).append(int(name))
    return kids


class ProcTree:
    """The driver (this process), the JVM it launched, and the Python
    workers below the JVM."""

    def __init__(self, jvm_pid: int):
        self.driver = os.getpid()
        self.jvm = jvm_pid

    def workers(self) -> list[int]:
        kids = _children_map()
        out, todo = [], list(kids.get(self.jvm, []))
        while todo:
            p = todo.pop()
            out.append(p)
            todo.extend(kids.get(p, []))
        return out

    def cpu_ms(self) -> dict[str, float]:
        """utime+stime per role; a worker's exited children count through
        its cutime/cstime."""
        out = {"driver": 0.0, "jvm": 0.0, "pyworker": 0.0}
        for role, pids in (("driver", [self.driver]), ("jvm", [self.jvm]),
                           ("pyworker", self.workers())):
            for p in pids:
                st = _stat(p)
                if st is None:
                    continue
                ticks = int(st[11]) + int(st[12])
                if role == "pyworker":
                    ticks += int(st[13]) + int(st[14])
                out[role] += ticks * _TICK_MS
        return out

    def rss_mb(self, workers: list[int]) -> dict[str, float]:
        out = {}
        for role, pids in (("driver", [self.driver]), ("jvm", [self.jvm]),
                           ("pyworker", workers)):
            tot = 0
            for p in pids:
                try:
                    with open(f"/proc/{p}/statm") as f:
                        tot += int(f.read().split()[1])
                except OSError:
                    pass
            out[role] = tot * _PAGE / 2**20
        return out


class RssSampler:
    """Background peak-RSS sampler (every 100 ms; the worker list is
    refreshed every second)."""

    def __init__(self, tree: ProcTree, interval: float = 0.1):
        self.tree = tree
        self.interval = interval
        self.peak = {"total": 0.0, "driver": 0.0, "jvm": 0.0, "pyworker": 0.0}
        self.max_workers = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        workers, refreshed = [], 0.0
        while not self._stop.is_set():
            now = time.monotonic()
            if now - refreshed > 1.0:
                workers, refreshed = self.tree.workers(), now
            self.sample(workers)
            self._stop.wait(self.interval)

    def sample(self, workers: list[int]) -> None:
        self.max_workers = max(self.max_workers, len(workers))
        r = self.tree.rss_mb(workers)
        r["total"] = sum(r.values())
        for k, v in r.items():
            self.peak[k] = max(self.peak[k], v)

    def start(self) -> None:
        self._thread.start()

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.sample(self.tree.workers())


# ------------------------------------------------------------ spark side ---


def _scala_map(m) -> dict:
    out, it = {}, m.iterator()
    while it.hasNext():
        kv = it.next()
        out[kv._1()] = kv._2().value()
    return out


def plan_nodes(jplan):
    """Yield (node name, metrics dict) for every node of an executed
    physical plan, unwrapping ``AdaptiveSparkPlanExec`` to its final plan
    and every ``*QueryStageExec`` to the stage it ran."""
    todo = [jplan]
    while todo:
        node = todo.pop()
        name = node.getClass().getSimpleName()
        if name == "AdaptiveSparkPlanExec":
            todo.append(node.executedPlan())
            continue
        if name.endswith("QueryStageExec"):
            todo.append(node.plan())
            continue
        if name == "ReusedExchangeExec":
            todo.append(node.child())
            continue
        yield name, _scala_map(node.metrics())
        kids = node.children()
        todo.extend(kids.apply(i) for i in range(kids.size()))


def plan_metrics(jplan) -> dict[str, float]:
    """Operator rows and bytes summed over one executed plan."""
    out = {"py_rows_in": 0, "py_bytes_in": 0, "py_time_ms": 0, "py_rows_out": 0,
           "shuffle_bytes": 0, "block_rows_scanned": 0, "files_read": 0,
           "bytes_read": 0, "mapinpandas_nodes": 0, "exchange_nodes": 0}
    after_py = False
    for name, m in plan_nodes(jplan):
        if name == "MapInPandasExec":
            out["mapinpandas_nodes"] += 1
            out["py_bytes_in"] += m.get("pythonDataSent", 0)
            out["py_time_ms"] += m.get("pythonTotalTime", 0)
            out["py_rows_out"] += m.get("pythonNumRowsReceived", 0)
            after_py = True
            continue
        if after_py and "numOutputRows" in m:
            # the first row-counting operator below MapInPandas feeds it
            out["py_rows_in"] += m["numOutputRows"]
            after_py = False
        if name == "ShuffleExchangeExec":
            out["exchange_nodes"] += 1
            out["shuffle_bytes"] += m.get("shuffleBytesWritten", 0)
        if name in ("InMemoryTableScanExec", "FileSourceScanExec"):
            out["block_rows_scanned"] += m.get("numOutputRows", 0)
        if name == "FileSourceScanExec":
            out["files_read"] += m.get("numFiles", 0)
            out["bytes_read"] += m.get("filesSize", 0)
    return out


class SparkCounters:
    """Jobs and stages of one op: a unique job group on the calling
    thread, plus the jobs with no group that started during the op (the
    engine's ``collect_results`` runs branches on pool threads, which do
    not inherit the group)."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.tracker = self.sc.statusTracker()
        self.store = self.sc._jsc.sc().statusStore()
        self._seen_ungrouped = set(self.tracker.getJobIdsForGroup(None))
        self._group: str | None = None

    def begin(self, label: str) -> None:
        self._group = f"perfbench-{label}-{uuid.uuid4().hex[:8]}"
        self.sc.setJobGroup(self._group, label)

    def end(self, t_start: float, t_end: float) -> dict[str, float]:
        """Counters for the jobs since :meth:`begin`. ``t_start``/``t_end``
        are the op's wall-clock (epoch seconds) bounds."""
        jobs = list(self.tracker.getJobIdsForGroup(self._group))
        ungrouped = set(self.tracker.getJobIdsForGroup(None))
        jobs += sorted(ungrouped - self._seen_ungrouped)
        self._seen_ungrouped = ungrouped
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        self.sc.setLocalProperty("spark.job.description", None)
        out = {"jobs": len(jobs), "stages_run": 0, "task_run_ms": 0.0,
               "task_cpu_ms": 0.0, "sched_wait_ms": 0.0}
        busy: list[tuple[float, float]] = []
        for j in jobs:
            info = self.tracker.getJobInfo(j)
            if info is None:
                continue
            for sid in info.stageIds:
                sd = self.store.lastStageAttempt(sid)
                sub = sd.submissionTime()
                if not sub.isDefined() or str(sd.status()) == "SKIPPED":
                    continue
                out["stages_run"] += 1
                out["task_run_ms"] += sd.executorRunTime()
                out["task_cpu_ms"] += sd.executorCpuTime() / 1e6
                s0 = sub.get().getTime() / 1000.0
                first = sd.firstTaskLaunchedTime()
                if first.isDefined():
                    out["sched_wait_ms"] += first.get().getTime() - sub.get().getTime()
                done = sd.completionTime()
                s1 = done.get().getTime() / 1000.0 if done.isDefined() else t_end
                busy.append((max(s0, t_start), min(s1, t_end)))
        out["driver_ms"] = max(0.0, (t_end - t_start) - _union(busy)) * 1000.0
        return out


def _union(intervals: list[tuple[float, float]]) -> float:
    tot, cur = 0.0, None
    for a, b in sorted(i for i in intervals if i[1] > i[0]):
        if cur is None or a > cur[1]:
            if cur is not None:
                tot += cur[1] - cur[0]
            cur = [a, b]
        else:
            cur[1] = max(cur[1], b)
    if cur is not None:
        tot += cur[1] - cur[0]
    return tot


def storage_mb(spark) -> float:
    """Memory plus disk held by Spark's block manager for cached RDDs."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos) / 2**20


def persistent_rdds(spark) -> int:
    return int(spark.sparkContext._jsc.getPersistentRDDs().size())
