"""Measurement plumbing: in-memory spans, a process-tree RSS sampler, the
host stamp, and readers for Spark's public status APIs.

Spans are recorded only around calls the benchmark makes into the program's
public functions; nothing inside the program is instrumented.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import os
import platform
import statistics
import threading
import time
import urllib.parse
import urllib.request


class Tracer:
    """Keeps spans in memory (single-threaded use); ``enabled=False`` makes
    every call a no-op so the untraced run pays nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, op: str, **attrs):
        if not self.enabled:
            yield None
            return
        stack = self._stack
        rec = {"id": next(self._ids), "parent": stack[-1] if stack else None,
               "op": op, "name": name, "start": time.perf_counter(), **attrs}
        stack.append(rec["id"])
        try:
            yield rec
        finally:
            stack.pop()
            rec["end"] = time.perf_counter()
            self.spans.append(rec)

    def write(self, path: str, extra: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({**extra, "spans": self.spans}, f)


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(name))
    return kids


def _pss_bytes(pid: int) -> int:
    """Proportional set size: resident pages, with each page shared by k
    processes counted 1/k in each.  Summing plain RSS over a tree would
    count a forked child's copy-on-write pages twice."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except (OSError, IndexError, ValueError):
        pass
    return 0


def tree_rss_bytes(root_pid: int) -> int:
    """Resident memory of ``root_pid`` plus all its descendants (as PSS)."""
    kids = _children()
    total, todo = 0, [root_pid]
    while todo:
        pid = todo.pop()
        total += _pss_bytes(pid)
        todo.extend(kids.get(pid, ()))
    return total


class RssSampler:
    """Samples the resident memory of a process tree (the JVM and the Python
    workers it forks) every ``period_s`` and keeps the peak."""

    def __init__(self, root_pid: int, period_s: float = 0.1):
        self.root_pid = root_pid
        self.period_s = period_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="rss-sampler", daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes(self.root_pid))
            self._stop.wait(self.period_s)

    def start(self) -> None:
        self._thread.start()

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
        self.peak = max(self.peak, tree_rss_bytes(self.root_pid))


def loadavg() -> list[float]:
    return [round(x, 2) for x in os.getloadavg()]


def canary_wall(spark, parquet_path: str) -> float:
    """Fixed-cost host calibration (same shape as bench.py's canary): a
    constant range aggregate plus a small parquet scan, min of two runs
    after one warm run.  Independent of the program's query code."""
    runs = []
    for i in range(3):
        t0 = time.perf_counter()
        spark.range(20_000_000).selectExpr(
            "sum(id * 3 + 1)", "count(if(id % 7 = 0, 1, NULL))"
        ).collect()
        spark.read.parquet(parquet_path).selectExpr("sum(user_id)").collect()
        if i:
            runs.append(time.perf_counter() - t0)
    return min(runs)


def host_stamp(spark) -> dict:
    jvm = spark.sparkContext._jvm
    return {
        "master": spark.sparkContext.master,
        "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
        "driver_memory": spark.sparkContext.getConf().get("spark.driver.memory", "default"),
        "heap_max_mb": round(jvm.java.lang.Runtime.getRuntime().maxMemory() / 2**20),
        "spark": spark.version,
        "java": jvm.java.lang.System.getProperty("java.version"),
        "python": platform.python_version(),
        "nproc": os.cpu_count(),
    }


# ------------------------------------------------------------- Spark status


def jobs_in_group(spark, group: str) -> int:
    return len(spark.sparkContext.statusTracker().getJobIdsForGroup(group))


class StatusRest:
    """Reader for Spark's monitoring REST API (UI must be enabled, which the
    traced run alone does)."""

    def __init__(self, spark):
        port = urllib.parse.urlsplit(spark.sparkContext.uiWebUrl).port
        self.base = f"http://localhost:{port}/api/v1"
        self.app = spark.sparkContext.applicationId

    def _get(self, path: str):
        with urllib.request.urlopen(f"{self.base}/applications/{self.app}{path}", timeout=30) as r:
            return json.load(r)

    def max_stage_id(self) -> int:
        return max((s["stageId"] for s in self._get("/stages")), default=-1)

    def stage_metrics(self, after_stage: int) -> dict[str, float]:
        """Shuffle, spill, GC and task totals over the completed stages with
        id > ``after_stage``, and the task skew (max / median task run time)
        of the longest of them."""
        stages = [
            s for s in self._get("/stages?status=complete")
            if s["stageId"] > after_stage
        ]
        out = {
            "spark.shuffle_write_bytes": float(sum(s.get("shuffleWriteBytes", 0) for s in stages)),
            "spark.spill_bytes": float(sum(s.get("memoryBytesSpilled", 0) + s.get("diskBytesSpilled", 0) for s in stages)),
            "spark.gc_ms": float(sum(s.get("jvmGcTime", 0) for s in stages)),
            "spark.task_count": float(sum(s.get("numCompleteTasks", 0) for s in stages)),
            "spark.task_skew": 1.0,
        }
        if stages:
            big = max(stages, key=lambda s: s.get("executorRunTime", 0))
            tasks = self._get(f"/stages/{big['stageId']}/{big['attemptId']}/taskList?length=100000")
            times = [t["taskMetrics"]["executorRunTime"] for t in tasks if t.get("taskMetrics")]
            if times and statistics.median(times) > 0:
                out["spark.task_skew"] = max(times) / statistics.median(times)
        return out
