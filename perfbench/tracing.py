"""Measurement helpers for the benchmark: spans kept in memory, Spark
stage and SQL metrics read from the driver's status stores, phase walls
from a pipeline run's own markers, and a /proc RSS sampler.

Nothing here is imported by the program under test; every number is
taken from outside the layer it describes.
"""

from __future__ import annotations

import os
import threading
import time
from contextlib import contextmanager
from pathlib import Path


class Tracer:
    """Spans (name, start, end, parent) around layer calls. Each span
    also sets a Spark job group named after the span, so the stage
    metrics of exactly that call can be read back."""

    def __init__(self, spark):
        self.spark = spark
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        rec = {"id": len(self.spans), "name": name,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.time(), "end": None}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        sc = self.spark.sparkContext
        sc.setJobGroup(group_id(name), name)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            if self._stack:
                parent = self.spans[self._stack[-1]]["name"]
                sc.setJobGroup(group_id(parent), parent)
            else:
                sc.setLocalProperty("spark.jobGroup.id", None)

    def wall(self, name: str) -> float:
        rec = next(s for s in reversed(self.spans) if s["name"] == name)
        return rec["end"] - rec["start"]


def group_id(span_name: str) -> str:
    return f"perfbench.{span_name}"


def _seq(jvm, scala_seq) -> list:
    return list(jvm.scala.jdk.javaapi.CollectionConverters.asJava(scala_seq))


def group_metrics(spark, span_name: str) -> dict:
    """Jobs, tasks and summed stage metrics of one job group, from the
    core status store (works with the UI disabled)."""
    sc = spark.sparkContext
    jvm = sc._jvm
    store = sc._jsc.sc().statusStore()
    empty = jvm.java.util.ArrayList
    group = group_id(span_name)
    jobs = []
    for j in _seq(jvm, store.jobsList(empty())):
        g = j.jobGroup()
        if g.isDefined() and g.get() == group:
            jobs.append(j)
    stage_ids = {int(s) for j in jobs for s in _seq(jvm, j.stageIds())}
    stages = [
        s for s in _seq(jvm, store.stageList(
            empty(), False, False,
            sc._gateway.new_array(jvm.double, 0), empty()))
        if s.stageId() in stage_ids
    ]
    intervals = []
    for j in jobs:
        sub, end = j.submissionTime(), j.completionTime()
        if sub.isDefined() and end.isDefined():
            intervals.append((sub.get().getTime() / 1e3,
                              end.get().getTime() / 1e3))
    return {
        "jobs": len(jobs),
        "tasks": sum(s.numTasks() for s in stages),
        "run_s": sum(s.executorRunTime() for s in stages) / 1e3,
        "cpu_s": sum(s.executorCpuTime() for s in stages) / 1e9,
        "gc_s": sum(s.jvmGcTime() for s in stages) / 1e3,
        "input_rows": sum(s.inputRecords() for s in stages),
        "shuffle_write_mb": sum(s.shuffleWriteBytes() for s in stages) / 2**20,
        "shuffle_read_mb": sum(s.shuffleReadBytes() for s in stages) / 2**20,
        "job_intervals": intervals,
    }


def union_seconds(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def last_execution_id(spark) -> int:
    store = spark._jsparkSession.sharedState().statusStore()
    ids = [e.executionId()
           for e in _seq(spark.sparkContext._jvm, store.executionsList())]
    return max(ids, default=-1)


def scan_metrics(spark, after_id: int) -> tuple[int, int]:
    """(files read, rows output) summed over every parquet scan node of
    the SQL executions with an id above ``after_id``."""
    jvm = spark.sparkContext._jvm
    store = spark._jsparkSession.sharedState().statusStore()
    files = rows = 0
    for e in _seq(jvm, store.executionsList()):
        eid = e.executionId()
        if eid <= after_id:
            continue
        values = store.executionMetrics(eid)
        for node in _seq(jvm, store.planGraph(eid).allNodes()):
            if not node.name().startswith("Scan parquet"):
                continue
            for m in _seq(jvm, node.metrics()):
                name = m.name()
                if name not in ("number of files read",
                                "number of output rows"):
                    continue
                v = values.get(m.accumulatorId())
                n = int(v.get().replace(",", "")) if v.isDefined() else 0
                if name == "number of files read":
                    files += n
                else:
                    rows += n
    return files, rows


def phase_walls(out: Path, t0: float, n_buckets: int) -> dict:
    """Pipeline phase walls from the mtimes of the markers a run
    commits: landing ends at pages_bucketed/_SUCCESS, the bucket phase
    at the last _MANIFEST.json, the global phase at _GLOBAL.json."""
    landed = (out / "pages_bucketed" / "_SUCCESS").stat().st_mtime
    buckets = max((out / f"bucket={b}" / "_MANIFEST.json").stat().st_mtime
                  for b in range(n_buckets))
    done = (out / "_GLOBAL.json").stat().st_mtime
    return {"landing_s": landed - t0, "buckets_s": buckets - landed,
            "global_s": done - buckets}


def cpu_jiffies() -> tuple[int, int]:
    """(stolen, total) CPU time of this machine so far, from /proc/stat.
    Stolen time is time a virtual CPU was ready to run but the host ran
    something else: the share of it over a run says how busy the host
    was, which no setting of the benchmark controls."""
    with open("/proc/stat") as f:
        fields = [int(v) for v in f.readline().split()[1:]]
    return (fields[7] if len(fields) > 7 else 0), sum(fields[:8])


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(root: int, kids: dict[int, list[int]] | None = None
                ) -> list[int]:
    kids = _children() if kids is None else kids
    out, todo = [], list(kids.get(root, []))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def descendants_rss_bytes(root: int) -> tuple[int, int]:
    """Summed RSS of the JVM that spark-submit starts (a child of
    ``root``) and of the Python workers below it, and the JVM's part.
    Other descendants are left out: a helper process the JVM forks
    shares the JVM's pages until it execs, and a sample taken in that
    moment would count the whole JVM twice."""
    page = os.sysconf("SC_PAGE_SIZE")
    kids = _children()
    jvms = set(kids.get(root, []))
    total = jvm = 0
    for pid in descendants(root, kids):
        try:
            with open(f"/proc/{pid}/comm") as f:
                comm = f.read().strip()
            is_jvm = comm == "java" and pid in jvms
            if not (is_jvm or comm.startswith("python")):
                continue
            with open(f"/proc/{pid}/statm") as f:
                rss = int(f.read().split()[1]) * page
        except OSError:
            continue
        total += rss
        jvm += rss if is_jvm else 0
    return total, jvm


class RssSampler:
    """Samples descendants_rss_bytes on a background thread and keeps
    the peaks of the total, of the JVM's part and of the workers'."""

    def __init__(self, interval: float = 0.5):
        self.interval = interval
        self.peak = self.peak_jvm = self.peak_workers = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self):
        me = os.getpid()
        while True:
            total, jvm = descendants_rss_bytes(me)
            self.peak = max(self.peak, total)
            self.peak_jvm = max(self.peak_jvm, jvm)
            self.peak_workers = max(self.peak_workers, total - jvm)
            if self._stop.wait(self.interval):
                return

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)
