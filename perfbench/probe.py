"""Measurement taken from outside the engine: spans around calls, Spark's
own status-store counters diffed around a span, the QueryExecution phase
tracker, storage still pinned after a call, and the resident memory of the
driver's process tree."""

from __future__ import annotations

import os
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

MB = 1024 * 1024


class Tracer:
    """Spans (name, start, end, parent, call id) kept in memory; self time
    is a span's duration minus the time its child spans cover."""

    def __init__(self) -> None:
        self.spans: list[dict] = []

    @contextmanager
    def span(self, name: str, parent: int | None = None, call: int | None = None):
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "parent": parent, "call": call,
               "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        try:
            yield sid
        finally:
            rec["end"] = time.perf_counter()

    def add(self, name: str, seconds: float, parent: int, call: int | None) -> None:
        """A child span summarised by its duration (e.g. many sink writes)."""
        end = self.spans[parent]["end"] or time.perf_counter()
        self.spans.append({"id": len(self.spans), "name": name, "parent": parent,
                           "call": call, "start": end - seconds, "end": end})

    def self_times(self) -> dict[str, dict]:
        child_s: dict[int, float] = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                child_s[s["parent"]] += s["end"] - s["start"]
        table: dict[str, dict] = {}
        for s in self.spans:
            row = table.setdefault(s["name"], {"count": 0, "total_s": 0.0, "self_s": 0.0})
            dur = s["end"] - s["start"]
            row["count"] += 1
            row["total_s"] += dur
            row["self_s"] += dur - child_s[s["id"]]
        return table


class Engine:
    """Counters read from Spark's status store (works with the UI off).
    ``take()`` returns what ran since the previous ``take()``."""

    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        self.sc = sc
        self.jsc = sc._jsc.sc()
        self.store = self.jsc.statusStore()
        self.no_quantiles = sc._gateway.new_array(sc._gateway.jvm.double, 0)
        self.job_mark = self.stage_mark = -1
        self.take()

    def take(self) -> dict[str, float]:
        self.jsc.listenerBus().waitUntilEmpty()
        c = defaultdict(float)
        jobs = self.store.jobsList(None)  # newest first
        mark = self.job_mark
        for i in range(jobs.size()):
            job = jobs.apply(i)
            if job.jobId() <= self.job_mark:
                break
            mark = max(mark, job.jobId())
            c["jobs"] += 1
        self.job_mark = mark
        stages = self.store.stageList(None, False, False, self.no_quantiles, None)
        mark = self.stage_mark
        for i in range(stages.size()):
            st = stages.apply(i)
            if st.stageId() <= self.stage_mark:
                break
            mark = max(mark, st.stageId())
            if st.status().toString() == "SKIPPED":
                c["skipped_stages"] += 1
                continue
            c["stages"] += 1
            c["tasks"] += st.numCompleteTasks()
            c["failed_tasks"] += st.numFailedTasks()
            c["task_run_s"] += st.executorRunTime() / 1e3
            c["task_cpu_s"] += st.executorCpuTime() / 1e9
            c["gc_s"] += st.jvmGcTime() / 1e3
            c["shuffle_read_mb"] += st.shuffleReadBytes() / MB
            c["shuffle_write_mb"] += st.shuffleWriteBytes() / MB
            c["spill_mb"] += st.diskBytesSpilled() / MB
        self.stage_mark = mark
        return dict(c)

    def pinned(self) -> tuple[int, float]:
        """(persisted RDDs, MB they hold in memory and on disk)."""
        n = self.sc._jsc.getPersistentRDDs().size()
        mb = sum((r.memSize() + r.diskSize()) / MB for r in self.jsc.getRDDStorageInfo())
        return n, mb

    def reset(self, spark) -> None:
        """Between calls: drop cached frames and persisted RDDs."""
        spark.catalog.clearCache()
        for rdd in list(self.sc._jsc.getPersistentRDDs().values()):
            rdd.unpersist(True)


def catalyst_ms(df) -> float:
    """Analysis + optimization + planning time of the DataFrame's own
    QueryExecution (the final action's plan)."""
    phases = df._jdf.queryExecution().tracker().phases()
    it = phases.iterator()
    total = 0.0
    while it.hasNext():
        total += it.next()._2().durationMs()
    return total


def cpu_ticks() -> tuple[int, int]:
    """(ticks the hypervisor stole from this machine's CPUs, all ticks)
    so far, from /proc/stat."""
    with open("/proc/stat") as fh:
        ticks = [int(x) for x in fh.readline().split()[1:9]]
    return ticks[7], sum(ticks)


def _tree_rss_bytes(root: int, page: int) -> int:
    children: dict[int, list[int]] = defaultdict(list)
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children[ppid].append(int(entry))
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        todo.extend(children.get(pid, ()))
        try:
            with open(f"/proc/{pid}/statm") as fh:
                total += int(fh.read().split()[1]) * page
        except (OSError, IndexError, ValueError):
            continue
    return total


class RssSampler:
    """Peak resident memory of this process and all its descendants (the
    JVM and its Python workers), sampled on a background thread."""

    def __init__(self, interval_s: float = 0.2) -> None:
        self.interval_s = interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None
        self._page = os.sysconf("SC_PAGE_SIZE")

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, _tree_rss_bytes(os.getpid(), self._page))
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "RssSampler":
        self._thread = threading.Thread(target=self._run, name="rss-sampler", daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    @property
    def peak_mb(self) -> float:
        return self.peak / MB
