"""Spans around the benchmark's calls into the engine, Spark's in-process
status store, and a peak-RSS sampler.

Spans live in memory (one ``Span`` per call) and are written out with the
run's artifact at the end. When job attribution is on, every span sets a
Spark job group, so each job the call launches can be mapped back to the
span through the status store after the run. The store is read in-process
(``spark.ui.enabled=false`` still keeps it), so no UI or REST is needed.
"""

from __future__ import annotations

import os
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    id: int
    name: str
    run: str
    parent: int | None
    start: float
    tags_jobs: bool = True
    end: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans; with ``jobs=True`` also tags Spark jobs with them."""

    def __init__(self, sc, jobs: bool) -> None:
        self.sc = sc
        self.jobs = jobs
        self.spans: list[Span] = []
        self.run = "setup"
        self._stack: list[Span] = []

    @contextmanager
    def span(self, name: str, tag_jobs: bool = True, **attrs):
        """Time the body as a span. With ``tag_jobs=False`` the span's jobs
        stay attributed to its parent."""
        parent = self._stack[-1] if self._stack else None
        tag = self.jobs and tag_jobs
        sp = Span(
            len(self.spans), name, self.run,
            parent.id if parent else None, time.time(), tag_jobs, attrs=attrs,
        )
        self.spans.append(sp)
        self._stack.append(sp)
        if tag:
            self.sc.setJobGroup(f"perfbench-{sp.id}", name, False)
        try:
            yield sp
        finally:
            sp.end = time.time()
            self._stack.pop()
            if tag:
                if parent is not None:
                    self.sc.setJobGroup(f"perfbench-{parent.id}", parent.name, False)
                else:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)
                    self.sc.setLocalProperty("spark.job.description", None)


SPARK_FIELDS = {
    # name: unit
    "stages": "count",
    "tasks": "count",
    "jobs": "count",
    "executor_run_s": "s",
    "executor_cpu_s": "s",
    "gc_s": "s",
    "shuffle_write_bytes": "B",
    "shuffle_read_bytes": "B",
    "task_max_over_median": "ratio",
    "driver_gap_s": "s",
}


def _union_length(intervals: list[tuple[float, float]]) -> float:
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted(intervals):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def spark_metrics_by_span(sc, spans: list[Span]) -> dict[int, dict[str, float]]:
    """Per span: Spark work its own jobs did (child spans' jobs excluded).

    ``driver_gap_s`` is the span's duration minus the part of it covered by
    its own jobs or by its child spans: time the driver spent planning,
    collecting, or waiting between jobs.
    """
    jvm = sc._jvm
    seq = jvm.scala.jdk.javaapi.CollectionConverters.asJava
    store = sc._jsc.sc().statusStore()
    by_id = {s.id: s for s in spans}
    jobs_of: dict[int, list] = {}
    for job in seq(store.jobsList(None)):
        group = job.jobGroup()
        if not group.isDefined() or not str(group.get()).startswith("perfbench-"):
            continue
        sid = int(str(group.get()).split("-", 1)[1])
        if sid in by_id:
            jobs_of.setdefault(sid, []).append(job)
    stages = {}
    for st in seq(
        store.stageList(
            jvm.java.util.ArrayList(), False, False,
            sc._gateway.new_array(jvm.double, 0), jvm.java.util.ArrayList(),
        )
    ):
        stages.setdefault(st.stageId(), []).append(st)
    quantiles = sc._gateway.new_array(jvm.double, 2)
    quantiles[0], quantiles[1] = 0.5, 1.0

    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None and s.tags_jobs:
            children.setdefault(s.parent, []).append(s)

    out = {}
    for sp in spans:
        m = {k: 0.0 for k in SPARK_FIELDS}
        covered = [(c.start, c.end) for c in children.get(sp.id, [])]
        heaviest = None
        for job in jobs_of.get(sp.id, []):
            m["jobs"] += 1
            sub, done = job.submissionTime(), job.completionTime()
            if sub.isDefined() and done.isDefined():
                lo = max(sp.start, sub.get().getTime() / 1000.0)
                hi = min(sp.end, done.get().getTime() / 1000.0)
                if hi > lo:
                    covered.append((lo, hi))
            for stage_id in seq(job.stageIds()):
                for st in stages.get(stage_id, []):
                    if st.numCompleteTasks() == 0:
                        continue  # skipped: its output was reused
                    m["stages"] += 1
                    m["tasks"] += st.numCompleteTasks()
                    m["executor_run_s"] += st.executorRunTime() / 1e3
                    m["executor_cpu_s"] += st.executorCpuTime() / 1e9
                    m["gc_s"] += st.jvmGcTime() / 1e3
                    m["shuffle_write_bytes"] += st.shuffleWriteBytes()
                    m["shuffle_read_bytes"] += st.shuffleReadBytes()
                    if heaviest is None or st.executorRunTime() > heaviest.executorRunTime():
                        heaviest = st
        if heaviest is not None:
            dist = store.taskSummary(heaviest.stageId(), heaviest.attemptId(), quantiles)
            if dist.isDefined():
                med, top = list(seq(dist.get().executorRunTime()))
                m["task_max_over_median"] = top / med if med > 0 else 1.0
        m["driver_gap_s"] = max(0.0, sp.duration - _union_length(covered))
        out[sp.id] = m
    return out


RSS_INTERVAL_S = 0.2


class RssSampler:
    """Peak resident memory of a process tree (the driver JVM and the
    Python workers it forks), sampled from /proc every ``RSS_INTERVAL_S``."""

    def __init__(self, pid: int) -> None:
        self.pid = pid
        self.peak_bytes = 0
        self._page = os.sysconf("SC_PAGE_SIZE")
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()

    def _tree(self) -> list[int]:
        parent_of = {}
        for entry in os.listdir("/proc"):
            if not entry.isdigit():
                continue
            try:
                with open(f"/proc/{entry}/stat") as f:
                    stat = f.read()
            except OSError:
                continue
            parent_of[int(entry)] = int(stat.rsplit(")", 1)[1].split()[1])
        tree, frontier = [self.pid], [self.pid]
        while frontier:
            frontier = [p for p, pp in parent_of.items() if pp in frontier]
            tree.extend(frontier)
        return tree

    def sample(self) -> None:
        total = 0
        for pid in self._tree():
            try:
                with open(f"/proc/{pid}/statm") as f:
                    total += int(f.read().split()[1]) * self._page
            except OSError:
                continue
        self.peak_bytes = max(self.peak_bytes, total)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.sample()
            self._stop.wait(RSS_INTERVAL_S)
