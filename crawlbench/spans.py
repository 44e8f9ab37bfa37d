"""Spans around public calls, plus stage numbers read from outside the engine.

A :class:`Tracer` times every span with ``time.perf_counter`` whether or
not tracing is on, because the end-to-end metrics are span walls. With
tracing on it also sets a Spark job group per span, so that after the run
:func:`collect_jobs` can attribute each job (and its stages' executor
time, CPU time, shuffle bytes and GC) to the span that launched it. Jobs
started from the engine's own write pool carry no group; they go to the
innermost span whose interval holds their submission time.

Spans stay in memory and are written once, by the caller, when the run
ends.
"""

from __future__ import annotations

import itertools
import os
import re
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


def seq(jseq) -> list:
    """A Scala ``Seq`` (py4j proxy) as a Python list."""
    return [jseq.apply(i) for i in range(jseq.size())]


def _opt_ms(jopt) -> float | None:
    """A Scala ``Option[java.util.Date]`` as epoch milliseconds."""
    return float(jopt.get().getTime()) if jopt.isDefined() else None


@dataclass
class Span:
    name: str
    sid: int
    parent: int | None
    run_id: str
    start: float  # perf_counter seconds
    end: float | None = None
    t0_ms: float = 0.0  # epoch ms at start, for matching JVM timestamps
    t1_ms: float = 0.0

    @property
    def wall(self) -> float:
        return (self.end or time.perf_counter()) - self.start

    def as_dict(self) -> dict:
        return {
            "name": self.name,
            "id": self.sid,
            "parent": self.parent,
            "run_id": self.run_id,
            "start_ms": self.t0_ms,
            "end_ms": self.t1_ms,
            "wall_s": self.wall,
        }


class Tracer:
    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._ids = itertools.count(1)
        self.sc = None  # set once a SparkContext exists

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        s = Span(
            name=name,
            sid=next(self._ids),
            parent=parent.sid if parent else None,
            run_id=self.run_id,
            start=time.perf_counter(),
            t0_ms=time.time() * 1000.0,
        )
        self.spans.append(s)
        self._stack.append(s)
        if self.enabled and self.sc is not None:
            self.sc.setJobGroup(self.group(s), name)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            s.t1_ms = time.time() * 1000.0
            self._stack.pop()
            if self.enabled and self.sc is not None:
                if parent is not None:
                    self.sc.setJobGroup(self.group(parent), parent.name)
                else:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)

    def group(self, s: Span) -> str:
        return f"{self.run_id}:{s.sid}"

    def find(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]


# ------------------------------------------------------------ JVM hooks


def codegen_compiles(spark) -> int:
    cm = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return int(cm.METRIC_COMPILATION_TIME().getCount())


def jvm_gc_s(spark) -> float:
    beans = spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(beans.get(i).getCollectionTime() for i in range(beans.size())) / 1000.0


def jvm_peak_rss_mb(spark) -> float:
    """VmHWM (peak resident set) of the Spark JVM, in MiB."""
    pid = int(spark._jvm.ProcessHandle.current().pid())
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM missing from /proc status")


def held_blocks(spark) -> int:
    """Cached RDD partitions the block manager still holds."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(int(i.numCachedPartitions()) for i in infos)


def planning_ms(df) -> float:
    """Analysis + optimization + planning ms from ``QueryPlanningTracker``."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    total = 0.0
    for k in ("analysis", "optimization", "planning"):
        if phases.contains(k):
            total += float(phases.get(k).get().durationMs())
    return total


def plan_shape(df) -> dict:
    """Scan and exchange counts of the planned query (AQE initial plan)."""
    text = df._jdf.queryExecution().executedPlan().toString()
    return {
        "scans": text.count("FileScan "),
        "exchanges": text.count("Exchange "),
    }


@dataclass
class Job:
    job_id: int
    group: str | None
    submit_ms: float
    end_ms: float | None
    tasks: int
    exec_s: float = 0.0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_bytes: int = 0
    stage_iv: list = field(default_factory=list)  # [(start_ms, end_ms)]


def collect_jobs(spark) -> list[Job]:
    """Every job the status store retains, with its stages' numbers.

    ``lastStageAttempt`` answers with the UI off. Skipped stages (reused
    shuffle output) have no attempt data and count nothing."""
    store = spark.sparkContext._jsc.sc().statusStore()
    jobs = []
    for j in seq(store.jobsList(None)):
        g = j.jobGroup()
        job = Job(
            job_id=int(j.jobId()),
            group=g.get() if g.isDefined() else None,
            submit_ms=_opt_ms(j.submissionTime()) or 0.0,
            end_ms=_opt_ms(j.completionTime()),
            tasks=int(j.numTasks()),
        )
        for sid in seq(j.stageIds()):
            try:
                st = store.lastStageAttempt(sid)
            except Exception:  # noqa: BLE001 - stage never ran (skipped)
                continue
            if st.status().toString() == "SKIPPED":
                continue
            job.exec_s += st.executorRunTime() / 1000.0
            job.cpu_s += st.executorCpuTime() / 1e9
            job.gc_s += st.jvmGcTime() / 1000.0
            job.shuffle_bytes += int(st.shuffleWriteBytes())
            s0, s1 = _opt_ms(st.submissionTime()), _opt_ms(st.completionTime())
            if s0 is not None and s1 is not None:
                job.stage_iv.append((s0, s1))
        jobs.append(job)
    return jobs


_WRITE_PATH = re.compile(
    r"Execute InsertIntoHadoopFsRelationCommand\n(?:[^\n]*\n){0,4}?Arguments: file:([^,]+),"
)


def sql_writes(spark) -> list[dict]:
    """Completed file writes (SQL executions) with their output path and
    wall, so a write can be attributed by what it writes: the stage names
    carry no Python call site."""
    out = []
    for e in seq(spark._jsparkSession.sharedState().statusStore().executionsList()):
        done = e.completionTime()
        m = _WRITE_PATH.search(e.physicalPlanDescription())
        if not done.isDefined() or m is None:
            continue
        out.append(
            {
                "start_ms": float(e.submissionTime()),
                "end_ms": float(done.get().getTime()),
                "path": m.group(1),
            }
        )
    return out


def attribute(tracer: Tracer, jobs: list[Job]) -> dict[int, list[Job]]:
    """Span id → jobs launched under it: by job group when set, else by
    submission time into the innermost (latest-started) covering span."""
    by_group = {tracer.group(s): s.sid for s in tracer.spans}
    out: dict[int, list[Job]] = {s.sid: [] for s in tracer.spans}
    for job in jobs:
        sid = by_group.get(job.group) if job.group else None
        if sid is None:
            covering = [s for s in tracer.spans if s.t0_ms <= job.submit_ms <= (s.t1_ms or 1e30)]
            if not covering:
                continue
            sid = max(covering, key=lambda s: s.t0_ms).sid
        out[sid].append(job)
    return out


def subtree(tracer: Tracer, root: Span) -> list[int]:
    ids, frontier = [root.sid], [root.sid]
    while frontier:
        kids = [s.sid for s in tracer.spans if s.parent in frontier]
        ids.extend(kids)
        frontier = kids
    return ids


def span_stats(tracer: Tracer, by_span: dict[int, list[Job]], root: Span) -> dict:
    """Jobs, tasks, executor/CPU/GC seconds, shuffle bytes of a span and its
    children; ``driver_s`` is the span's wall not covered by any stage."""
    jobs = [j for sid in subtree(tracer, root) for j in by_span.get(sid, [])]
    ivs = sorted(
        (max(a, root.t0_ms), min(b, root.t1_ms))
        for j in jobs
        for a, b in j.stage_iv
        if b > root.t0_ms and a < root.t1_ms
    )
    covered, cur_a, cur_b = 0.0, None, None
    for a, b in ivs:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                covered += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        covered += cur_b - cur_a
    wall_ms = root.t1_ms - root.t0_ms
    return {
        "jobs": len(jobs),
        "tasks": sum(j.tasks for j in jobs),
        "exec_s": sum(j.exec_s for j in jobs),
        "cpu_s": sum(j.cpu_s for j in jobs),
        "gc_s": sum(j.gc_s for j in jobs),
        "shuffle_bytes": sum(j.shuffle_bytes for j in jobs),
        "driver_s": max(0.0, wall_ms - covered) / 1000.0,
    }


def dir_bytes(path: str) -> int:
    total = 0
    for root, _, names in os.walk(path):
        for n in names:
            try:
                total += os.path.getsize(os.path.join(root, n))
            except OSError:  # a file vacuumed mid-walk
                pass
    return total
