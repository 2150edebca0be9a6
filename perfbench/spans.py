"""Spans, per-operation Spark counts, storage probes and the event-log
reducer.

Every call the benchmark makes into a layer of the package runs inside
``Recorder.op``: a span (name, layer, start, end, parent, operation id) is
kept in memory and written out when the run ends. In a traced run each
operation also gets its own Spark job group, so the status tracker can
count its jobs, stages and tasks, and the event log (enabled for the traced
process only) can be reduced to task time, shuffle, spill and skew per
operation.
"""

from __future__ import annotations

import json
import statistics
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field
from pathlib import Path

MB = 1024 * 1024


@dataclass
class Span:
    id: int
    name: str
    layer: str
    start: float
    end: float = 0.0
    parent: int | None = None
    op: str | None = None

    @property
    def seconds(self) -> float:
        return self.end - self.start


@dataclass
class Op:
    """One call into a layer: its span, its outcome and, when traced, the
    Spark work it caused."""

    id: str
    layer: str
    name: str
    span: Span
    pass_no: int
    kind: str | None = None  # "read", "write" or None
    failed: bool = False
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    failed_tasks: int = 0
    storage_bytes: int = 0  # cached RDD + broadcast storage live after the op
    cached_rdds: int = 0  # RDDs with cached blocks after the op
    rss_mb: float = 0.0  # resident memory of the driver processes after the op
    extra: dict = field(default_factory=dict)


class Recorder:
    def __init__(self, spark, traced: bool, rss=lambda: 0.0):
        self.spark = spark
        self.rss = rss
        self.traced = traced
        self.t0 = time.perf_counter()
        self.spans: list[Span] = []
        self.ops: list[Op] = []
        self.pass_no = 0
        self._stack: list[Span] = []

    def now(self) -> float:
        return time.perf_counter() - self.t0

    @contextmanager
    def span(self, name: str, layer: str, op: str | None = None):
        parent = self._stack[-1].id if self._stack else None
        sp = Span(len(self.spans), name, layer, self.now(), parent=parent, op=op)
        self.spans.append(sp)
        self._stack.append(sp)
        try:
            yield sp
        finally:
            sp.end = self.now()
            self._stack.pop()

    @contextmanager
    def op(self, layer: str, name: str, kind: str | None = None):
        """Run one layer call as an operation. An exception inside marks the
        op failed and propagates after the op's counts are taken."""
        op = Op(f"op{len(self.ops)}", layer, name, Span(-1, name, layer, 0.0), self.pass_no, kind)
        self.ops.append(op)
        sc = self.spark.sparkContext
        if self.traced:
            sc.setJobGroup(op.id, f"{layer}: {name}")
        try:
            with self.span(name, layer, op.id) as op.span:
                try:
                    yield op
                except BaseException:
                    op.failed = True
                    raise
        finally:
            if self.traced:
                sc.setJobGroup("perfbench", "between operations")
                self._count_jobs(op)
            op.storage_bytes, op.cached_rdds = storage(self.spark)
            op.rss_mb = self.rss()

    def _count_jobs(self, op: Op) -> None:
        tracker = self.spark.sparkContext.statusTracker()
        for jid in tracker.getJobIdsForGroup(op.id):
            info = tracker.getJobInfo(jid)
            if info is None:
                continue
            op.jobs += 1
            for sid in info.stageIds:
                st = tracker.getStageInfo(sid)
                if st is None or st.numCompletedTasks + st.numFailedTasks == 0:
                    continue  # skipped stage (shuffle output reused)
                op.stages += 1
                op.tasks += st.numCompletedTasks + st.numFailedTasks
                op.failed_tasks += st.numFailedTasks

    def dump(self, path: Path) -> None:
        path.write_text(json.dumps([asdict(s) for s in self.spans]))


def storage(spark) -> tuple[int, int]:
    """(bytes of block storage in use, number of RDDs with cached blocks).

    Storage memory in use covers cached and locally-checkpointed RDD blocks
    and broadcast pieces; RDD blocks that spilled to disk are added from the
    RDD storage info, which ``spark.catalog.clearCache()`` does not empty for
    localCheckpoint-ed RDDs."""
    jsc = spark.sparkContext._jsc.sc()
    env = spark.sparkContext._jvm.org.apache.spark.SparkEnv.get()
    infos = list(jsc.getRDDStorageInfo())
    disk = sum(i.diskSize() for i in infos)
    return int(env.memoryManager().storageMemoryUsed()) + int(disk), len(infos)


@dataclass
class TaskStats:
    tasks: int = 0
    failed_tasks: int = 0
    run_ms: int = 0
    cpu_ms: float = 0.0
    gc_ms: int = 0
    shuffle_read: int = 0
    shuffle_write: int = 0
    spill: int = 0
    output: int = 0
    durations: list[int] = field(default_factory=list)

    def add(self, other: "TaskStats") -> None:
        for k in ("tasks", "failed_tasks", "run_ms", "cpu_ms", "gc_ms", "shuffle_read",
                  "shuffle_write", "spill", "output"):
            setattr(self, k, getattr(self, k) + getattr(other, k))
        self.durations.extend(other.durations)

    @property
    def skew(self) -> float:
        """Longest task over the median task (1.0 when there are no tasks)."""
        if not self.durations:
            return 1.0
        return max(self.durations) / max(statistics.median(self.durations), 1)


def reduce_event_log(lines) -> dict[str, TaskStats]:
    """Fold ``SparkListenerTaskEnd`` events into per-job-group task stats.

    ``lines`` iterates over the JSON lines of an uncompressed event log.
    Stages map to the job group of the first job that lists them; tasks of
    stages outside any job group are reported under ``""``.
    """
    stage_group: dict[int, str] = {}
    out: dict[str, TaskStats] = {}
    for line in lines:
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id", "")
            for sid in ev.get("Stage IDs", []):
                stage_group.setdefault(sid, group)
        elif kind == "SparkListenerTaskEnd":
            info = ev.get("Task Info", {})
            m = ev.get("Task Metrics") or {}
            sr = m.get("Shuffle Read Metrics") or {}
            sw = m.get("Shuffle Write Metrics") or {}
            t = TaskStats(
                tasks=1,
                failed_tasks=int(bool(info.get("Failed")) or bool(info.get("Killed"))),
                run_ms=m.get("Executor Run Time", 0),
                cpu_ms=m.get("Executor CPU Time", 0) / 1e6,
                gc_ms=m.get("JVM GC Time", 0),
                shuffle_read=sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
                shuffle_write=sw.get("Shuffle Bytes Written", 0),
                spill=m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
                output=(m.get("Output Metrics") or {}).get("Bytes Written", 0),
                durations=[info.get("Finish Time", 0) - info.get("Launch Time", 0)],
            )
            group = stage_group.get(ev.get("Stage ID"), "")
            out.setdefault(group, TaskStats()).add(t)
    return out


def read_event_log(log_dir: Path) -> dict[str, TaskStats]:
    """Reduce every finished event log in ``log_dir`` (one per SparkContext)."""
    out: dict[str, TaskStats] = {}
    for path in sorted(log_dir.iterdir()):
        if path.name.endswith(".inprogress"):
            continue
        with path.open() as f:
            for group, st in reduce_event_log(f).items():
                out.setdefault(group, TaskStats()).add(st)
    return out
