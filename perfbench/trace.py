"""Spans and Spark counters for the traced run, plus process-level probes.

Spans are recorded by the benchmark around its own calls into the engine's
public functions; nothing inside the engine is instrumented. Each leaf span
runs its Spark actions under its own job group, so the stages it caused are
read back from Spark's status store (it works with the UI off) and belong
to exactly one span.
"""

from __future__ import annotations

import os
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    job: int = 0
    counters: dict[str, float] = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory span list; ``spans`` is written out by the caller at exit."""

    def __init__(self, spark=None) -> None:
        self.spark = spark
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self.job = 0
        # cached relations whose building plan was already charged to a span
        self.counted: set[int] = set()

    def start_job(self, job: int) -> None:
        self.job = job
        self.counted = set()

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        sp = Span(name, time.perf_counter(), parent=parent, job=self.job)
        self.spans.append(sp)
        idx = len(self.spans) - 1
        self._stack.append(idx)
        group = f"perfbench-{self.job}-{idx}"
        sc = self.spark.sparkContext if self.spark is not None else None
        if sc is not None:
            sc.setJobGroup(group, name)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            if sc is not None:
                sp.counters.update(stage_counters(sc, group))
                if self._stack:
                    sc.setJobGroup(f"perfbench-{self.job}-{self._stack[-1]}", "")
                else:
                    sc._jsc.clearJobGroup()

    @property
    def current(self) -> Span:
        return self.spans[self._stack[-1]]

    def job_spans(self, job: int) -> list[tuple[int, Span]]:
        return [(i, s) for i, s in enumerate(self.spans) if s.job == job]

    def self_seconds(self, job: int) -> dict[str, float]:
        """Span name -> self time (duration minus the part its children
        cover), summed over the spans of one job with that name."""
        spans = self.job_spans(job)
        child_time: dict[int, float] = {}
        for _, s in spans:
            if s.parent is not None:
                child_time[s.parent] = child_time.get(s.parent, 0.0) + s.seconds
        out: dict[str, float] = {}
        for i, s in spans:
            out[s.name] = out.get(s.name, 0.0) + s.seconds - child_time.get(i, 0.0)
        return out

    def as_rows(self) -> list[dict]:
        return [asdict(s) for s in self.spans]


# ---------------------------------------------------------------------------
# Spark counters read from outside the engine
# ---------------------------------------------------------------------------


def _iter(seq):
    it = seq.iterator()
    while it.hasNext():
        yield it.next()


def stage_counters(sc, group: str) -> dict[str, float]:
    """Sum the stage data of every job run under ``group``: task time,
    shuffle, input, spill and memory, plus task skew and the wall time in
    which at least one of those stages was running."""
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    quantiles = sc._gateway.new_array(sc._jvm.double, 2)
    quantiles[0], quantiles[1] = 0.5, 1.0
    out = {
        "jobs": 0, "stages": 0, "tasks": 0, "tasks_failed": 0,
        "run_s": 0.0,
        "shuffle_bytes_written": 0, "shuffle_write_s": 0.0,
        "shuffle_fetch_wait_s": 0.0, "spill_bytes": 0,
        "peak_execution_memory": 0, "skew": 1.0, "stage_wall_s": 0.0,
    }
    intervals = []
    for job_id in tracker.getJobIdsForGroup(group):
        info = tracker.getJobInfo(job_id)
        if info is None:
            continue
        out["jobs"] += 1
        for sid in info.stageIds:
            try:
                st = store.lastStageAttempt(sid)
            except Exception:  # noqa: BLE001 - evicted or never-run stage
                continue
            status = st.status().toString()
            if status not in ("COMPLETE", "FAILED"):
                continue
            out["stages"] += 1
            out["tasks"] += st.numTasks()
            out["tasks_failed"] += st.numFailedTasks()
            out["run_s"] += st.executorRunTime() / 1e3
            out["shuffle_bytes_written"] += st.shuffleWriteBytes()
            out["shuffle_write_s"] += st.shuffleWriteTime() / 1e9
            out["shuffle_fetch_wait_s"] += st.shuffleFetchWaitTime() / 1e3
            out["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
            out["peak_execution_memory"] = max(
                out["peak_execution_memory"], st.peakExecutionMemory()
            )
            if st.submissionTime().isDefined() and st.completionTime().isDefined():
                intervals.append(
                    (
                        st.submissionTime().get().getTime(),
                        st.completionTime().get().getTime(),
                    )
                )
            if st.numTasks() >= 2:
                summ = store.taskSummary(sid, st.attemptId(), quantiles)
                if summ.isDefined():
                    run_q = summ.get().executorRunTime()
                    med, mx = run_q.apply(0), run_q.apply(1)
                    if med > 0:
                        out["skew"] = max(out["skew"], mx / med)
    out["stage_wall_s"] = _union_ms(intervals) / 1e3
    return out


def _union_ms(intervals: list[tuple[int, int]]) -> int:
    total, end = 0, None
    for lo, hi in sorted(intervals):
        if end is None or lo > end:
            total += hi - lo
            end = hi
        elif hi > end:
            total += hi - end
            end = hi
    return total


_PY_METRICS = {
    "pythonBootTime": "python_boot_s",
    "pythonInitTime": "python_init_s",
    "pythonTotalTime": "python_total_s",
    "pythonDataSent": "python_bytes_sent",
    "pythonDataReceived": "python_bytes_received",
}


def plan_metrics(df, counted: set[int]) -> dict[str, float]:
    """Walk the executed (final adaptive) plan of ``df`` and sum its
    Python-runner and file-scan node metrics, and count its file-scan tasks
    and shuffle exchanges. A cached input is followed into the plan that
    built it only the first time it is met (its id is then added to
    ``counted``), so each cache build is charged to the span that ran it.
    Reused exchanges are not followed: their plan is met where it ran."""
    jvm = df.sparkSession.sparkContext._jvm
    acc = {v: 0.0 for v in _PY_METRICS.values()}
    acc.update(scan_s=0.0, scan_bytes=0, scan_tasks=0, exchanges=0)

    def walk(node):
        name = node.getClass().getSimpleName()
        if name == "AdaptiveSparkPlanExec":
            return walk(node.executedPlan())
        if name.endswith("QueryStageExec"):
            return walk(node.plan())
        if name.startswith("Reused"):
            return None
        if name.startswith("InMemoryTableScan"):
            key = jvm.System.identityHashCode(node.relation().cacheBuilder())
            if key in counted:
                return None
            counted.add(key)
            return walk(node.relation().cachedPlan())
        if name == "ShuffleExchangeExec":
            acc["exchanges"] += 1
        metrics = {kv._1(): kv._2().value() for kv in _iter(node.metrics())}
        if "pythonBootTime" in metrics:
            for key, out in _PY_METRICS.items():
                scale = 1e3 if key.endswith("Time") else 1
                acc[out] += metrics.get(key, 0) / scale
        if name == "FileSourceScanExec":
            acc["scan_s"] += metrics.get("scanTime", 0) / 1e3
            acc["scan_bytes"] += metrics.get("filesSize", 0)
            acc["scan_tasks"] += node.inputRDD().getNumPartitions()
        for child in _iter(node.children()):
            walk(child)

    walk(df._jdf.queryExecution().executedPlan())
    return acc


def plan_seconds(df) -> float:
    """Driver-side planning time of ``df`` (optimizer + physical planning);
    the plan is kept by the DataFrame, so the following action reuses it."""
    t0 = time.perf_counter()
    df._jdf.queryExecution().executedPlan()
    return time.perf_counter() - t0


# ---------------------------------------------------------------------------
# process-level probes
# ---------------------------------------------------------------------------


def _stats() -> dict[int, list[str]]:
    """pid -> the fields of /proc/<pid>/stat after the command name."""
    out = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                # the command name may hold spaces; fields resume after ')'
                out[int(entry)] = f.read().rsplit(")", 1)[1].split()
        except (OSError, IndexError):
            continue
    return out


def process_tree(root: int, stats: dict[int, list[str]] | None = None) -> list[int]:
    stats = _stats() if stats is None else stats
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(c for c, f in stats.items() if int(f[1]) == pid)
    return out


def cpu_seconds(root: int) -> float:
    """User + system CPU time of ``root`` and its descendants, including
    children they have reaped (time the hypervisor steals is not in it)."""
    stats = _stats()
    ticks = 0
    for pid in process_tree(root, stats):
        # utime, stime, cutime, cstime are fields 14-17 of /proc/<pid>/stat
        ticks += sum(int(x) for x in stats[pid][11:15])
    return ticks / os.sysconf("SC_CLK_TCK")


def peak_rss_mb(root: int) -> float:
    """Sum of VmHWM over ``root`` and its descendants (driver, JVM, Python
    workers)."""
    total_kb = 0
    for pid in process_tree(root):
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024.0


def steal_seconds() -> float:
    """CPU time the hypervisor gave to other guests, summed over CPUs."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for name in files:
            try:
                total += os.path.getsize(os.path.join(root, name))
            except OSError:
                continue
    return total
