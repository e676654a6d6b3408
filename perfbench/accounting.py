"""Measurement helpers: spans, Spark status-store accounting, memory
sampling and the host record.

All Spark reads go through public PySpark APIs or py4j into the driver
JVM; nothing here changes what the engine does. The job counter is
the DAG scheduler's next job id, so jobs that run on other threads
(streaming micro-batches, the HTTP handler thread) are counted too.
"""

from __future__ import annotations

import os
import platform
import threading
import time
from dataclasses import dataclass, field


# ----------------------------------------------------------------- spans


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    op_id: str
    span_id: int


class Tracer:
    """In-memory span recorder. Disabled tracers record nothing and cost
    one attribute check per span."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self.counts: list[dict] = []
        self._next = 0
        self._lock = threading.Lock()
        self._local = threading.local()

    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def current(self) -> int | None:
        st = self._stack()
        return st[-1] if st else None

    def span(self, name: str, op_id: str, parent: int | None = None):
        return _SpanCtx(self, name, op_id, parent)

    def record_counts(self, op_id: str, name: str, counts: dict) -> None:
        if self.enabled:
            self.counts.append({"op_id": op_id, "op": name, **counts})

    def to_json(self) -> dict:
        return {
            "spans": [s.__dict__ for s in self.spans],
            "counts": self.counts,
        }


class _SpanCtx:
    def __init__(self, tracer: Tracer, name: str, op_id: str, parent: int | None):
        self.t, self.name, self.op_id, self.parent = tracer, name, op_id, parent

    def __enter__(self):
        t = self.t
        if not t.enabled:
            return None
        with t._lock:
            self.sid = t._next
            t._next += 1
        parent = self.parent if self.parent is not None else t.current()
        self.parent = parent
        t._stack().append(self.sid)
        self.start = time.perf_counter()
        return self.sid

    def __exit__(self, *exc):
        t = self.t
        if not t.enabled:
            return False
        end = time.perf_counter()
        t._stack().pop()
        with t._lock:
            t.spans.append(
                Span(self.name, self.start, end, self.parent, self.op_id, self.sid)
            )
        return False


# ------------------------------------------------------- Spark accounting


class SparkCounters:
    """Per-op job/stage/task accounting from the driver's status store."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.jsc = self.sc._jsc.sc()
        self.tracker = self.sc.statusTracker()

    def next_job_id(self) -> int:
        return int(self.jsc.dagScheduler().nextJobId())

    def set_group(self, group: str) -> None:
        self.sc.setJobGroup(group, group)

    def clear_group(self) -> None:
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        self.sc.setLocalProperty("spark.job.description", None)

    def group_jobs(self, group: str) -> set[int]:
        return set(self.tracker.getJobIdsForGroup(group))

    def job_stats(self, first_job: int, end_job: int) -> dict:
        """Stages, tasks and stage-level task metrics of jobs
        ``[first_job, end_job)``. Skipped stages (reused shuffle output)
        ran no tasks and are not counted."""
        stage_ids: set[int] = set()
        for jid in range(first_job, end_job):
            info = self.tracker.getJobInfo(jid)
            if info is not None:
                stage_ids.update(info.stageIds)
        store = self.jsc.statusStore()
        out = {
            "stages": 0, "tasks": 0, "task_run_s": 0.0, "task_cpu_s": 0.0,
            "gc_s": 0.0, "shuffle_read_bytes": 0, "shuffle_write_bytes": 0,
            "spill_bytes": 0,
        }
        for sid in stage_ids:
            info = self.tracker.getStageInfo(sid)
            if info is None or info.numCompletedTasks == 0:
                continue
            out["stages"] += 1
            out["tasks"] += info.numCompletedTasks
            try:
                sd = store.lastStageAttempt(sid)
            except Exception:  # evicted from the store: counts stay, times drop
                continue
            out["task_run_s"] += sd.executorRunTime() / 1e3
            out["task_cpu_s"] += sd.executorCpuTime() / 1e9
            out["gc_s"] += sd.jvmGcTime() / 1e3
            out["shuffle_read_bytes"] += int(sd.shuffleReadBytes())
            out["shuffle_write_bytes"] += int(sd.shuffleWriteBytes())
            out["spill_bytes"] += int(sd.memoryBytesSpilled()) + int(sd.diskBytesSpilled())
        return out


def catalyst_phases_ms(df) -> dict:
    """Analysis/optimization/planning ms from the frame's own
    ``QueryExecution`` tracker (filled once the frame has executed)."""
    tracker = df._jdf.queryExecution().tracker()
    phases = tracker.phases()
    out = {}
    for ph in ("analysis", "optimization", "planning"):
        opt = phases.get(ph)
        out[f"{ph}_ms"] = float(opt.get().durationMs()) if opt.isDefined() else 0.0
    return out


def python_bytes_sent(df) -> int:
    """Sum of the ``pythonDataSent`` SQL metric over the executed plan of
    ``df`` (Arrow/pandas UDF input shipped to Python workers)."""
    total = 0
    seen = 0
    stack = [df._jdf.queryExecution().executedPlan()]
    while stack and seen < 5000:
        seen += 1
        node = stack.pop()
        cls = node.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            stack.append(node.executedPlan())
            continue
        if cls.endswith("QueryStageExec"):
            stack.append(node.plan())
            continue
        m = node.metrics().get("pythonDataSent")
        if m.isDefined():
            total += int(m.get().value())
        children = node.children()
        for i in range(children.size()):
            stack.append(children.apply(i))
        subs = node.subqueries()
        for i in range(subs.size()):
            stack.append(subs.apply(i))
    return total


# ------------------------------------------------------------- processes


def _children(pid: int) -> list[int]:
    try:
        with open(f"/proc/{pid}/task/{pid}/children") as fh:
            return [int(x) for x in fh.read().split()]
    except OSError:
        return []


def descendants(pid: int) -> list[int]:
    out, stack = [], _children(pid)
    while stack:
        p = stack.pop()
        out.append(p)
        stack.extend(_children(p))
    return out


_TICK_S = 1.0 / os.sysconf("SC_CLK_TCK")


def _cpu_ticks(pid: int) -> int:
    """User + system ticks of ``pid`` and of the children it has reaped."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            f = fh.read().rsplit(")", 1)[1].split()
    except OSError:
        return 0
    return int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])


def tree_cpu_s() -> float:
    """CPU seconds used so far by this process, the driver JVM and the
    Python workers it spawns. Time the hypervisor steals from the
    machine is not charged to them, unlike wall time."""
    me = os.getpid()
    return _TICK_S * sum(_cpu_ticks(p) for p in [me, *descendants(me)])


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class RssSampler:
    """Samples the summed RSS of this process's descendants (the driver
    JVM and the Python workers it spawns) from ``/proc``."""

    def __init__(self, interval: float = 0.5):
        self.interval = interval
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="rss-sampler", daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            self.sample(me)
            self._stop.wait(self.interval)

    def sample(self, me: int | None = None) -> None:
        kb = sum(_rss_kb(p) for p in descendants(me or os.getpid()))
        self.peak_kb = max(self.peak_kb, kb)

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0


def machine_ticks() -> tuple[int, int]:
    """(all, stolen) CPU ticks of the machine since boot, from
    ``/proc/stat``."""
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:]]
    return sum(f[:8]), f[7]


def process_start_time() -> float:
    """Wall-clock time this process started, from ``/proc``."""
    with open("/proc/self/stat") as fh:
        fields = fh.read().rsplit(")", 1)[1].split()
    start_ticks = int(fields[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    hz = os.sysconf("SC_CLK_TCK")
    return time.time() - (uptime - start_ticks / hz)


# ------------------------------------------------------------- host record


def _git_commit(root: str) -> str | None:
    head = os.path.join(root, ".git", "HEAD")
    try:
        with open(head) as fh:
            ref = fh.read().strip()
        if not ref.startswith("ref: "):
            return ref
        ref_path = os.path.join(root, ".git", ref[5:])
        if os.path.exists(ref_path):
            with open(ref_path) as fh:
                return fh.read().strip()
        with open(os.path.join(root, ".git", "packed-refs")) as fh:
            for line in fh:
                if line.strip().endswith(ref[5:]):
                    return line.split()[0]
    except OSError:
        pass
    return None


def host_record(root: str, seed: int, cpus: int) -> dict:
    import pyarrow
    import pyspark

    mem_kb = 0
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                mem_kb = int(line.split()[1])
    return {
        "nproc": cpus,
        "ram_gb": round(mem_kb / 1024 / 1024, 1),
        "loadavg_start": os.getloadavg(),
        "spark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "python": platform.python_version(),
        "seed": seed,
        "git_commit": _git_commit(root),
    }


@dataclass
class OpRecord:
    """One executed op: its latency, outcome and (traced runs) counts."""

    name: str
    kind: str
    latency_s: float
    cpu_s: float
    ok: bool
    error: str | None = None
    counts: dict = field(default_factory=dict)
