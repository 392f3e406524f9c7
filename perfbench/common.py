"""Shared pieces of the benchmark: the run context, statistics, spans and
Spark counters.

Spark counters come from the driver's status store. Operations run one at
a time, so the jobs an operation started are exactly the jobs whose ids
are above the cursor taken before it. The cursor attributes jobs by id,
not by job group: the engine starts some of its jobs from its own worker
thread, which a thread-local job group would miss.
"""

from __future__ import annotations

import contextlib
import os
import statistics
import time
from dataclasses import dataclass, field

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


# --- statistics ---------------------------------------------------------------


def median(values) -> float:
    return float(statistics.median(values)) if values else 0.0


def tail(values) -> tuple[float, float, int]:
    """(value, percentile, samples) at the highest percentile that still
    has at least ten samples above it; with ten or fewer samples there is
    none, and the maximum is returned at percentile 100."""
    xs = sorted(values)
    n = len(xs)
    if n <= 10:
        return (xs[-1] if xs else 0.0), 100.0, n
    return xs[n - 11], round(100.0 * (n - 10) / n, 1), n


def flatness(values) -> float:
    """Median of the second half of the timed window over the median of
    its first half: near 1 once warm-up has ended, below 1 while per-op
    time is still falling."""
    h = len(values) // 2
    if h == 0:
        return 1.0
    return median(values[-h:]) / median(values[:h])


# --- host readings ------------------------------------------------------------


def loadavg() -> float:
    return os.getloadavg()[0]


def peak_rss_mb(pids) -> float:
    """Sum of VmHWM (peak resident set) over the given processes."""
    total_kb = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            pass
    return total_kb / 1024.0


# --- spans --------------------------------------------------------------------


class Tracer:
    """In-memory spans: name, start, end, parent and counters. Disabled,
    ``span`` records nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, /, **attrs):
        if not self.enabled:
            yield attrs
            return
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter(),
            "end": None,
            "attrs": attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield attrs
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()


# --- Spark counters -----------------------------------------------------------


def _opt_ms(opt) -> float | None:
    return opt.get().getTime() / 1000.0 if opt.isDefined() else None


def _union_s(intervals) -> float:
    total, end = 0.0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


class JobCursor:
    """Counters of the Spark jobs started since the last ``read``."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        jsc = self.sc._jsc.sc()
        self.bus = jsc.listenerBus()
        self.store = jsc.statusStore()
        self.next_id = self._max_job_id() + 1

    def _max_job_id(self) -> int:
        jobs = self.store.jobsList(None)  # newest first
        return jobs.apply(0).jobId() if jobs.size() else -1

    def read(self) -> dict:
        # the status store is fed asynchronously by the listener bus
        self.bus.waitUntilEmpty()
        last = self._max_job_id()
        out = {
            "jobs": 0, "stages": 0, "tasks": 0, "executor_run_s": 0.0,
            "executor_cpu_s": 0.0, "shuffle_write_bytes": 0, "spill_bytes": 0,
            "job_busy_s": 0.0,
        }
        intervals = []
        for jid in range(self.next_id, last + 1):
            job = self.store.job(jid)
            out["jobs"] += 1
            start, end = _opt_ms(job.submissionTime()), _opt_ms(job.completionTime())
            if start is not None and end is not None:
                intervals.append((start, end))
            sids = job.stageIds()
            for i in range(sids.size()):
                try:
                    st = self.store.lastStageAttempt(sids.apply(i))
                except Exception:  # noqa: BLE001 - skipped stage, never attempted
                    continue
                if st.status().toString() != "COMPLETE":
                    continue
                out["stages"] += 1
                out["tasks"] += st.numCompleteTasks()
                out["executor_run_s"] += st.executorRunTime() / 1e3
                out["executor_cpu_s"] += st.executorCpuTime() / 1e9
                out["shuffle_write_bytes"] += st.shuffleWriteBytes()
                out["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
        out["job_busy_s"] = _union_s(intervals)
        self.next_id = last + 1
        return out


def planning_s(df) -> float:
    """Analysis + optimization + planning time of an executed DataFrame,
    from its query-execution tracker."""
    phases = df._jdf.queryExecution().tracker().phases()
    total = 0.0
    for name in ("analysis", "optimization", "planning"):
        ph = phases.get(name)
        if ph.isDefined():
            total += ph.get().durationMs() / 1e3
    return total


def add_counts(acc: dict, counts: dict) -> None:
    for k, v in counts.items():
        acc[k] = acc.get(k, 0) + v


# --- run context --------------------------------------------------------------


@dataclass
class Run:
    """What a workload gets: its arguments, a private work directory, the
    session, the tracer, and the per-layer values it fills in."""

    workload: str
    seed: int
    seconds: int
    trace: bool
    work: str
    t0: float  # process start, the origin of setup_s
    spark: object = None
    tracer: Tracer = None
    layer: dict = field(default_factory=dict)

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def cursor(self) -> JobCursor | None:
        return JobCursor(self.spark) if self.trace else None


@dataclass
class Outcome:
    """A workload's result: op samples and outcome counts for the
    end-to-end metrics."""

    setup_s: float
    work_s: float  # wall time of the timed window
    op_s: list  # wall time of each timed operation, in order
    items: int  # messages finalised, or query executions
    attempted: int
    failed: int
    correct: bool
