"""Measurement helpers shared by the workloads.

Nothing here imports pyspark at module load, so the self-tests run
without a JVM.  Everything is read from outside the engine: ``/proc``
for CPU and memory, Spark's own status store for stage counters, and
wall-clock spans around calls into the engine's public functions.
"""

from __future__ import annotations

import json
import math
import os
import time
from dataclasses import dataclass, field

# --------------------------------------------------------------------------
# statistics
# --------------------------------------------------------------------------


def percentile(values, q: float) -> float:
    """The ``q``-th percentile (0-100) by linear interpolation between
    closest ranks, the same rule as ``numpy.percentile``'s default."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    pos = (len(xs) - 1) * q / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def summarize(values) -> dict:
    """Median, p90 and the sample count, with how many samples lie beyond
    the p90 (at least ten are needed for the p90 to be more than one
    unlucky statement)."""
    xs = list(values)
    if not xs:
        return {"n": 0, "p50": 0.0, "p90": 0.0, "beyond_p90": 0}
    p90 = percentile(xs, 90)
    return {
        "n": len(xs),
        "p50": percentile(xs, 50),
        "p90": p90,
        "beyond_p90": sum(1 for x in xs if x > p90),
    }


@dataclass
class Outcomes:
    """Attempted statements and failures.  A statement that raised and a
    statement whose result did not match the reference both count as
    failed; ``reasons`` keeps the first few messages for the log."""

    attempted: int = 0
    failed: int = 0
    reasons: list = field(default_factory=list)

    def ok(self) -> None:
        self.attempted += 1

    def fail(self, why: str) -> None:
        self.attempted += 1
        self.failed += 1
        if len(self.reasons) < 10:
            self.reasons.append(why[:300])

    def mismatch(self, why: str) -> None:
        """A statement already counted as attempted turned out wrong when
        its result was checked after the timed window."""
        self.failed += 1
        if len(self.reasons) < 10:
            self.reasons.append(why[:300])

    @property
    def failed_ratio(self) -> float:
        return self.failed / self.attempted if self.attempted else 1.0


# --------------------------------------------------------------------------
# /proc: CPU time of a process tree, memory, noise
# --------------------------------------------------------------------------

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> tuple[int, float] | None:
    """(ppid, cpu seconds) of one process.  The CPU time counts the
    process's own user and system time plus that of its children it has
    reaped, so a Python worker that exited still counts once."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    rest = raw[raw.rfind(")") + 2:].split()
    ppid = int(rest[1])
    utime, stime, cutime, cstime = (int(x) for x in rest[11:15])
    return ppid, (utime + stime + cutime + cstime) / _TICK


def process_tree(root: int) -> list[int]:
    """``root`` and all its live descendants."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                children.setdefault(st[0], []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def _cmdline(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return f.read().replace(b"\0", b" ").decode(errors="replace")
    except OSError:
        return ""


def is_python_worker(cmdline: str) -> bool:
    """A pyspark daemon or worker process (the Python-UDF executors)."""
    return "pyspark.daemon" in cmdline or "pyspark.worker" in cmdline


def tree_cpu(root: int) -> dict:
    """CPU seconds of the tree under ``root``: total and the part spent in
    pyspark Python workers."""
    total = workers = 0.0
    for pid in process_tree(root):
        st = _stat(pid)
        if st is None:
            continue
        total += st[1]
        if is_python_worker(_cmdline(pid)):
            workers += st[1]
    return {"total_s": total, "workers_s": workers}


def jvm_peak_rss_mb(root: int) -> float:
    """Peak resident set (VmHWM) of the Java process under ``root``."""
    for pid in process_tree(root):
        if "java" not in _cmdline(pid).split(" ", 1)[0]:
            continue
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        return int(line.split()[1]) / 1024.0
        except OSError:
            pass
    return 0.0


def loadavg() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def cpu_counters() -> tuple[int, int]:
    """(steal, total) jiffies summed over all CPUs, from ``/proc/stat``."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    steal = fields[7] if len(fields) > 7 else 0
    # guest time is already inside user/nice
    return steal, sum(fields[:8])


class Noise:
    """Load average before and after a window and the CPU steal share
    over it: context for reading the CPU columns, not a gate."""

    def __init__(self) -> None:
        self.load_before = loadavg()
        self._c0 = cpu_counters()

    def finish(self) -> dict:
        s1, t1 = cpu_counters()
        ds, dt = s1 - self._c0[0], t1 - self._c0[1]
        return {
            "loadavg_before": self.load_before,
            "loadavg_after": loadavg(),
            "steal_pct": 100.0 * ds / dt if dt > 0 else 0.0,
        }


# --------------------------------------------------------------------------
# spans
# --------------------------------------------------------------------------


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None  # index into Tracer.spans
    stmt: int  # statement id shared by the spans of one statement


class Tracer:
    """Spans kept in memory and written out when the run ends.  With
    ``enabled=False`` nothing is recorded, so the untraced run pays for
    one attribute test per boundary."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []

    def add(self, name: str, start: float, end: float, stmt: int,
            parent: int | None = None) -> int | None:
        if not self.enabled:
            return None
        self.spans.append(Span(name, start, end, parent, stmt))
        return len(self.spans) - 1

    def self_times(self) -> dict[str, list[float]]:
        """Per span name, each span's duration minus the part of its
        interval that its child spans cover (seconds)."""
        kids: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                kids.setdefault(s.parent, []).append(s)
        out: dict[str, list[float]] = {}
        for i, s in enumerate(self.spans):
            covered = _union_length(
                [(max(c.start, s.start), min(c.end, s.end)) for c in kids.get(i, ())]
            )
            out.setdefault(s.name, []).append(max(0.0, s.end - s.start - covered))
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([s.__dict__ for s in self.spans], f)


def _union_length(intervals) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(i for i in intervals if i[1] > i[0]):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def now() -> float:
    return time.perf_counter()


# --------------------------------------------------------------------------
# Spark counters (read through py4j, never from inside the engine)
# --------------------------------------------------------------------------

STAGE_FIELDS = (
    "numTasks", "executorRunTime", "executorCpuTime", "shuffleWriteBytes",
    "shuffleReadBytes", "inputBytes", "outputBytes",
)


def aggregate_stages(stages: list[dict]) -> dict:
    """Sum the stage records of one statement.  Only ``COMPLETE`` stages
    count: a ``SKIPPED`` stage (its shuffle output was reused) still
    reports the task count it would have had.  CPU time arrives in
    nanoseconds, run time in milliseconds."""
    done = [s for s in stages if s.get("status") == "COMPLETE"]
    run_ms = float(sum(s["executorRunTime"] for s in done))
    cpu_ms = sum(s["executorCpuTime"] for s in done) / 1e6
    return {
        "stages": len(done),
        "tasks": sum(s["numTasks"] for s in done),
        "run_ms": run_ms,
        "cpu_ms": cpu_ms,
        "shuffle_write_bytes": sum(s["shuffleWriteBytes"] for s in done),
        "shuffle_read_bytes": sum(s["shuffleReadBytes"] for s in done),
        "input_bytes": sum(s["inputBytes"] for s in done),
        "output_bytes": sum(s["outputBytes"] for s in done),
        "intervals": [(s["submitted_ms"], s["completed_ms"]) for s in done
                      if s.get("submitted_ms") and s.get("completed_ms")],
    }


class StageReader:
    """Ties Spark jobs to statements with ``setJobGroup`` and reads their
    stages from the status store once the listener bus is drained."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self._store = self.sc._jsc.sc().statusStore()
        self._bus = self.sc._jsc.sc().listenerBus()

    def begin(self, group: str) -> None:
        self.sc.setJobGroup(group, group)

    def end(self) -> None:
        # pinned-thread mode: clear this thread's group so later work
        # (result checks, warm-up) is not attributed to the statement
        self.sc._jsc.sc().clearJobGroup()

    def read(self, group: str) -> list[dict]:
        """The group's stages, each once: with adaptive execution a later
        job lists the stages of the jobs before it again."""
        self._bus.waitUntilEmpty()
        stage_ids = set()
        for job_id in self.sc.statusTracker().getJobIdsForGroup(group):
            ids = self._store.job(job_id).stageIds()
            stage_ids.update(ids.apply(i) for i in range(ids.size()))
        return [self._stage(i) for i in sorted(stage_ids)]

    def _stage(self, stage_id: int) -> dict:
        st = self._store.lastStageAttempt(stage_id)
        rec = {k: getattr(st, k)() for k in STAGE_FIELDS}
        rec["status"] = st.status().toString()
        sub, comp = st.submissionTime(), st.completionTime()
        rec["submitted_ms"] = sub.get().getTime() if sub.isDefined() else None
        rec["completed_ms"] = comp.get().getTime() if comp.isDefined() else None
        return rec


def catalyst_phases(df) -> dict:
    """Catalyst phase durations (ms) of ``df``'s query execution, read
    from its QueryPlanningTracker after forcing the physical plan."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    out = {}
    for name in ("parsing", "analysis", "optimization", "planning"):
        ph = phases.get(name)
        out[name] = float(ph.get().durationMs()) if ph.isDefined() else 0.0
    return out
