"""In-memory spans and counters for the traced run.

Spans are recorded only by the benchmark's own code, around its calls into
the engine. Counters come from stores Spark already keeps (the status
tracker and the app status store) and from ``/proc``; reading them costs
no Spark job.
"""

from __future__ import annotations

import contextlib
import itertools
import os
import time

_CLK_TCK = os.sysconf("SC_CLK_TCK")


class Tracer:
    """Collects spans (name, start, end, parent, trace id) in memory. When
    disabled, ``span`` is a no-op so the untraced run pays nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._stack: list[dict] = []

    @contextlib.contextmanager
    def span(self, name: str, trace: str | None = None, **attrs):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        s = {
            "id": next(self._ids),
            "parent": parent["id"] if parent else None,
            "trace": trace or (parent["trace"] if parent else name),
            "name": name,
            "start": time.perf_counter(),
            "end": None,
            **attrs,
        }
        self._stack.append(s)
        try:
            yield s
        finally:
            s["end"] = time.perf_counter()
            self._stack.pop()
            self.spans.append(s)

    def add(self, name: str, start: float, end: float, parent: dict | None, **attrs) -> None:
        """Record a span measured elsewhere (e.g. a sink call timed on the
        streaming thread) under ``parent``."""
        if self.enabled:
            self.spans.append(
                {
                    "id": next(self._ids),
                    "parent": parent["id"] if parent else None,
                    "trace": parent["trace"] if parent else name,
                    "name": name,
                    "start": start,
                    "end": end,
                    **attrs,
                }
            )


# ------------------------------------------------------------ /proc reads ----
def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()
    except OSError:
        return None


def _children(pid: int) -> list[int]:
    out = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                out += [int(c) for c in f.read().split()]
    except OSError:
        pass
    return out


def descendants_cpu_s(pid: int) -> float:
    """CPU seconds of every live descendant of ``pid`` (not ``pid`` itself),
    including children they have already reaped. For the JVM these are
    the Python worker daemons and their forked workers."""
    total, todo = 0, _children(pid)
    while todo:
        p = todo.pop()
        st = _stat(p)
        if st:
            # fields 14-17 of /proc/pid/stat: utime stime cutime cstime
            total += sum(int(x) for x in st[11:15])
        todo += _children(p)
    return total / _CLK_TCK


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks of the whole machine so far, from
    ``/proc/stat``. Steal is time the hypervisor gave this machine's CPUs
    to someone else: on a shared host it explains runs that read slow."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    return vals[7], sum(vals[:8])


def peak_rss_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


class ProcessClock:
    """Seconds since this process was created, interpreter start included:
    the age read from ``/proc`` when the clock is made (10 ms resolution)
    plus the high-resolution time since."""

    def __init__(self):
        with open("/proc/uptime") as f:
            up = float(f.read().split()[0])
        self._age0 = up - int(_stat(os.getpid())[19]) / _CLK_TCK
        self._perf0 = time.perf_counter()

    def age_s(self) -> float:
        return self._age0 + time.perf_counter() - self._perf0


# ------------------------------------------------------ Spark status store ----
STAGE_FIELDS = {
    "exec.tasks": "numTasks",
    "exec.task_run_ms": "executorRunTime",
    "exec.input_bytes": "inputBytes",
    "exec.shuffle_write_bytes": "shuffleWriteBytes",
    "exec.shuffle_read_bytes": "shuffleReadBytes",
    "exec.failed_tasks": "numFailedTasks",
}


class SparkCounters:
    """Job and stage records from Spark's status tracker and app status
    store. Batch queries run their jobs with no job group; a streaming
    query runs its jobs in a group named after its run id."""

    def __init__(self, spark):
        self._store = spark.sparkContext._jsc.sc().statusStore()
        self._tracker = spark.sparkContext.statusTracker()
        self.jvm_pid = spark.sparkContext._gateway.proc.pid

    def jobs(self, group: str | None = None) -> set[int]:
        """Ids of the retained jobs of ``group`` (None: jobs with no group)."""
        return set(self._tracker.getJobIdsForGroup(group))

    def totals(self, job_ids: set[int]) -> dict[str, float]:
        """Job, stage and task totals of ``job_ids``. A stage shared by
        several jobs counts once; skipped stages (reused shuffle output)
        count not at all."""
        stages = set()
        for j in job_ids:
            info = self._tracker.getJobInfo(j)
            if info is not None:
                stages.update(info.stageIds)
        out = dict.fromkeys(STAGE_FIELDS, 0.0)
        out.update({"exec.jobs": len(job_ids), "exec.stages": 0, "exec.jvm_cpu_ms": 0.0,
                    "exec.spill_bytes": 0.0})
        for i in sorted(stages):
            sd = self._store.lastStageAttempt(i)
            if sd.status().toString() == "SKIPPED":
                continue
            out["exec.stages"] += 1
            for k, m in STAGE_FIELDS.items():
                out[k] += getattr(sd, m)()
            out["exec.jvm_cpu_ms"] += sd.executorCpuTime() / 1e6
            out["exec.spill_bytes"] += sd.diskBytesSpilled()
        return out
