"""Measurements taken from outside the engine: ``/proc`` counters for the
driver's Python process, the JVM and the ``pyspark.daemon`` workers, and
job / stage records read back from the JVM's application status store.

The status store is filled by Spark's listener bus even with
``spark.ui.enabled=false``; ``StatusReader.drain`` waits for the bus to
empty so the last stage of a call is recorded before it is read.
"""

from __future__ import annotations

import os
import resource
from dataclasses import dataclass

_CLK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:  # the process ended between listing and reading
        return None
    return raw[raw.rindex(")") + 2 :].split()


def process_cpu_s(pid: int, with_reaped_children: bool = False) -> float:
    """User + system CPU seconds of one process (all its threads)."""
    f = _stat_fields(pid)
    if f is None:
        return 0.0
    ticks = int(f[11]) + int(f[12])
    if with_reaped_children:
        ticks += int(f[13]) + int(f[14])
    return ticks / _CLK


def python_workers_cpu_s(jvm_pid: int) -> float:
    """CPU of every Python process under the JVM (``pyspark.daemon`` and
    the workers it forks). A reaped worker's CPU moves into its parent's
    children counters, which are included, so the sum never drops."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        f = _stat_fields(int(name))
        if f is not None:
            children.setdefault(int(f[1]), []).append(int(name))
    total, stack = 0.0, list(children.get(jvm_pid, []))
    while stack:
        pid = stack.pop()
        stack.extend(children.get(pid, []))
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as fh:
                cmd = fh.read()
        except OSError:
            continue
        if b"pyspark" in cmd:
            total += process_cpu_s(pid, with_reaped_children=True)
    return total


def _status_mb(pid: int, field: str) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith(field + ":"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no {field} for pid {pid}")


def peak_rss_mb(pid: int) -> float:
    """High-water resident set size of a process, in MiB."""
    return _status_mb(pid, "VmHWM")


def rss_mb(pid: int) -> float:
    """Current resident set size of a process, in MiB."""
    return _status_mb(pid, "VmRSS")


def self_peak_rss_mb() -> float:
    return resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0


def write_bytes(pid: int) -> int:
    """Bytes the process caused to be written to storage."""
    try:
        with open(f"/proc/{pid}/io") as f:
            for line in f:
                if line.startswith("write_bytes:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def tree_bytes(paths) -> int:
    """Total size of the regular files under each path."""
    total = 0
    for root in paths:
        if os.path.isfile(root):
            total += os.path.getsize(root)
            continue
        for d, _, files in os.walk(root):
            for name in files:
                try:
                    total += os.lstat(os.path.join(d, name)).st_size
                except OSError:
                    pass
    return total


@dataclass
class Sample:
    """Process counters at one instant."""

    python_cpu: float
    jvm_cpu: float
    worker_cpu: float
    written: int

    @classmethod
    def take(cls, jvm_pid: int) -> "Sample":
        t = os.times()
        return cls(
            python_cpu=t.user + t.system,
            jvm_cpu=process_cpu_s(jvm_pid),
            worker_cpu=python_workers_cpu_s(jvm_pid),
            written=write_bytes(os.getpid()) + write_bytes(jvm_pid),
        )


@dataclass
class JobWindow:
    """Spark work attributed to one call: every job submitted while the
    call ran, whichever thread or job group submitted it."""

    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    task_attempts: int = 0
    failed_tasks: int = 0
    in_jobs_s: float = 0.0
    executor_cpu_s: float = 0.0
    jvm_gc_s: float = 0.0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    output_bytes: int = 0


def _ms(opt) -> float | None:
    return opt.get().getTime() if opt.isDefined() else None


class StatusReader:
    """Reads jobs and stages recorded since the previous read."""

    def __init__(self, spark):
        self._sc = spark.sparkContext._jsc.sc()
        self._store = self._sc.statusStore()
        self._next_job = 0
        self.drain()
        self._next_job = self._max_job_id() + 1

    def drain(self) -> None:
        self._sc.listenerBus().waitUntilEmpty()

    def _max_job_id(self) -> int:
        jobs = self._store.jobsList(None)
        return jobs.apply(0).jobId() if jobs.size() else -1

    def window(self, start_s: float, end_s: float) -> JobWindow:
        """Work of jobs submitted in [start_s, end_s] (epoch seconds)."""
        self.drain()
        lo, hi = start_s * 1000.0 - 1.0, end_s * 1000.0 + 1.0
        jobs = self._store.jobsList(None)  # newest first
        out = JobWindow()
        spans, stage_ids, newest = [], set(), self._next_job - 1
        for i in range(jobs.size()):
            job = jobs.apply(i)
            jid = job.jobId()
            if jid < self._next_job:
                break
            newest = max(newest, jid)
            sub = _ms(job.submissionTime())
            if sub is None or not lo <= sub <= hi:
                continue
            done = _ms(job.completionTime()) or hi
            out.jobs += 1
            spans.append((max(sub, lo), min(done, hi)))
            ids = job.stageIds()
            stage_ids.update(ids.apply(k) for k in range(ids.size()))
        self._next_job = newest + 1
        out.in_jobs_s = _union_s(spans)
        for sid in stage_ids:
            st = self._store.lastStageAttempt(sid)
            if not st.submissionTime().isDefined():  # skipped: reused shuffle
                continue
            out.stages += 1
            done = st.numCompleteTasks()
            failed = st.numFailedTasks()
            out.tasks += done
            out.failed_tasks += failed
            out.task_attempts += done + failed + st.numKilledTasks()
            out.executor_cpu_s += st.executorCpuTime() / 1e9
            out.jvm_gc_s += st.jvmGcTime() / 1e3
            out.shuffle_read_bytes += st.shuffleReadBytes()
            out.shuffle_write_bytes += st.shuffleWriteBytes()
            out.spill_bytes += st.memoryBytesSpilled() + st.diskBytesSpilled()
            out.output_bytes += st.outputBytes()
        return out


def _union_s(spans: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(spans):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total / 1000.0


def host_steal_s() -> float:
    """CPU time the hypervisor gave to other guests while this machine's
    CPUs wanted to run, summed over CPUs (``steal`` in ``/proc/stat``)."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / _CLK
