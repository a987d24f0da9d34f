"""Collectors of the figures Spark and the operating system keep.

``spark_jobs`` reads Spark's status store (kept even with the UI off) for
the jobs of one job group; ``ProcTree`` reads CPU time, bytes written to
files and resident memory of the driver process and everything it started
(the JVM, the Python worker daemon and its workers) from ``/proc``.  All but ``RssSampler``
are read between operations, outside their timing.
"""

from __future__ import annotations

import itertools
import os
import threading
from dataclasses import dataclass, field

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


@dataclass
class JobRecord:
    job_id: int
    submitted_s: float  # wall clock, seconds since the epoch
    completed_s: float
    stage_ids: tuple[int, ...]


@dataclass
class SparkRecord:
    """Status-store figures of one operation (one job group)."""

    jobs: list[JobRecord] = field(default_factory=list)
    stages: int = 0
    tasks: int = 0
    failed_tasks: int = 0
    executor_run_s: float = 0.0
    executor_cpu_s: float = 0.0
    gc_s: float = 0.0
    input_bytes: int = 0
    output_bytes: int = 0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    peak_exec_mem_bytes: int = 0


def _seq(scala_seq) -> list:
    return [scala_seq.apply(i) for i in range(scala_seq.size())]


def spark_jobs(spark, group: str) -> SparkRecord:
    """Jobs and per-stage task metrics of job group ``group``.

    A stage shared by several jobs of the group (AQE re-submits stages
    whose shuffle output already exists) is counted once; skipped stage
    attempts ran no tasks and are not counted."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    no_quantiles = sc._gateway.new_array(sc._gateway.jvm.double, 0)
    rec = SparkRecord()
    stage_ids: set[int] = set()
    for job_id in sorted(sc.statusTracker().getJobIdsForGroup(group)):
        job = store.job(job_id)
        sub, done = job.submissionTime(), job.completionTime()
        submitted = sub.get().getTime() / 1000.0 if sub.isDefined() else 0.0
        completed = done.get().getTime() / 1000.0 if done.isDefined() else submitted
        ids = tuple(_seq(job.stageIds()))
        rec.jobs.append(JobRecord(job_id, submitted, completed, ids))
        stage_ids.update(ids)
    for sid in sorted(stage_ids):
        for st in _seq(store.stageData(sid, False, None, False, no_quantiles)):
            if st.status().toString() == "SKIPPED":
                continue
            rec.stages += 1
            rec.tasks += st.numTasks()
            rec.failed_tasks += st.numFailedTasks()
            rec.executor_run_s += st.executorRunTime() / 1e3
            rec.executor_cpu_s += st.executorCpuTime() / 1e9
            rec.gc_s += st.jvmGcTime() / 1e3
            rec.input_bytes += st.inputBytes()
            rec.output_bytes += st.outputBytes()
            rec.shuffle_read_bytes += st.shuffleReadBytes()
            rec.shuffle_write_bytes += st.shuffleWriteBytes()
            rec.spill_bytes += st.diskBytesSpilled()
            rec.peak_exec_mem_bytes = max(
                rec.peak_exec_mem_bytes, st.peakExecutionMemory()
            )
    return rec


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by ``intervals`` (overlaps counted once)."""
    total, end = 0.0, float("-inf")
    for lo, hi in sorted(intervals):
        if hi <= end:
            continue
        total += hi - max(lo, end)
        end = hi
    return total


def driver_gap_s(wall: tuple[float, float], jobs: list[JobRecord]) -> float:
    """Part of the operation's wall interval during which no job ran."""
    lo, hi = wall
    inside = [
        (max(lo, j.submitted_s), min(hi, j.completed_s))
        for j in jobs
        if j.completed_s > lo and j.submitted_s < hi
    ]
    return (hi - lo) - union_length(inside)


def _read(path: str) -> str | None:
    try:
        with open(path, "rb") as fh:
            return fh.read().decode(errors="replace")
    except OSError:  # the process exited between listing and reading
        return None


class ProcTree:
    """CPU time, file writes and resident memory of a process and all its
    descendants.

    CPU and bytes written count each live process's own figures plus those
    of the children it has reaped, so a Python worker that exited is still
    counted through the daemon that forked it."""

    def __init__(self):
        self.root = os.getpid()

    def processes(self) -> dict[int, str]:
        """pid -> the ``stat`` line of every process under the root."""
        stats, parent = {}, {}
        for name in os.listdir("/proc"):
            if not name.isdigit():
                continue
            line = _read(f"/proc/{name}/stat")
            if line is None:
                continue
            pid = int(name)
            stats[pid] = line
            parent[pid] = int(line[line.rindex(")") + 2 :].split()[1])
        keep = {self.root}
        changed = True
        while changed:
            changed = False
            for pid, ppid in parent.items():
                if ppid in keep and pid not in keep:
                    keep.add(pid)
                    changed = True
        return {pid: stats[pid] for pid in keep if pid in stats}

    def descendants(self) -> list[int]:
        return [pid for pid in self.processes() if pid != self.root]

    @staticmethod
    def _is_pyworker(pid: int) -> bool:
        cmd = _read(f"/proc/{pid}/cmdline") or ""
        return "pyspark.daemon" in cmd or "pyspark.worker" in cmd

    def usage(self) -> tuple[float, float, int]:
        """(whole tree CPU seconds, Python workers' CPU seconds, bytes the
        tree wrote to files) so far."""
        tree = pyworkers = 0.0
        written = 0
        for pid, line in self.processes().items():
            f = line[line.rindex(")") + 2 :].split()
            ticks = sum(int(x) for x in f[11:15])  # utime stime cutime cstime
            tree += ticks / _TICK
            if self._is_pyworker(pid):
                pyworkers += ticks / _TICK
            for row in (_read(f"/proc/{pid}/io") or "").splitlines():
                if row.startswith("write_bytes:"):
                    written += int(row.split()[1])
        return tree, pyworkers, written

    @staticmethod
    def rss_mb(pids) -> float:
        """Resident memory of ``pids`` now."""
        pages = 0
        for pid in pids:
            statm = _read(f"/proc/{pid}/statm")
            if statm:
                pages += int(statm.split()[1])
        return pages * _PAGE / 2**20


_RSS_INTERVAL_S = 0.1
_RSS_REFRESH = 10


class RssSampler:
    """Peak resident memory of a process tree, sampled every
    ``_RSS_INTERVAL_S`` seconds by a background thread between ``start``
    and ``stop``; the tree's membership is re-read every ``_RSS_REFRESH``
    samples."""

    def __init__(self, tree: ProcTree):
        self.tree = tree
        self.peak_mb = 0.0
        self._done = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        pids: list[int] = []
        for n in itertools.count():
            if n % _RSS_REFRESH == 0:
                pids = list(self.tree.processes())
            self.peak_mb = max(self.peak_mb, self.tree.rss_mb(pids))
            if self._done.wait(_RSS_INTERVAL_S):
                return

    def start(self) -> None:
        self._thread.start()

    def stop(self) -> float:
        if self._thread.is_alive():
            self._done.set()
            self._thread.join(timeout=10)
        return self.peak_mb
