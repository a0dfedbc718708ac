"""Observation of the engine from outside: Spark's status store, a
streaming-query listener, hygiene counters and process memory.

Nothing here touches the engine's code.  Spark jobs are attributed to an
op by SUBMISSION TIME: a job belongs to the op whose [start, end] window
contains its submission.  Job groups would not work: the engine submits
concurrent artifact writes from a plain ThreadPoolExecutor
(``ext/artifact.run_jobs``), and under pinned-thread mode local properties
do not follow into those threads.
"""

from __future__ import annotations

import gc
import os
import resource
import tempfile
import threading
from datetime import datetime

from py4j.protocol import Py4JJavaError
from pyspark.sql.streaming import StreamingQueryListener

DURATION_PARTS = (
    "latestOffset",
    "getBatch",
    "queryPlanning",
    "addBatch",
    "walCommit",
    "commitOffsets",
)


class TriggerListener(StreamingQueryListener):
    """Records every micro-batch progress event: (trigger start, durationMs).
    Events arrive asynchronously, so each is placed by its own start time,
    not by when it was delivered."""

    def __init__(self) -> None:
        self.triggers: list[tuple[float, dict[str, int]]] = []
        self._lock = threading.Lock()

    def onQueryStarted(self, event) -> None:  # noqa: N802 — Spark's API
        pass

    def onQueryProgress(self, event) -> None:  # noqa: N802
        with self._lock:
            p = event.progress
            start = datetime.fromisoformat(p.timestamp.replace("Z", "+00:00")).timestamp()
            self.triggers.append((start, dict(p.durationMs)))

    def onQueryIdle(self, event) -> None:  # noqa: N802
        pass

    def onQueryTerminated(self, event) -> None:  # noqa: N802
        pass

    def between(self, t0: float, t1: float) -> list[dict[str, float]]:
        """durationMs of the triggers that started in [t0, t1]; ``_t`` is
        the start time."""
        with self._lock:
            return [{**d, "_t": t} for t, d in self.triggers if t0 <= t <= t1]


def flush_listeners(spark) -> None:
    """Wait until Spark's listener bus has delivered every queued event,
    so the status store and the trigger listener are complete."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty(30_000)


class JobHarvester:
    """Reads jobs and their stages from ``sc.statusStore()``."""

    def __init__(self, spark) -> None:
        self.spark = spark
        self.store = spark.sparkContext._jsc.sc().statusStore()
        seq = self.store.jobsList(None)  # newest first
        self.last_job = seq.apply(0).jobId() if seq.size() else -1

    def new_jobs(self) -> list[dict]:
        """Every job submitted since the previous call, with the summed
        metrics of the stages it ran (skipped stages excluded)."""
        flush_listeners(self.spark)
        seq = self.store.jobsList(None)  # newest first
        jobs = []
        for i in range(seq.size()):
            j = seq.apply(i)
            if j.jobId() <= self.last_job:
                break
            jobs.append(self._job(j))
        if jobs:
            self.last_job = max(j["id"] for j in jobs)
        return sorted(jobs, key=lambda j: j["id"])

    def _job(self, j) -> dict:
        sub = j.submissionTime().get().getTime() / 1000.0
        end = j.completionTime().get().getTime() / 1000.0 if j.completionTime().isDefined() else sub
        out = {
            "id": j.jobId(), "start": sub, "end": end, "stages": 0,
            "task_s": 0.0, "task_cpu_s": 0.0, "gc_s": 0.0,
            "input_bytes": 0, "input_rows": 0, "output_bytes": 0,
            "shuffle_read_bytes": 0, "shuffle_write_bytes": 0,
            "spill_bytes": 0, "failed_tasks": 0,
        }
        ids = j.stageIds()
        for k in range(ids.size()):
            try:
                s = self.store.lastStageAttempt(ids.apply(k))
            except Py4JJavaError:  # a stage the job never submitted
                continue
            if str(s.status()) == "SKIPPED":
                continue
            out["stages"] += 1
            out["task_s"] += s.executorRunTime() / 1000.0
            out["task_cpu_s"] += s.executorCpuTime() / 1e9
            out["gc_s"] += s.jvmGcTime() / 1000.0
            out["input_bytes"] += s.inputBytes()
            out["input_rows"] += s.inputRecords()
            out["output_bytes"] += s.outputBytes()
            out["shuffle_read_bytes"] += s.shuffleReadBytes()
            out["shuffle_write_bytes"] += s.shuffleWriteBytes()
            out["spill_bytes"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
            out["failed_tasks"] += s.numFailedTasks()
        return out


def covered(intervals: list[tuple[float, float]], t0: float, t1: float) -> float:
    """Length of the union of ``intervals`` clipped to [t0, t1]."""
    total, cur_end = 0.0, t0
    for a, b in sorted((max(a, t0), min(b, t1)) for a, b in intervals):
        if b <= cur_end:
            continue
        total += b - max(a, cur_end)
        cur_end = b
    return total


def leak_counts(spark) -> tuple[int, int, int]:
    """What is left behind right now: persisted RDDs, ``p311_*`` temp dirs
    and active streams (an op's leaks are the increase over the op)."""
    gc.collect()  # drop unreferenced frames so only real leaks stay persisted
    tmp = tempfile.gettempdir()
    return (
        spark.sparkContext._jsc.sc().getPersistentRDDs().size(),
        sum(1 for n in os.listdir(tmp) if n.startswith("p311_")),
        len(spark.streams.active),
    )


_CLK_TCK = os.sysconf("SC_CLK_TCK")


def engine_cpu_s(jvm_pid: int) -> float:
    """CPU seconds used so far by this process, the driver JVM and every
    process under it (Spark's Python workers).  Unlike wall time it does
    not grow while the host runs other guests' work (steal)."""
    children: dict[int, list[int]] = {}
    cpu: dict[int, float] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:  # the process ended while we listed
            continue
        pid = int(name)
        children.setdefault(int(fields[1]), []).append(pid)
        # utime stime cutime cstime: a reaped child's time sits in its
        # parent's cutime/cstime, a live one's only in its own entry
        cpu[pid] = sum(int(x) for x in fields[11:15]) / _CLK_TCK
    total, todo = cpu.get(os.getpid(), 0.0), [jvm_pid]
    while todo:
        pid = todo.pop()
        total += cpu.get(pid, 0.0)
        todo.extend(children.get(pid, []))
    return total


def _vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb(jvm_pid: int | None) -> float:
    """Peak resident memory of the driver JVM plus this Python process."""
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    jvm_kb = _vm_hwm_kb(jvm_pid) if jvm_pid else 0
    return (py_kb + jvm_kb) / 1024.0
