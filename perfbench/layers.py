"""Readers the benchmark uses from outside the engine package.

Per-layer metrics of the traced run come from Spark's status store
(jobs, stages, task metrics), ``/proc`` (JVM and Python-worker CPU, JVM
write bytes) and a ``StreamingQueryListener`` (micro-batch durations).
The retained-heap reading and the process helpers serve every run.
Nothing here runs inside an untraced pass; inside a traced pass's timed
segments only the job counter is read.
"""

from __future__ import annotations

import os
import threading

MB = float(1 << 20)
_CLK_TCK = os.sysconf("SC_CLK_TCK")

# Per-stage fields summed over a pass; the status store's units are in
# the comments (converted to the reported units in ``stage_metrics``).
STAGE_KEYS = (
    "tasks",  # completed tasks
    "run_ms",  # executorRunTime
    "cpu_ns",  # executorCpuTime
    "deserialize_ms",  # executorDeserializeTime
    "gc_ms",  # jvmGcTime
    "shuffle_read_b",
    "shuffle_write_b",
    "spill_b",  # diskBytesSpilled
    "input_b",
)


def sum_stages(stage_ids, lookup, seen: set) -> dict:
    """Sum stage metrics over ``stage_ids``, each stage id at most once.

    ``lookup(stage_id)`` returns a dict with ``status`` and every
    ``STAGE_KEYS`` field, or raises ``LookupError`` for a stage the
    status store never recorded. A job lists the stages it reused
    (skipped), so the same id recurs across jobs and passes: ``seen``
    carries the ids already counted in this run. Stages that never ran
    (skipped, still pending, or unknown to the store) add nothing.
    """
    totals = dict.fromkeys(STAGE_KEYS, 0)
    totals["stages"] = 0
    for sid in stage_ids:
        if sid in seen:
            continue
        seen.add(sid)
        try:
            st = lookup(sid)
        except LookupError:
            continue
        if st["status"] in ("SKIPPED", "PENDING"):
            continue
        totals["stages"] += 1
        for k in STAGE_KEYS:
            totals[k] += st[k]
    return totals


def stage_metrics(totals: dict) -> dict:
    """Stage sums in the reported units (seconds, MB, counts)."""
    return {
        "spark.stages": totals["stages"],
        "spark.tasks": totals["tasks"],
        "spark.run_s": totals["run_ms"] / 1e3,
        "spark.cpu_s": totals["cpu_ns"] / 1e9,
        "spark.deserialize_s": totals["deserialize_ms"] / 1e3,
        "spark.gc_s": totals["gc_ms"] / 1e3,
        "spark.shuffle_read_mb": totals["shuffle_read_b"] / MB,
        "spark.shuffle_write_mb": totals["shuffle_write_b"] / MB,
        "spark.spill_mb": totals["spill_b"] / MB,
        "spark.input_mb": totals["input_b"] / MB,
    }


class SparkStatus:
    """Jobs and stages of the live SparkContext, read via its status
    store (works with ``spark.ui.enabled=false``)."""

    def __init__(self, sc):
        self._sc = sc
        self._jsc = sc._jsc.sc()
        self._store = self._jsc.statusStore()
        self._tracker = sc.statusTracker()
        self.seen_stages: set = set()

    def job_count(self) -> int:
        """Jobs submitted so far; job ids are 0..job_count()-1 in
        submission order, so the jobs of a phase run by a single client
        are the id range between two reads. (Job groups alone would miss
        streaming micro-batch jobs, which run under their query's run
        id as group.)"""
        return self._jsc.dagScheduler().numTotalJobs()

    def drain(self) -> None:
        """Wait until every posted event (status store, streaming
        listener) has been delivered."""
        self._jsc.listenerBus().waitUntilEmpty()

    def lookup(self, stage_id: int) -> dict:
        from py4j.protocol import Py4JJavaError

        try:
            sd = self._store.lastStageAttempt(stage_id)
        except Py4JJavaError as e:  # NoSuchElementException: never recorded
            raise LookupError(stage_id) from e
        return {
            "status": sd.status().toString(),
            "tasks": sd.numCompleteTasks(),
            "run_ms": sd.executorRunTime(),
            "cpu_ns": sd.executorCpuTime(),
            "deserialize_ms": sd.executorDeserializeTime(),
            "gc_ms": sd.jvmGcTime(),
            "shuffle_read_b": sd.shuffleReadBytes(),
            "shuffle_write_b": sd.shuffleWriteBytes(),
            "spill_b": sd.diskBytesSpilled(),
            "input_b": sd.inputBytes(),
        }

    def jobs_metrics(self, first_job: int, end_job: int) -> dict:
        """Jobs, stages and stage sums of job ids [first_job, end_job)."""
        stage_ids = []
        for jid in range(first_job, end_job):
            info = self._tracker.getJobInfo(jid)
            if info is not None:
                stage_ids.extend(info.stageIds)
        out = stage_metrics(sum_stages(stage_ids, self.lookup, self.seen_stages))
        out["spark.jobs"] = end_job - first_job
        return out


def heap_retained_mb(sc, max_rounds: int = 8) -> float:
    """JVM heap in use after explicit full GCs, in MB. Python's collector
    runs first, since a JVM object stays reachable while a Python proxy
    for it is alive. The GC repeats until two rounds in a row no longer
    shrink the heap: Spark's ContextCleaner drops broadcast and shuffle
    state only after a GC has found it unreachable."""
    import gc
    import time

    jvm = sc._jvm
    mx = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    used, flat = float("inf"), 0
    for _ in range(max_rounds):
        gc.collect()
        jvm.java.lang.System.gc()
        now = mx.getHeapMemoryUsage().getUsed() / MB
        flat = flat + 1 if now >= 0.99 * used else 0
        used = min(used, now)
        if flat == 2:
            break
        time.sleep(0.5)
    return used


# --------------------------------------------------------------- /proc


def _stat(pid: int) -> tuple[int, int, int, int, int] | None:
    """(ppid, utime, stime, cutime, cstime) in clock ticks, or None if
    the process is gone."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            data = f.read()
    except OSError:
        return None
    rest = data[data.rindex(")") + 2 :].split()
    return (int(rest[1]), *(int(x) for x in rest[11:15]))


def alive(pid: int) -> bool:
    """True while ``pid`` exists and has not exited (zombies count as
    exited)."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def descendants(pid: int) -> list[int]:
    """Live descendant pids of ``pid``."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                children.setdefault(st[0], []).append(int(name))
    out, todo = [], list(children.get(pid, []))
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, []))
    return out


def jvm_cpu_s(jvm_pid: int) -> float:
    """User + system CPU of the JVM itself (driver and executor threads)."""
    st = _stat(jvm_pid)
    return (st[1] + st[2]) / _CLK_TCK if st else 0.0


def pyworker_cpu_s(jvm_pid: int) -> float:
    """CPU of the JVM's Python worker processes (``pyspark.daemon`` and
    the workers it forks), live or already exited: a live process
    counts its own time, an exited one is in its reaping parent's
    ``cutime``/``cstime`` (the JVM's, for its direct children)."""
    st = _stat(jvm_pid)
    ticks = (st[3] + st[4]) if st else 0
    for pid in descendants(jvm_pid):
        s = _stat(pid)
        if s is not None:
            ticks += sum(s[1:])
    return ticks / _CLK_TCK


def write_mb(pid: int) -> float:
    """Bytes the process caused to be written to storage, in MB."""
    try:
        with open(f"/proc/{pid}/io") as f:
            for line in f:
                if line.startswith("write_bytes:"):
                    return int(line.split()[1]) / MB
    except OSError:
        pass
    return 0.0


# ----------------------------------------------------------- streaming

STREAM_KEYS = (
    "streaming.batches",
    "streaming.input_rows",
    "streaming.trigger_ms",
    "streaming.add_batch_ms",
    "streaming.commit_ms",
    "streaming.planning_ms",
)
_DURATIONS = {
    "triggerExecution": "streaming.trigger_ms",
    "addBatch": "streaming.add_batch_ms",
    "commitOffsets": "streaming.commit_ms",
    "queryPlanning": "streaming.planning_ms",
}


def stream_listener():
    """A StreamingQueryListener that sums micro-batch progress.

    ``totals()`` returns a snapshot; a pass's share is the difference of
    two snapshots taken after ``SparkStatus.drain``.
    """
    from pyspark.sql.streaming import StreamingQueryListener

    class StreamTotals(StreamingQueryListener):
        def __init__(self):
            self._lock = threading.Lock()
            self._totals = dict.fromkeys(STREAM_KEYS, 0)

        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            with self._lock:
                self._totals["streaming.batches"] += 1
                self._totals["streaming.input_rows"] += p.numInputRows
                for src, key in _DURATIONS.items():
                    self._totals[key] += p.durationMs.get(src, 0)

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

        def totals(self) -> dict:
            with self._lock:
                return dict(self._totals)

    return StreamTotals()
