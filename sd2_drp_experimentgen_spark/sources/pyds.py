"""Custom connector via the Spark 4 Python Data Source API — the
engine's demonstration that NEW sources (internal feeds, instrument
streams, blob-store listings) plug in as first-class `spark.read`
formats with partition-parallel reads, not as driver-side loops.

The source generates deterministic synthetic sensor readings from pure
integer arithmetic, so a SQL oracle over `generate_series` reproduces
it exactly and the connector is hash-checkable end-to-end: partition
planning (`partitions()` -> one `InputPartition` per slice), per-task
generation (`read()` runs on executors), and option handling
(rows/partitions) are all exercised.
"""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamWriter,
    DataSourceWriter,
    InputPartition,
    SimpleDataSourceStreamReader,
    WriterCommitMessage,
)


def use_python_datasource(spark: SparkSession, *sources: type) -> None:
    """Register Python data sources on ``spark`` AND pin it as the
    JVM thread-local active session.

    Spark 4.x resolves a Python data source NAME through the ACTIVE
    session's DataSourceManager (``DataSource.lookupDataSource`` falls
    back to ``SparkSession.getActiveSession``), not through the
    DataFrame's own session. Registration alone is therefore not
    enough: if an earlier operator left a CLONED session active on
    this thread (the streaming paths run on ``newSession()`` clones,
    whose DataSourceManager starts empty), the very next
    ``format("sd2drp_*")`` read/write fails with
    DATA_SOURCE_NOT_FOUND even though the source is registered on the
    session doing the write — reproduced deterministically by
    registering on the base session, calling ``setActiveSession`` on a
    fresh clone, and saving (tests/test_sources.py guards this).
    Pinning the active session to the session that owns the
    registration makes every call site order-independent.

    The pin comes FIRST: ``register`` looks for an existing source
    through the active session too, so registering on a second clone
    while the first clone is still active raises
    DATA_SOURCE_ALREADY_EXISTS. Re-registering on the pinned session
    itself just replaces the source.
    """
    spark._jvm.org.apache.spark.sql.classic.SparkSession.setActiveSession(  # noqa: SLF001
        spark._jsparkSession  # noqa: SLF001
    )
    for src in sources:
        spark.dataSource.register(src)


# Integer generation constants (Knuth multiplicative hash for spread);
# all arithmetic stays far below int64 range for cross-engine parity.
N_SENSORS = 37
KNUTH = 2654435761
BASE_MICRO_KELVIN = 273_150_000
SPREAD = 50_000_000


def reading_row(rid: int) -> tuple[int, int, int, int]:
    """The one deterministic formula both the connector and the SQL
    oracle implement: reading_id -> (sensor, hour, micro_kelvin)."""
    return (
        rid,
        rid % N_SENSORS,
        rid % 24,
        BASE_MICRO_KELVIN + (rid * rid * KNUTH) % SPREAD,
    )


class SyntheticSensorDataSource(DataSource):
    """`spark.read.format("sd2drp_sensors")` — options: rows, partitions."""

    @classmethod
    def name(cls) -> str:
        return "sd2drp_sensors"

    def schema(self) -> str:
        return (
            "reading_id bigint, sensor_id int, ts_hour int, micro_kelvin bigint"
        )

    def reader(self, schema) -> "SyntheticSensorReader":
        return SyntheticSensorReader(self.options)


class SyntheticSensorReader(DataSourceReader):
    def __init__(self, options) -> None:
        self.n = int(options.get("rows", 1000))
        self.parts = int(options.get("partitions", 4))

    def partitions(self):
        # Even row-range slices; each becomes one Spark task.
        return [InputPartition(i) for i in range(self.parts)]

    def read(self, partition: InputPartition):
        i = partition.value
        lo = i * self.n // self.parts
        hi = (i + 1) * self.n // self.parts
        for rid in range(lo, hi):
            yield reading_row(rid)


class SensorStreamDataSource(DataSource):
    """Streaming twin of the connector via SimpleDataSourceStreamReader:
    `spark.readStream.format("sd2drp_sensor_stream")` — options: rows
    (total), batch (micro-batch size). Offsets are dict checkpoints;
    `readBetweenOffsets` is the exactly-once replay path Spark calls on
    recovery. NOTE: Spark's Trigger.AvailableNow falls back to
    single-batch execution for Python simple stream readers (no
    prepareForTriggerAvailableNow hook), so terminating verify runs set
    batch >= rows; the multi-batch incremental path is exercised by
    pytest with a processing-time trigger (test_pyds_stream_multibatch).
    """

    @classmethod
    def name(cls) -> str:
        return "sd2drp_sensor_stream"

    def schema(self) -> str:
        return (
            "reading_id bigint, sensor_id int, ts_hour int, micro_kelvin bigint"
        )

    def simpleStreamReader(self, schema) -> "SensorStreamReader":
        return SensorStreamReader(self.options)


class SensorStreamReader(SimpleDataSourceStreamReader):
    def __init__(self, options) -> None:
        self.total = int(options.get("rows", 1000))
        self.batch = int(options.get("batch", self.total))

    def initialOffset(self) -> dict:
        return {"offset": 0}

    def read(self, start: dict):
        s = start["offset"]
        e = min(s + self.batch, self.total)
        return ([reading_row(r) for r in range(s, e)], {"offset": e})

    def readBetweenOffsets(self, start: dict, end: dict):
        return [reading_row(r) for r in range(start["offset"], end["offset"])]


class FileCommitMessage(WriterCommitMessage):
    """Per-task commit message: which file the task wrote, how many rows."""

    def __init__(self, path: str, n_rows: int) -> None:
        self.path = path
        self.n_rows = n_rows


class SensorFileSinkDataSource(DataSource):
    """Writer half of the Python Data Source API:
    `df.write.format("sd2drp_file_sink").option("path", ...)`. Each
    TASK serializes its partition to one pipe-delimited file (executor-
    side, partition-parallel — the write() method never sees another
    partition's rows); the DRIVER's commit() publishes a _SUCCESS
    manifest naming every committed file, and abort() removes orphans —
    the standard two-phase commit contract that makes the sink
    all-or-nothing under task retries."""

    @classmethod
    def name(cls) -> str:
        return "sd2drp_file_sink"

    def writer(self, schema, overwrite: bool) -> "SensorFileWriter":
        return SensorFileWriter(self.options, overwrite)


class SensorFileWriter(DataSourceWriter):
    def __init__(self, options, overwrite: bool) -> None:
        import uuid

        self.path = options.get("path")
        if not self.path:
            raise ValueError("sd2drp_file_sink requires .option('path', ...)")
        self.overwrite = overwrite
        # per-JOB prefix (driver-side, serialized to every task): commit
        # and abort must only ever touch THIS job's attempt files, so an
        # append to a non-empty sink never deletes previously committed
        # data and abort() never destroys another job's output.
        self.job_id = uuid.uuid4().hex[:12]

    def write(self, iterator) -> FileCommitMessage:
        import os
        import uuid

        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        os.makedirs(self.path, exist_ok=True)
        # unique name per attempt: a retried task never clobbers a
        # committed file; losers are swept by commit()/abort()
        fname = f"part-{self.job_id}-{pid:05d}-{uuid.uuid4().hex}.psv"
        full = os.path.join(self.path, fname)
        n = 0
        with open(full, "w") as fh:
            for row in iterator:
                fh.write("|".join("" if v is None else str(v) for v in row))
                fh.write("\n")
                n += 1
        return FileCommitMessage(fname, n)

    def commit(self, messages) -> None:
        import os

        committed = {m.path for m in messages}
        # publish the manifest (appending to any prior jobs' entries),
        # then sweep loser-attempt files — ONLY this job's (job_id
        # prefix); files committed by earlier jobs are untouchable.
        manifest = os.path.join(self.path, "_SUCCESS")
        prior = []
        if os.path.exists(manifest):
            with open(manifest) as fh:
                prior = [l.strip() for l in fh if l.strip()]
        with open(manifest, "w") as fh:
            for m in sorted(set(prior) | committed):
                fh.write(m + "\n")
        for f in os.listdir(self.path):
            if f.startswith(f"part-{self.job_id}-") and f not in committed:
                os.remove(os.path.join(self.path, f))

    def abort(self, messages) -> None:
        import os

        # roll back THIS job only: every file bearing our job_id prefix
        # is an uncommitted attempt; other jobs' committed data stays.
        if not os.path.isdir(self.path):
            return
        for f in os.listdir(self.path):
            if f.startswith(f"part-{self.job_id}-"):
                os.remove(os.path.join(self.path, f))


class StreamFileSinkDataSource(DataSource):
    """Streaming-writer half of the Python Data Source API:
    `df.writeStream.format("sd2drp_stream_file_sink")`. Per micro-batch,
    each TASK writes its partition to one pipe-delimited file (executor-
    side write(), never seeing another partition's rows); the DRIVER's
    commit(messages, batchId) publishes a per-batch manifest
    `_SUCCESS-<batchId>` naming every committed file, and
    abort(messages, batchId) sweeps that batch's orphans. Replays of an
    already-committed batchId are detected by the existing manifest and
    rewritten idempotently — together with the checkpoint this is the
    exactly-once contract a custom streaming sink must implement."""

    @classmethod
    def name(cls) -> str:
        return "sd2drp_stream_file_sink"

    def streamWriter(self, schema, overwrite: bool) -> "StreamFileWriter":
        return StreamFileWriter(self.options)


class StreamFileWriter(DataSourceStreamWriter):
    def __init__(self, options) -> None:
        self.path = options.get("path")
        if not self.path:
            raise ValueError(
                "sd2drp_stream_file_sink requires .option('path', ...)"
            )

    def write(self, iterator) -> FileCommitMessage:
        import os
        import uuid

        from pyspark import TaskContext

        ctx = TaskContext.get()
        pid = ctx.partitionId()
        os.makedirs(self.path, exist_ok=True)
        fname = f"batchpart-{pid:05d}-{uuid.uuid4().hex}.psv"
        full = os.path.join(self.path, fname)
        n = 0
        with open(full, "w") as fh:
            for row in iterator:
                fh.write("|".join("" if v is None else str(v) for v in row))
                fh.write("\n")
                n += 1
        return FileCommitMessage(fname, n)

    def commit(self, messages, batchId: int) -> None:
        import os

        committed = {m.path for m in messages if m is not None}
        manifest = os.path.join(self.path, f"_SUCCESS-{batchId}")
        if os.path.exists(manifest):
            # replayed batch: drop the duplicate attempt's files, keep
            # the originally committed ones (idempotent re-delivery)
            with open(manifest) as fh:
                keep = {l.strip() for l in fh if l.strip()}
            for f in committed - keep:
                try:
                    os.remove(os.path.join(self.path, f))
                except FileNotFoundError:
                    pass
            return
        with open(manifest, "w") as fh:
            for m in sorted(committed):
                fh.write(m + "\n")

    def abort(self, messages, batchId: int) -> None:
        import os

        for m in messages:
            if m is None:
                continue
            try:
                os.remove(os.path.join(self.path, m.path))
            except FileNotFoundError:
                pass


def committed_stream_files(path: str) -> list[str]:
    """Files named by any per-batch manifest — the only files a reader
    of this sink may trust (uncommitted attempts are invisible)."""
    import os

    out: list[str] = []
    for f in sorted(os.listdir(path)):
        if f.startswith("_SUCCESS-"):
            with open(os.path.join(path, f)) as fh:
                out += [l.strip() for l in fh if l.strip()]
    return out
