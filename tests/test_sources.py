"""Source-layer unit tests: nanos-timestamp ingest, schema constants,
expression helpers."""

from __future__ import annotations

import datetime

from pyspark.sql import functions as F

from sd2_drp_experimentgen_spark import schemas
from sd2_drp_experimentgen_spark.functions.helpers import well_label
from sd2_drp_experimentgen_spark.sources.tables import load_events, load_table
from tests.conftest import SF_T1


def test_events_ts_is_truncated_microseconds(spark, duck_t1):
    """Spark's ns->µs conversion must equal DuckDB's truncating read."""
    ev = load_events(spark, SF_T1)
    assert dict(ev.dtypes)["ts"] == "timestamp"
    got = {
        r["event_id"]: r["ts"]
        for r in ev.orderBy("event_id").limit(50).collect()
    }
    want = dict(
        duck_t1.execute(
            "SELECT event_id, ts FROM events ORDER BY event_id LIMIT 50"
        ).fetchall()
    )
    # Spark returns tz-naive datetimes in session UTC; normalize both.
    got = {k: v.replace(tzinfo=None) for k, v in got.items()}
    want = {k: v.replace(tzinfo=None) for k, v in want.items()}
    assert got == want


def test_schema_constants_match_files(spark):
    for name in schemas.TABLE_NAMES:
        df = load_table(spark, SF_T1, name)
        assert df.schema == schemas.TABLES[name], name


def test_well_label_layout(spark):
    df = spark.range(0, 96).select(
        well_label(F.col("id")).alias("well")
    )
    labels = [r["well"] for r in df.collect()]
    assert labels[0] == "A1"
    assert labels[11] == "A12"
    assert labels[12] == "B1"
    assert labels[95] == "H12"
    assert len(set(labels)) == 96


def test_events_values_sane(spark):
    ev = load_events(spark, SF_T1)
    row = ev.agg(
        F.min("ts").alias("lo"), F.max("ts").alias("hi")
    ).collect()[0]
    assert row["lo"] >= datetime.datetime(2024, 1, 1)
    assert row["hi"] < datetime.datetime(2024, 1, 31)


def test_pyds_stream_multibatch(spark):
    """The Python streaming connector's incremental path: with
    batch < rows and a processing-time trigger, the reader advances
    through dict offsets across multiple micro-batches; the terminal
    complete-mode aggregate must equal the single-batch answer."""
    import time

    from pyspark.sql import functions as F

    from sd2_drp_experimentgen_spark.sources.pyds import (
        SensorStreamDataSource,
        use_python_datasource,
    )

    use_python_datasource(spark, SensorStreamDataSource)
    stream = (
        spark.readStream.format("sd2drp_sensor_stream")
        .option("rows", 3000)
        .option("batch", 700)  # forces 5 micro-batches
        .load()
    )
    agg = stream.groupBy("sensor_id").agg(F.count(F.lit(1)).alias("n"))
    q = (
        agg.writeStream.format("memory")
        .queryName("pyds_stream_mb")
        .outputMode("complete")
        .trigger(processingTime="0 seconds")
        .start()
    )
    try:
        deadline = time.time() + 60
        total = 0
        while time.time() < deadline:
            total = sum(r["n"] for r in spark.table("pyds_stream_mb").collect())
            if total == 3000:
                break
            time.sleep(0.5)
        assert total == 3000, f"stream never reached 3000 rows (got {total})"
    finally:
        q.stop()
    rows = {
        (r["sensor_id"], r["n"]) for r in spark.table("pyds_stream_mb").collect()
    }
    expected = {(s, len([r for r in range(3000) if r % 37 == s])) for s in range(37)}
    assert rows == expected


def test_pyds_batch_partition_parallelism(spark):
    """The batch connector must plan one task per InputPartition —
    partition-parallel executor-side generation, not a driver loop."""
    from sd2_drp_experimentgen_spark.sources.pyds import (
        SyntheticSensorDataSource,
        reading_row,
        use_python_datasource,
    )

    use_python_datasource(spark, SyntheticSensorDataSource)
    df = (
        spark.read.format("sd2drp_sensors")
        .option("rows", 1000)
        .option("partitions", 5)
        .load()
    )
    assert df.rdd.getNumPartitions() == 5
    rows = sorted(tuple(r) for r in df.collect())
    assert rows == sorted(reading_row(i) for i in range(1000))


def test_pyds_sink_manifest_and_commit_sweep(spark):
    """The custom sink's commit must publish a _SUCCESS manifest naming
    exactly the committed files, and every listed file must exist with
    the expected total row count."""
    import os

    from sd2_drp_experimentgen_spark.plans import all_specs
    from tests.conftest import SF_T1

    all_specs()  # ensure registry-order module load
    from sd2_drp_experimentgen_spark.operators.scans import _scratch

    df = all_specs()["q_sink_python_ds"].fn(spark, SF_T1)
    assert df.count() == 25
    path = _scratch(SF_T1, "pyds_sink")
    manifest = open(os.path.join(path, "_SUCCESS")).read().split()
    on_disk = sorted(
        f for f in os.listdir(path) if f.startswith("part-")
    )
    assert sorted(manifest) == on_disk
    assert len(on_disk) == 3  # one file per write task
    total = sum(
        len(open(os.path.join(path, f)).read().splitlines()) for f in on_disk
    )
    assert total == 25


def test_file_sink_append_preserves_prior_job_data(spark, tmp_path):
    """ADVICE r2 (pyds.py:188): commit() must sweep only THIS job's
    loser-attempt files — a second append job into a non-empty sink must
    leave the first job's committed files (and manifest entries) intact."""
    import os

    from sd2_drp_experimentgen_spark.sources.pyds import (
        SensorFileSinkDataSource,
        use_python_datasource,
    )

    use_python_datasource(spark, SensorFileSinkDataSource)
    path = str(tmp_path / "sink")
    for tag in ("alpha", "beta"):
        (
            spark.range(3)
            .selectExpr("id", f"'{tag}' AS tag")
            .repartition(2)
            .write.format("sd2drp_file_sink")
            .option("path", path)
            .mode("append")
            .save()
        )
    parts = [f for f in os.listdir(path) if f.startswith("part-")]
    manifest = open(os.path.join(path, "_SUCCESS")).read().split()
    # both jobs' files survive and are manifested (2 partitions each)
    assert len(parts) == 4 and sorted(manifest) == sorted(parts)
    rows = []
    for f in parts:
        with open(os.path.join(path, f)) as fh:
            rows += [l.split("|")[1] for l in fh.read().splitlines()]
    assert sorted(set(rows)) == ["alpha", "beta"]


def test_file_sink_abort_scoped_to_own_job(spark, tmp_path):
    """abort() removes only its own job's attempt files, never a prior
    job's committed output (the old rmtree destroyed the whole dir)."""
    import os

    from sd2_drp_experimentgen_spark.sources.pyds import (
        FileCommitMessage,
        SensorFileWriter,
    )

    path = str(tmp_path / "sink2")
    os.makedirs(path)
    committed = os.path.join(path, "part-otherjob-00000-abc.psv")
    open(committed, "w").write("1|x\n")
    w = SensorFileWriter({"path": path}, overwrite=False)
    orphan = os.path.join(path, f"part-{w.job_id}-00000-dead.psv")
    open(orphan, "w").write("2|y\n")
    w.abort([FileCommitMessage(os.path.basename(orphan), 1)])
    assert os.path.exists(committed) and not os.path.exists(orphan)


def test_pyds_lookup_survives_foreign_active_session(spark, tmp_path):
    """Spark 4 resolves Python data-source names through the THREAD-
    LOCAL active session, not the DataFrame's session. A cloned session
    left active (the streaming operators run on newSession() clones)
    used to make the next sd2drp_* write fail with
    DATA_SOURCE_NOT_FOUND despite a successful register() — the r14
    full-suite flake in test_sink_operators_are_idempotent. Force the
    worst case (a fresh clone pinned active) and require the operator
    path to recover via use_python_datasource's active-session pin."""
    from sd2_drp_experimentgen_spark.plans import all_specs
    from tests.conftest import SF_T1

    clone = spark.newSession()
    spark._jvm.org.apache.spark.sql.classic.SparkSession.setActiveSession(
        clone._jsparkSession
    )
    try:
        rows = all_specs()["q_sink_python_ds"].fn(spark, SF_T1).collect()
        assert len(rows) == 25
    finally:
        spark._jvm.org.apache.spark.sql.classic.SparkSession.setActiveSession(
            spark._jsparkSession
        )


def test_pyds_registers_on_successive_stream_sessions(spark):
    """Each streaming run takes a fresh _stream_session clone. Registering
    on the second clone while the first was still the active session
    used to fail, so a second q_stream_python_source run in one session
    raised DATA_SOURCE_NOT_FOUND. Two clones in a row must each resolve
    the source (no stream is started)."""
    from sd2_drp_experimentgen_spark.sources.pyds import (
        SensorStreamDataSource,
        use_python_datasource,
    )
    from sd2_drp_experimentgen_spark.streaming.jobs import _stream_session

    try:
        for _ in range(2):
            clone = _stream_session(spark)
            use_python_datasource(clone, SensorStreamDataSource)
            df = (
                clone.readStream.format("sd2drp_sensor_stream")
                .option("rows", 10)
                .load()
            )
            assert df.isStreaming
    finally:
        spark._jvm.org.apache.spark.sql.classic.SparkSession.setActiveSession(
            spark._jsparkSession
        )


def test_foreachbatch_state_swap_recovers_from_crash(spark, tmp_path):
    """ADVICE r2 (jobs.py:314): at every instant one of state/state_old
    holds a committed table. Simulate a crash between the two renames
    (state gone, _old committed) and check the next run restores it."""
    import os

    from sd2_drp_experimentgen_spark.streaming import jobs

    events = str(tmp_path / "ev")
    from tests.conftest import SF_T1

    spark.read.parquet(f"{SF_T1}/events.parquet").limit(200).write.parquet(
        events
    )
    state = str(tmp_path / "state")
    full = jobs.foreachbatch_upsert_counts(
        spark, events, state, str(tmp_path / "ckpt1")
    )
    expected = {
        r["user_id"]: r["n_events"] for r in full.collect()
    }
    # simulate the crash window: committed state moved aside, dir gone
    os.rename(state, state + "_old")
    recovered = jobs.foreachbatch_upsert_counts(
        spark, events, state, str(tmp_path / "ckpt2")
    )
    got = {r["user_id"]: r["n_events"] for r in recovered.collect()}
    # the restored state is re-merged with a full replay: counts double,
    # but no user from the first run is LOST (the old rmtree-based swap
    # lost them all)
    assert set(got) >= set(expected)
    assert not os.path.exists(state + "_old")


def test_table_bytes_guard_directions(tmp_path):
    """The fan_out size guard must resolve every non-answer to
    'assume big' (no-op fan-out) — the safe direction at scale — and
    must see hive-partitioned bytes recursively (ADVICE r7: a
    top-level-only listing summed a nested layout to 0 bytes and would
    have hash-repartitioned an arbitrarily large table)."""
    from sd2_drp_experimentgen_spark.sources.tables import (
        FAN_OUT_MAX_BYTES,
        _table_bytes,
    )

    # flat file: exact size
    flat = tmp_path / "flat"
    flat.mkdir()
    (flat / "documents.parquet").write_bytes(b"x" * 1234)
    assert _table_bytes(str(flat), "documents") == 1234

    # hive-partitioned nested layout: recursive sum, not 0
    hive = tmp_path / "hive"
    part = hive / "documents.parquet" / "lang=en" / "day=2024-01-01"
    part.mkdir(parents=True)
    (part / "part-0.parquet").write_bytes(b"x" * 1000)
    (hive / "documents.parquet" / "lang=fr").mkdir()
    (hive / "documents.parquet" / "lang=fr" / "f.parquet").write_bytes(
        b"y" * 500
    )
    assert _table_bytes(str(hive), "documents") == 1500

    # directory with no parquet bytes: unknown layout -> assume big
    empty = tmp_path / "empty"
    (empty / "documents.parquet").mkdir(parents=True)
    assert _table_bytes(str(empty), "documents") == FAN_OUT_MAX_BYTES

    # missing path: assume big
    assert _table_bytes(str(tmp_path / "nope"), "documents") == (
        FAN_OUT_MAX_BYTES
    )

    # object-store URI: os.stat cannot see it -> assume big
    assert _table_bytes("s3://bucket/sf1", "documents") == FAN_OUT_MAX_BYTES
    assert (
        _table_bytes("hdfs://nn/warehouse/sf1", "documents")
        == FAN_OUT_MAX_BYTES
    )

    # file:// URI to a local path still resolves
    assert _table_bytes(f"file://{flat}", "documents") == 1234

    # single-slash form Spark commonly emits (file:/path) resolves too
    # (ADVICE r8: the old prefix strip missed it -> OSError -> assume
    # big, silently disabling fan_out on a local fixture)
    assert _table_bytes(f"file:{flat}", "documents") == 1234
    assert _table_bytes(f"file://localhost{flat}", "documents") == 1234

    # file://host/path names a REMOTE host: os.stat would see the
    # wrong local 'host/path' — must assume big, not mis-stat
    assert (
        _table_bytes(f"file://remotehost{flat}", "documents")
        == FAN_OUT_MAX_BYTES
    )
