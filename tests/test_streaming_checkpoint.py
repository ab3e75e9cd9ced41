"""Durable-checkpoint streaming story (VERDICT r1 item 9): an explicit
checkpointLocation must make restarts exactly-once — a resumed run with
no new input emits nothing, and new input is processed incrementally
without reprocessing old files."""

from __future__ import annotations

import os
import shutil

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from tests.conftest import SF_T1, SF_T2


def test_checkpoint_restart_resume(spark, tmp_path):
    from sd2_drp_experimentgen_spark.streaming import jobs

    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(src)

    table = pq.read_table(f"{SF_T2}/events.parquet")
    pq.write_table(table, os.path.join(src, "0_main.parquet"))

    # Phase 1: initial run populates the sink and persists source +
    # watermark progress in the checkpoint.
    jobs.late_data_phase(spark, src, out, ckpt)
    n1 = spark.read.parquet(out).count()
    assert n1 > 0

    # Phase 2: restart with NO new input — exactly-once resume means the
    # checkpoint knows file 0 is done and emits nothing new.
    jobs.late_data_phase(spark, src, out, ckpt)
    assert spark.read.parquet(out).count() == n1

    # Phase 3: one new file a day later — only the newly closed windows
    # append; nothing from file 0 is reprocessed (counts would double).
    shifted = table.slice(0, 500).to_pandas()
    shifted["event_id"] = shifted["event_id"] + 20_000_000
    # place the new rows ABOVE the persisted watermark (= global max ts
    # - 2h): shift past the whole fixture span plus a day
    span = table["ts"].to_pandas().max() - shifted["ts"].min()
    shifted["ts"] = shifted["ts"] + span + pd.Timedelta(days=1)
    pq.write_table(
        pa.Table.from_pandas(shifted, schema=table.schema, preserve_index=False),
        os.path.join(src, "1_next_day.parquet"),
    )
    jobs.late_data_phase(spark, src, out, ckpt)
    emitted = spark.read.parquet(out)
    n3 = emitted.count()
    assert n3 > n1
    # Exactly-once: total emitted event count never exceeds total input,
    # and each window appears at most twice (on-time + one late-closed
    # emission never happens in append mode — windows emit once).
    per_window = emitted.groupBy("window_start").count().collect()
    dupes = [r for r in per_window if r["count"] > 1]
    assert not dupes, f"windows emitted twice after restart: {dupes[:3]}"

    shutil.rmtree(str(tmp_path), ignore_errors=True)


def test_rocksdb_state_store_backend(spark):
    """The 100 TB state backend: the same stateful streaming twin must
    produce identical results with RocksDBStateStoreProvider (state
    spills to disk instead of living on the JVM heap — the provider a
    large-state deployment runs). Conf is session-wide, so restore it
    after the run."""
    from pyspark.sql import functions as F

    from sd2_drp_experimentgen_spark.plans import all_specs

    all_specs()  # load operator modules in registry order first
    from sd2_drp_experimentgen_spark.operators.streaming_ops import _events_dir
    from sd2_drp_experimentgen_spark.streaming import jobs

    key = "spark.sql.streaming.stateStore.providerClass"
    rocks = (
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider"
    )
    old = spark.conf.get(key, None)
    spark.conf.set(key, rocks)
    try:
        live = jobs.tumbling_1h_watermarked(spark, _events_dir(SF_T2))
        got = {
            (r["window_start"], r["event_type"], r["n"])
            for r in live.collect()
        }
    finally:
        if old is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, old)
    batch = all_specs()["q_stream_tumbling_1h"].fn(spark, SF_T2)
    want = {
        (r["window_start"], r["event_type"], r["n"]) for r in batch.collect()
    }
    assert got == want


def test_stream_static_join_equals_batch(spark):
    """The LIVE stream-static enrichment must equal the batch join."""
    from sd2_drp_experimentgen_spark.plans import all_specs

    all_specs()  # load operator modules in registry order first
    from sd2_drp_experimentgen_spark.operators.streaming_ops import _events_dir
    from sd2_drp_experimentgen_spark.streaming import jobs

    live = jobs.stream_static_enrich(spark, _events_dir(SF_T2), SF_T2)
    got = {(r["c_mktsegment"], r["n"]) for r in live.collect()}
    import duckdb

    con = duckdb.connect()
    want = {
        (seg, n)
        for seg, n in con.execute(
            f"""SELECT c_mktsegment, count(*)
                FROM read_parquet('{SF_T2}/events.parquet') e
                JOIN read_parquet('{SF_T2}/customer.parquet') c
                  ON e.user_id = c.c_custkey
                GROUP BY c_mktsegment"""
        ).fetchall()
    }
    assert got == want


def test_stream_session_uses_filesystem_checkpoint_manager(spark):
    """Streaming sessions on a local checkpoint root rename through
    FileSystem.rename (rename(2), no fork) instead of FileContext, which
    forks `readlink` per status check when libhadoop is missing."""
    from sd2_drp_experimentgen_spark.streaming import jobs

    s = jobs._stream_session(spark)
    key = "spark.sql.streaming.checkpointFileManagerClass"
    assert s.conf.get(key, None) == (
        "org.apache.spark.sql.execution.streaming.checkpointing."
        "FileSystemBasedCheckpointFileManager"
    )


@pytest.mark.parametrize(
    "root, default_fs, local",
    [
        (None, "file:///", True),
        ("file:/tmp/ckpt", "file:///", True),
        ("/tmp/ckpt", "file:///", True),
        (None, "hdfs://nn:8020", False),
        ("/tmp/ckpt", "hdfs://nn:8020", False),
        ("hdfs://nn/ckpt", "file:///", False),
        ("s3a://b/ckpt", "file:///", False),
    ],
)
def test_checkpoint_manager_only_on_local_roots(root, default_fs, local):
    from sd2_drp_experimentgen_spark.streaming import jobs

    assert jobs._local_checkpoints(root, default_fs) is local


def test_neardup_rerun_starts_one_job(spark):
    """A repeated run of the near-dup stream starts only its micro-batch
    job: the source schema comes from the per-path cache, not from a
    footer-scan job on every run."""
    from sd2_drp_experimentgen_spark.plans import all_specs

    q = all_specs()["q_stream_ingest_neardup"].fn
    q(spark, SF_T1)
    sc = spark.sparkContext
    first = sc._jsc.sc().dagScheduler().numTotalJobs()
    q(spark, SF_T1)
    end = sc._jsc.sc().dagScheduler().numTotalJobs()
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    jobs = [sc.statusTracker().getJobInfo(j) for j in range(first, end)]
    assert [j.status for j in jobs] == ["SUCCEEDED"]
