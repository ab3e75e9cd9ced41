"""Registered streaming-semantics operators — SURVEY §2.10 rows #70-71
plus live streaming twins of the batch window queries. All rows-only:
these run REAL Structured Streaming jobs (AvailableNow trigger, memory
sink) inside the query callable and return the terminal result as a
batch DataFrame; pytest self-tests assert their semantics against the
batch constructions.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.helpers import sql_r, sql_units
from ..plans.registry import register
from ..streaming import jobs


def _scratch(name: str) -> str:
    path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "..", "..", ".scratch", name
    )
    path = os.path.abspath(path)
    os.makedirs(path, exist_ok=True)
    return path


def _events_dir(sf_dir: str) -> str:
    """FileStreamSource requires a DIRECTORY; stage the events parquet
    into a per-sf scratch dir (copied once, reused)."""
    import shutil

    sf_tag = os.path.basename(sf_dir.rstrip("/")) or "sf"
    d = _scratch(f"stream_events_{sf_tag}")
    src = f"{sf_dir}/events.parquet"
    dst = os.path.join(d, "events.parquet")
    if not os.path.exists(dst) or os.path.getsize(dst) != os.path.getsize(src):
        shutil.copyfile(src, dst)
    return d


def _oracle_of(name: str) -> str:
    """Reuse a batch twin's oracle SQL for its LIVE streaming query —
    the streaming run's terminal output is deterministic and identical
    to batch, so the driver can hash an actual Structured Streaming
    execution against plain SQL. Safe at import time: operator modules
    load in registry order and events_windows precedes this module."""
    from ..plans import registry

    oracle = registry._REGISTRY[name].oracle
    assert oracle is not None
    return oracle


@register(
    "q_stream_tumbling_watermarked",
    oracle=_oracle_of("q_stream_tumbling_1h"),
    tier="P1",
    doc="LIVE streaming twin of q_stream_tumbling_1h: readStream over "
    "the events parquet, 2h watermark, 1h windows, AvailableNow to a "
    "memory sink. Hash-checked against the SAME SQL oracle as the "
    "batch query — the streaming run's terminal state must equal the "
    "batch answer exactly; a pytest self-test additionally asserts "
    "batch==stream inside Spark.",
)
def q_stream_tumbling_watermarked(spark: SparkSession, sf_dir: str) -> DataFrame:
    return jobs.tumbling_1h_watermarked(spark, _events_dir(sf_dir))


@register(
    "q_stream_session_window",
    oracle="""
    WITH gapped AS (
      SELECT user_id, ts,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS new_sess
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sess AS (
      SELECT user_id, ts,
             sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                                 ROWS BETWEEN UNBOUNDED PRECEDING
                                 AND CURRENT ROW) AS sid
      FROM gapped
    )
    SELECT user_id,
           CAST(floor(epoch(min(ts))) AS BIGINT) AS sess_start,
           CAST(floor(epoch(max(ts) + INTERVAL 30 MINUTE)) AS BIGINT)
             AS sess_end,
           count(*) AS n_events
    FROM sess
    GROUP BY user_id, sid
    """,
    tier="P1",
    doc="LIVE streaming sessionization via F.session_window (30-min "
    "gap), hash-checked against the lag+cumsum SQL construction: "
    "session start = first event, end = last event + gap, one row per "
    "(user, session) with event counts, epochs floor-truncated.",
)
def q_stream_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    return jobs.session_window_30m(spark, _events_dir(sf_dir))


@register(
    "q_stream_late_data",
    # Constructed oracle (promotes this from rows-only to hash): append
    # mode emits exactly the windows STRICTLY below the final watermark
    # (= max on-time event time - 2h; Spark finalizes a window when the
    # watermark passes its end). The replayed late rows are not in the
    # events view and must not be in the stream's output either — the
    # hash check therefore proves both the drop and the emission set.
    oracle="""
    WITH w AS (
      SELECT CAST(epoch(time_bucket(INTERVAL '1 hour', ts)) AS BIGINT)
               AS window_start,
             count(*) AS n
      FROM events
      GROUP BY 1
    ),
    wm AS (SELECT epoch(max(ts)) - 7200 AS wmark FROM events)
    SELECT window_start, n FROM w, wm WHERE window_start + 3600 < wmark
    """,
    tier="P2",
    doc="Watermark late-data semantics: a 2-file stream whose second "
    "file repeats day-1 rows (new ids, far below the watermark after "
    "file 1). Append mode + 2h watermark -> the late rows must be "
    "dropped and closed windows keep their on-time counts. Returns "
    "the appended (closed) windows, hash-checked against the "
    "watermark-derived expected set; self-test asserts exclusion.",
)
def q_stream_late_data(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil

    import pyarrow as pa
    import pyarrow.parquet as pq

    # sf-tagged like the other multi-phase streaming scratches so a
    # driver verify and a pytest run at different sfs never share a
    # checkpoint (a shared watermark would corrupt both)
    sf_tag = os.path.basename(sf_dir.rstrip("/")) or "sf"
    base = _scratch(f"late_run_{sf_tag}")
    src, out, ckpt = (os.path.join(base, d) for d in ("src", "out", "ckpt"))
    for d in (src, out, ckpt):
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)

    table = pq.read_table(f"{sf_dir}/events.parquet")
    pq.write_table(table, os.path.join(src, "0_main.parquet"))
    # Phase 1: main file only -> watermark advances to max(ts) - 2h and
    # persists in the checkpoint.
    jobs.late_data_phase(spark, src, out, ckpt)

    # Phase 2: add a file that replays day-1 rows (new ids) — entirely
    # below the persisted watermark, so it must be dropped.
    late = table.slice(0, 50).to_pandas()
    late["event_id"] = late["event_id"] + 10_000_000
    pq.write_table(
        pa.Table.from_pandas(late, schema=table.schema, preserve_index=False),
        os.path.join(src, "1_late.parquet"),
    )
    jobs.late_data_phase(spark, src, out, ckpt)

    emitted = spark.read.parquet(out)
    return emitted.groupBy("window_start").agg(F.sum("n").alias("n"))


@register(
    "q_stream_stateful_counts",
    oracle="""
    SELECT user_id, count(*) AS n_events
    FROM events
    GROUP BY user_id
    """,
    tier="P2",
    doc="Arbitrary stateful streaming op: running per-user event counts "
    "via applyInPandasWithState (GroupState). The final per-user state "
    "is deterministic, so the LIVE run hash-checks against the plain "
    "groupBy-count oracle.",
)
def q_stream_stateful_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    return jobs.stateful_user_counts(spark, _events_dir(sf_dir))


@register(
    "q_stream_stream_join",
    oracle="""
    SELECT c.user_id, count(*) AS n_pairs
    FROM events c JOIN events p
      ON c.user_id = p.user_id
     AND c.event_type = 'click' AND p.event_type = 'purchase'
     AND p.ts > c.ts AND p.ts <= c.ts + INTERVAL 30 MINUTE
    GROUP BY c.user_id
    """,
    tier="P2",
    doc="LIVE stream-stream inner join: clicks joined to the same "
    "user's purchases within 30 minutes, watermarks on both sides "
    "bounding the join state. Inner-join emissions are complete under "
    "AvailableNow, so the LIVE run hash-checks against the batch "
    "interval-join SQL; equality self-test in pytest too.",
)
def q_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    return jobs.stream_stream_click_purchase(spark, _events_dir(sf_dir))


@register(
    "q_stream_sliding_watermarked",
    oracle=_oracle_of("q_stream_sliding_1h_15m"),
    tier="P1",
    doc="LIVE streaming twin of q_stream_sliding_1h_15m (1h windows, "
    "15-min slide, 2h watermark), hash-checked against the SAME SQL "
    "oracle as the batch query; equality self-test in pytest too.",
)
def q_stream_sliding_watermarked(spark: SparkSession, sf_dir: str) -> DataFrame:
    return jobs.sliding_1h_15m_watermarked(spark, _events_dir(sf_dir))


@register(
    "q_stream_foreachbatch_upsert",
    oracle="""
    SELECT user_id,
           count(*) AS n_events,
           floor(sum(value) * 10000 + 0.5) / 10000 AS sum_value
    FROM events
    GROUP BY user_id
    """,
    tier="P1",
    doc="LIVE durable upsert sink: events staged as TWO files and "
    "streamed with maxFilesPerTrigger=1, so foreachBatch performs a "
    "real incremental merge (full-outer coalesce into a parquet state "
    "table, atomic tmp-dir swap) across multiple micro-batches — the "
    "production exactly-once pattern for sinks without native "
    "streaming support. The final state table hash-checks against the "
    "plain batch aggregate: upsert(batch1) then upsert(batch2) must "
    "equal aggregating everything at once.",
)
def q_stream_foreachbatch_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil

    import pyarrow.parquet as pq

    # sf-tagged so concurrent runs at different scale factors (e.g. the
    # driver verify at sf0.01 while pytest runs t1) never share a
    # checkpoint or state dir.
    sf_tag = os.path.basename(sf_dir.rstrip("/")) or "sf"
    base = _scratch(f"febatch_upsert_{sf_tag}")
    src, state, ckpt = (os.path.join(base, d) for d in ("src", "state", "ckpt"))
    for d in (src, state, ckpt):
        shutil.rmtree(d, ignore_errors=True)
    os.makedirs(src)

    table = pq.read_table(f"{sf_dir}/events.parquet")
    half = table.num_rows // 2
    pq.write_table(table.slice(0, half), os.path.join(src, "0_first.parquet"))
    pq.write_table(table.slice(half), os.path.join(src, "1_second.parquet"))

    return jobs.foreachbatch_upsert_counts(spark, src, state, ckpt)


@register(
    "q_state_reader",
    oracle="""
    SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS window_start,
           event_type,
           count(*) AS n
    FROM events
    GROUP BY 1, 2
    """,
    tier="P2",
    doc="Checkpoint state introspection via the Spark 4 State Data "
    "Source (read.format('statestore')): runs the 1h-tumbling count "
    "aggregation to completion with a durable checkpoint, then reads "
    "the aggregation operator's internal state back as a DataFrame "
    "(key.window/key.event_type/value.count flattened to scalars). "
    "Complete-mode agg state holds every window's final count, so the "
    "state contents hash-check against the plain batch aggregate — "
    "the invariant an operator asserts when debugging or migrating a "
    "production checkpoint without replaying the source.",
)
def q_state_reader(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil

    sf_tag = os.path.basename(sf_dir.rstrip("/")) or "sf"
    ckpt = _scratch(f"state_reader_{sf_tag}_ckpt")
    shutil.rmtree(ckpt, ignore_errors=True)
    return jobs.state_reader_windows(spark, _events_dir(sf_dir), ckpt)


def _has_protobuf() -> bool:
    """transformWithStateInPandas speaks to its JVM state server over a
    protobuf protocol; without the google.protobuf package the Python
    runner crashes at init. Gate registration so environments missing
    the dependency (like this container) simply don't expose the op
    instead of shipping a query that cannot run."""
    try:
        import google.protobuf  # noqa: F401

        return True
    except ImportError:
        return False


def _q_stream_tws_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil

    import pyarrow.parquet as pq

    sf_tag = os.path.basename(sf_dir.rstrip("/")) or "sf"
    src = _scratch(f"tws_totals_{sf_tag}")
    shutil.rmtree(src, ignore_errors=True)
    os.makedirs(src)
    table = pq.read_table(f"{sf_dir}/events.parquet")
    half = table.num_rows // 2
    pq.write_table(table.slice(0, half), os.path.join(src, "0_first.parquet"))
    pq.write_table(table.slice(half), os.path.join(src, "1_second.parquet"))
    return jobs.tws_user_totals(spark, src)


if _has_protobuf():
    register(
        "q_stream_tws_totals",
        oracle="""
        SELECT user_id,
               count(*) AS n_events,
               sum(CAST(round(value * 100) AS BIGINT)) AS sum_cents
        FROM events
        GROUP BY user_id
        """,
        tier="P1",
        doc="LIVE arbitrary-stateful streaming via transformWithState"
        "InPandas (Spark 4 StatefulProcessor + ValueState, RocksDB "
        "state store) — the successor API to applyInPandasWithState "
        "exercised by q_stream_stateful_counts. Events staged as TWO "
        "files with maxFilesPerTrigger=1 so the typed state genuinely "
        "persists and reloads across micro-batches; money accumulates "
        "as integer cents, making the running sum exact and "
        "order-independent, so the terminal per-user state "
        "hash-checks against plain batch SQL. Registered only when "
        "google.protobuf is importable (the API's state-server "
        "protocol requires it).",
    )(_q_stream_tws_totals)


@register(
    "q_stream_python_source",
    oracle="""
    WITH readings AS (
      SELECT g AS reading_id,
             g % 37 AS sensor_id,
             g % 24 AS ts_hour,
             273150000 + (g * g * 2654435761) % 50000000 AS micro_kelvin
      FROM generate_series(0, 4999) AS t(g)
    )
    SELECT sensor_id,
           count(*) AS n_readings,
           CAST(sum(micro_kelvin) AS BIGINT) AS sum_mk
    FROM readings
    GROUP BY sensor_id
    """,
    tier="P2",
    doc="LIVE custom STREAMING connector via the Spark 4 Python "
    "SimpleDataSourceStreamReader (sources/pyds.py): dict offsets, "
    "readBetweenOffsets replay, executor-side generation. AvailableNow "
    "single-batches Python simple readers, so the verify run covers "
    "all rows in one micro-batch; the incremental multi-batch path is "
    "pinned by test_pyds_stream_multibatch. Terminal per-sensor "
    "aggregates hash-check against the generate_series oracle.",
)
def q_stream_python_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.pyds import SensorStreamDataSource, use_python_datasource
    from ..streaming.jobs import _stream_session, run_to_memory

    spark = _stream_session(spark)  # state tuning stays session-local
    use_python_datasource(spark, SensorStreamDataSource)
    stream = (
        spark.readStream.format("sd2drp_sensor_stream")
        .option("rows", 5000)
        .load()
    )
    agg = stream.groupBy("sensor_id").agg(
        F.count(F.lit(1)).alias("n_readings"),
        F.sum("micro_kelvin").alias("sum_mk"),
    )
    return run_to_memory(agg, "complete")


@register(
    "q_stream_static_join",
    oracle=f"""
    SELECT c_mktsegment,
           count(*) AS n,
           {sql_r("sum(value)")} AS sum_value
    FROM events JOIN customer ON user_id = c_custkey
    GROUP BY c_mktsegment
    """,
    tier="P1",
    doc="LIVE stream-static join: the events stream enriched with the "
    "broadcast customer dimension inside a real Structured Streaming "
    "run (AvailableNow), per-segment totals hash-checked against the "
    "batch join SQL. Stream-static is stateless on the join — the "
    "static side reloads per micro-batch, no watermark needed — so "
    "this is the always-safe streaming enrichment pattern.",
)
def q_stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    return jobs.stream_static_enrich(spark, _events_dir(sf_dir), sf_dir)


@register(
    "q_stream_ohlc_watermarked",
    oracle=_oracle_of("q_time_downsample_ohlc"),
    tier="P1",
    doc="LIVE streaming twin of the OHLC downsample: per-(user, hour) "
    "bars from a real watermarked Structured Streaming run, open/"
    "close selected with min_by/max_by over the (ts, event_id) "
    "tiebreak — the streaming-legal equivalent of the batch "
    "row_number construction (rank windows don't exist under "
    "streaming; argmin/argmax aggregates hold one value of state per "
    "key). Hash-checked against the same batch oracle.",
)
def q_stream_ohlc_watermarked(spark: SparkSession, sf_dir: str) -> DataFrame:
    return jobs.ohlc_1h_watermarked(spark, _events_dir(sf_dir))


@register(
    "q_stream_rate_source",
    oracle="""
    WITH ticks AS (SELECT g AS value FROM generate_series(0, 4999) t(g))
    SELECT value % 10 AS bucket,
           count(*) AS n,
           CAST(sum(value) AS BIGINT) AS sum_value
    FROM ticks
    GROUP BY 1
    """,
    tier="P2",
    doc="Built-in rate-micro-batch streaming source: deterministic "
    "synthetic ticks (value 0..N-1, fixed rowsPerBatch and "
    "startTimestamp) aggregated per value-bucket under AvailableNow — "
    "the load-generator surface for soak-testing a streaming topology "
    "before pointing it at Kafka. Unlike the wall-clock `rate` "
    "source, rate-micro-batch is replay-deterministic, so the result "
    "hash-checks against generate_series SQL.",
)
def q_stream_rate_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = jobs._stream_session(spark)
    r = (
        s.readStream.format("rate-micro-batch")
        .option("rowsPerBatch", 5000)
        .option("numPartitions", 4)
        .option("startTimestamp", 0)
        .option("advanceMillisPerBatch", 1000)
        .load()
    )
    agg = r.groupBy((F.col("value") % 10).alias("bucket")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("value").alias("sum_value"),
    )
    return jobs.run_to_memory(agg, "complete")


@register(
    "q_stream_chained_windows",
    # Append-mode chaining emits exactly the 1h windows strictly below
    # the final watermark (max event time - 2h) — same constructed-
    # oracle pattern as q_stream_late_data. The value sum is exact:
    # integer units at stage 1, integer re-sum at stage 2.
    oracle=f"""
    WITH w AS (
      SELECT CAST(epoch(time_bucket(INTERVAL '1 hour', ts)) AS BIGINT)
               AS window_start,
             event_type,
             count(*) AS n,
             CAST(sum({sql_units('value')}) AS BIGINT) AS sum_value_units
      FROM events
      GROUP BY 1, 2
    ),
    wm AS (SELECT epoch(max(ts)) - 7200 AS wmark FROM events)
    SELECT window_start, event_type, n, sum_value_units
    FROM w, wm WHERE window_start + 3600 < wmark
    """,
    tier="P1",
    doc="LIVE chained stateful operators (Spark 3.4+): 15-min tumbling "
    "partial aggregates re-aggregated into 1-hour windows with "
    "window(window_time(w15)) inside ONE streaming query — the "
    "streaming rollup/pre-aggregation pipeline shape. Append mode is "
    "mandatory for stateful chaining, so the emitted set is the "
    "closed windows below the final watermark; the oracle derives "
    "that same set from the batch table plus the watermark formula, "
    "making an actual two-stage Structured Streaming run "
    "hash-checkable. Money is summed as integer units at both "
    "stages — exact on any partitioning, any batch arrival order.",
)
def q_stream_chained_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    return jobs.chained_windows_15m_1h(spark, _events_dir(sf_dir))


@register(
    "q_stream_join_left_outer",
    # The cutoff formula (min per-side max ts - 2h watermark - 90min
    # margin) reproduces the streaming post-filter exactly, so the
    # oracle is a plain batch LEFT JOIN over the decided clicks.
    oracle="""
    WITH wm AS (
      SELECT least(max(ts) FILTER (WHERE event_type = 'click'),
                   max(ts) FILTER (WHERE event_type = 'purchase'))
             - INTERVAL 2 HOUR - INTERVAL 90 MINUTE AS cutoff
      FROM events
    ),
    c AS (
      SELECT user_id, event_id AS click_id, ts AS c_ts
      FROM events WHERE event_type = 'click'
    ),
    p AS (
      SELECT user_id AS p_user, event_id AS purchase_id, ts AS p_ts
      FROM events WHERE event_type = 'purchase'
    )
    SELECT c.user_id, c.click_id, p.purchase_id,
           CASE WHEN p.purchase_id IS NULL THEN 0 ELSE 1 END AS matched
    FROM c CROSS JOIN wm
    LEFT JOIN p ON p.p_user = c.user_id
               AND p.p_ts > c.c_ts
               AND p.p_ts <= c.c_ts + INTERVAL 30 MINUTE
    WHERE c.c_ts <= wm.cutoff
    """,
    tier="P2",
    doc="LIVE stream-stream LEFT OUTER join with dual 2h watermarks: "
    "clicks joined to the same user's purchases within 30 minutes, "
    "unmatched clicks emitted with NULLs once the watermark proves no "
    "match can arrive — the state-EVICTION semantics the inner join "
    "never exercises. The streaming result is post-filtered to clicks "
    "decided a full hour below the final watermark (a data-derived "
    "cutoff both engines compute identically), which makes a real "
    "outer-join Structured Streaming run hash-checkable against plain "
    "batch SQL. Join-range condition + watermarks bound buffered "
    "state to ~2.5h of events per side on unbounded ingest.",
)
def q_stream_join_left_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    return jobs.stream_stream_left_outer(spark, _events_dir(sf_dir), sf_dir)


@register(
    "q_stream_sink_python_ds",
    oracle=f"""
    SELECT event_type, count(*) AS n,
           CAST(sum({sql_units("value")}) AS BIGINT) AS sum_value_units,
           max(event_id) AS max_event_id
    FROM events
    GROUP BY event_type
    """,
    tier="P2",
    doc="LIVE custom STREAMING sink via the Python Data Source API "
    "(DataSourceStreamWriter — the fourth quadrant of the connector "
    "matrix beside batch read, batch write, and streaming read): "
    "events staged as two files and streamed with maxFilesPerTrigger"
    "=1, each micro-batch written by per-task executor-side write() "
    "to pipe-delimited files, the driver's commit(messages, batchId) "
    "publishing a per-batch manifest and abort() sweeping orphans — "
    "the exactly-once sink contract under task retries and batch "
    "replays (an already-committed batchId is detected and the "
    "duplicate attempt dropped). Only manifest-listed files are read "
    "back, and their aggregate hash-checks against plain SQL over "
    "the source: append-mode passthrough delivered every row exactly "
    "once.",
)
def q_stream_sink_python_ds(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil

    import pyarrow.parquet as pq

    from ..functions.helpers import int_units
    from ..sources.pyds import (
        StreamFileSinkDataSource,
        committed_stream_files,
        use_python_datasource,
    )
    from ..streaming.jobs import _file_schema, _stream_session, _unique_name
    from ..sources.tables import normalize_events_ts

    sf_tag = os.path.basename(sf_dir.rstrip("/")) or "sf"
    base = _scratch(f"pyds_stream_sink_{sf_tag}")
    src, out, ckpt = (os.path.join(base, d) for d in ("src", "out", "ckpt"))
    for d in (src, out, ckpt):
        shutil.rmtree(d, ignore_errors=True)
    os.makedirs(src)
    table = pq.read_table(f"{sf_dir}/events.parquet")
    half = table.num_rows // 2
    pq.write_table(table.slice(0, half), os.path.join(src, "0_first.parquet"))
    pq.write_table(table.slice(half), os.path.join(src, "1_second.parquet"))

    s = _stream_session(spark)
    use_python_datasource(s, StreamFileSinkDataSource)
    raw = (
        s.readStream.schema(_file_schema(s, src))
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    rows = normalize_events_ts(raw).select(
        "event_id", "event_type", int_units("value").alias("value_units")
    )
    q = (
        rows.writeStream.format("sd2drp_stream_file_sink")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .queryName(_unique_name("sd2drp_pyds_sink"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    committed = set(committed_stream_files(out))
    assert committed, "stream sink committed no files"
    paths = [os.path.join(out, f) for f in sorted(committed)]
    back = (
        spark.read.schema("event_id BIGINT, event_type STRING, value_units BIGINT")
        .option("sep", "|")
        .csv(paths)
    )
    return back.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("value_units").alias("sum_value_units"),
        F.max("event_id").alias("max_event_id"),
    )


def _documents_dir(sf_dir: str) -> str:
    """Stage documents.parquet into a directory for FileStreamSource
    (same convention as _events_dir)."""
    import shutil

    sf_tag = os.path.basename(sf_dir.rstrip("/")) or "sf"
    d = _scratch(f"stream_docs_{sf_tag}")
    src = f"{sf_dir}/documents.parquet"
    dst = os.path.join(d, "documents.parquet")
    if not os.path.exists(dst) or os.path.getsize(dst) != os.path.getsize(src):
        shutil.copyfile(src, dst)
    return d


@register(
    "q_stream_ingest_dedup",
    oracle="""
    SELECT lang, count(DISTINCT md5(text)) AS n_unique
    FROM documents
    GROUP BY lang
    """,
    tier="P1",
    doc="Dedup-on-ingest — the streaming rung of the corpus dedup "
    "ladder: a LIVE Structured Streaming run (readStream over the "
    "documents parquet, AvailableNow, memory sink) that chains TWO "
    "stateful operators — dropDuplicates on (lang, content-hash) "
    "suppressing re-ingested duplicates exactly-once across "
    "micro-batches, then a complete-mode per-lang unique count. The "
    "audit counts are survivor-independent (which physical row "
    "survives is arrival-order-dependent; HOW MANY survive is not), "
    "so an actual streaming execution hash-checks against plain SQL. "
    "At 100 TB this is the ingestion-time filter that keeps an "
    "append-only corpus unique without batch re-sweeps: state is one "
    "16-byte hash per unique doc (RocksDB-backed on a cluster), and "
    "the same shape extends to minhash-band keys for near-dup "
    "suppression at ingest.",
)
def q_stream_ingest_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _documents_dir(sf_dir)
    s = jobs._stream_session(spark)
    schema = jobs._file_schema(s, d)
    raw = s.readStream.schema(schema).parquet(d)
    deduped = raw.select(
        "lang", F.md5(F.col("text").cast("binary")).alias("h")
    ).dropDuplicates(["lang", "h"])
    agg = deduped.groupBy("lang").agg(F.count(F.lit(1)).alias("n_unique"))
    return jobs.run_to_memory(agg, "complete")


def _ingest_neardup_oracle() -> str:
    """SQL twin built from llmtext's shared banded-MinHash CTE (llmtext
    loads before this module in registry order, and importing it here
    directly is cycle-free — it depends only on the registry)."""
    from .llmtext import _sql_minhash_bands_cte

    return _sql_minhash_bands_cte() + """
    SELECT band_idx, CAST(count(DISTINCT band_sig) AS BIGINT) AS n_buckets
    FROM bands
    GROUP BY band_idx
    """


@register(
    "q_stream_ingest_neardup",
    oracle=_ingest_neardup_oracle(),
    tier="P1",
    doc="NEAR-dup suppression at ingest — the banded-MinHash rung of "
    "the streaming dedup story q_stream_ingest_dedup opens: the same "
    "LIVE run (readStream over documents, AvailableNow, memory sink) "
    "computes the full 16-hash Carter-Wegman MinHash signature and "
    "4x4 band keys with the SAME vectorized mapInArrow kernel as the "
    "batch lane (r15 — the batch construction is reused verbatim; "
    "the r14 pure-Column streaming posture was re-priced with a "
    "stage decomposition: signature 81% of the standing query's "
    "wall, 5.40 -> 1.70 s live with identical results, see "
    "_minhash_signatures), then dropDuplicates on "
    "(band_idx, band_sig) suppresses any later arrival that LSH-"
    "collides with an already-admitted document, and a complete-mode "
    "rollup counts surviving buckets per band. Which doc is admitted "
    "first is arrival-order-dependent; HOW MANY buckets survive is "
    "not, so the actual streaming execution hash-checks against the "
    "batch SQL twin. At 100 TB the dedup state is one 16-byte key "
    "per admitted bucket per band — the ingest-time near-dup filter "
    "run as a standing query.",
)
def q_stream_ingest_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .llmtext import _band_frame, _minhash_signatures

    d = _documents_dir(sf_dir)
    s = jobs._stream_session(spark)
    schema = jobs._file_schema(s, d)
    raw = s.readStream.schema(schema).parquet(d)
    bands = _band_frame(_minhash_signatures(raw))
    uniq = bands.dropDuplicates(["band_idx", "band_sig"])
    agg = uniq.groupBy("band_idx").agg(
        F.count(F.lit(1)).alias("n_buckets")
    )
    return jobs.run_to_memory(agg, "complete")


def _embeddings_dir(sf_dir: str) -> str:
    """Stage embeddings.parquet for FileStreamSource (the
    _documents_dir convention)."""
    import shutil

    sf_tag = os.path.basename(sf_dir.rstrip("/")) or "sf"
    d = _scratch(f"stream_emb_{sf_tag}")
    src = f"{sf_dir}/embeddings.parquet"
    dst = os.path.join(d, "embeddings.parquet")
    if not os.path.exists(dst) or os.path.getsize(dst) != os.path.getsize(src):
        shutil.copyfile(src, dst)
    return d


def _ann_ingest_oracle() -> str:
    """SQL twin of the per-cell ingest rollup, built from the vector
    family's shared ADC CTE preamble (vectors loads before this module
    in registry order; importing it here is cycle-free)."""
    from .vectors import _adc_oracle_preamble

    return f"""
    WITH {_adc_oracle_preamble(1)},
    per_vec AS (
      SELECT vec_id,
             max(CASE WHEN m = 0 THEN k END) AS cell,
             sum(k) AS ksum
      FROM codes GROUP BY vec_id
    )
    SELECT cell, CAST(count(*) AS BIGINT) AS n_vecs,
           CAST(sum(vec_id) AS BIGINT) AS vec_id_sum,
           CAST(sum(ksum) AS BIGINT) AS code_sum
    FROM per_vec GROUP BY cell
    """


@register(
    "q_stream_ann_index_ingest",
    oracle=_ann_ingest_oracle(),
    tier="P2",
    doc="ANN-index ingest as a standing query — the streaming rung of "
    "the stored-index lifecycle (build/append/compact are batch "
    "rungs; VERDICT r13 'what's missing' #3 asked for ingest-time "
    "maintenance): a LIVE Structured Streaming run (readStream over "
    "the embeddings parquet, AvailableNow, memory sink) PQ-encodes "
    "every arriving vector with the FROZEN codebook — the exact "
    "batch encode kernel via _pq_encode_frame, a stateless "
    "mapInPandas that streams unchanged — and maintains the "
    "per-coarse-cell index manifest as a complete-mode rollup "
    "(n_vecs, vec_id_sum, code_sum per cell). The checksums make "
    "the hash check total: a vector routed to the wrong cell, "
    "dropped, or encoded differently than batch moves vec_id_sum or "
    "code_sum, and the DuckDB twin recomputes the codes relationally "
    "from scratch. At 100 TB this is the ingestion pipeline that "
    "keeps the partitioned code table current: encode is map-only "
    "per micro-batch (4 B/vector state crosses one Arrow boundary), "
    "the rollup keys are 16 cells, and the same foreachBatch sink "
    "that lands cell-partitioned files feeds q_ann_index_compact's "
    "periodic merge.",
)
def q_stream_ann_index_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .vectors import _pq_encode_frame

    d = _embeddings_dir(sf_dir)
    s = jobs._stream_session(spark)
    schema = jobs._file_schema(s, d)
    raw = s.readStream.schema(schema).parquet(d).select(
        "vec_id", "embedding"
    )
    enc = _pq_encode_frame(s, sf_dir, raw)
    agg = (
        enc.select(
            F.col("c0").alias("cell"),
            "vec_id",
            (F.col("c0") + F.col("c1") + F.col("c2") + F.col("c3"))
            .alias("ksum"),
        )
        .groupBy("cell")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_vecs"),
            F.sum("vec_id").cast("long").alias("vec_id_sum"),
            F.sum("ksum").cast("long").alias("code_sum"),
        )
    )
    return jobs.run_to_memory(agg, "complete")



@register(
    "q_stream_eval_auc",
    oracle="""
    WITH u AS (
      SELECT n_chars AS score,
             CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS pos
      FROM documents
    ),
    h AS (
      SELECT score, CAST(sum(pos) AS BIGINT) AS pos_s,
             CAST(count(*) - sum(pos) AS BIGINT) AS neg_s
      FROM u GROUP BY score
    ),
    c AS (
      SELECT pos_s, neg_s,
             sum(neg_s) OVER (ORDER BY score
                              ROWS BETWEEN UNBOUNDED PRECEDING
                              AND CURRENT ROW) - neg_s AS nb
      FROM h
    )
    SELECT CAST(sum(pos_s) AS BIGINT) AS n_pos,
           CAST(sum(neg_s) AS BIGINT) AS n_neg,
           CAST(sum(pos_s * (2 * nb + neg_s)) AS BIGINT) AS u2,
           floor(CAST(sum(pos_s * (2 * nb + neg_s)) AS DOUBLE)
                 / (2.0 * sum(pos_s) * sum(neg_s)) * 1000000 + 0.5)
             / 1000000 AS auc
    FROM c
    """,
    tier="P1",
    doc="LIVE streaming AUC maintenance — the standing-query rung of "
    "the eval-metric family (q_ml_auc_rank batch, "
    "q_etl_incremental_auc micro-batch fold, this one a real "
    "Structured Streaming run): readStream over the documents "
    "parquet (AvailableNow) maintains the per-score (pos, neg) "
    "histogram as a complete-mode stateful aggregate — Spark's "
    "state store IS the sufficient statistic, updated per "
    "micro-batch with no history re-scan — and the AUC "
    "finalization (prefix sums over |distinct scores| rows) runs "
    "as a tiny batch epilogue on the sink table, exactly how a "
    "metrics dashboard reads a state-backed view. The histogram "
    "state is exact int64 and arrival-order-independent, so the "
    "actual streaming execution hash-checks against plain SQL. "
    "At 100 TB: holdout scores stream in as they are produced; "
    "state is |distinct scores| rows however many examples "
    "arrive.",
)
def q_stream_eval_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    d = _documents_dir(sf_dir)
    s = jobs._stream_session(spark)
    schema = jobs._file_schema(s, d)
    raw = s.readStream.schema(schema).parquet(d)
    hist = (
        raw.select(
            F.col("n_chars").cast("long").alias("score"),
            F.when(F.col("lang") == "en", 1).otherwise(0).cast("long")
            .alias("pos"),
        )
        .groupBy("score")
        .agg(
            F.sum("pos").alias("pos_s"),
            (F.count(F.lit(1)) - F.sum("pos")).alias("neg_s"),
        )
    )
    h = jobs.run_to_memory(hist, "complete")
    w = Window.orderBy("score").rowsBetween(Window.unboundedPreceding, 0)
    c = h.withColumn("nb", F.sum("neg_s").over(w) - F.col("neg_s"))
    u2 = F.sum(F.col("pos_s") * (F.lit(2) * F.col("nb") + F.col("neg_s")))
    n_pos, n_neg = F.sum("pos_s"), F.sum("neg_s")
    return c.agg(
        n_pos.alias("n_pos"),
        n_neg.alias("n_neg"),
        u2.alias("u2"),
        (
            F.floor(
                u2.cast("double")
                / (F.lit(2.0) * n_pos * n_neg)
                * F.lit(1000000)
                + F.lit(0.5)
            )
            / F.lit(1000000)
        ).alias("auc"),
    )


@register(
    "q_stream_drift_monitor",
    oracle="""
    WITH u AS (
      SELECT event_type,
             CASE WHEN event_id % 2 = 0 THEN 0 ELSE 1 END AS period
      FROM events
    ),
    cell AS (
      SELECT event_type,
             CAST(sum(CASE WHEN period = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_ref,
             CAST(sum(CASE WHEN period = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_cur
      FROM u GROUP BY event_type
    ),
    tot AS (
      SELECT CAST(sum(n_ref) AS BIGINT) AS t_ref,
             CAST(sum(n_cur) AS BIGINT) AS t_cur
      FROM cell
    )
    SELECT event_type, n_ref, n_cur,
           floor(((CAST(n_ref AS DOUBLE)
                   - CAST((n_ref + n_cur) * t_ref AS DOUBLE)
                     / (t_ref + t_cur))
                  * (CAST(n_ref AS DOUBLE)
                     - CAST((n_ref + n_cur) * t_ref AS DOUBLE)
                       / (t_ref + t_cur))
                  / (CAST((n_ref + n_cur) * t_ref AS DOUBLE)
                     / (t_ref + t_cur))
                  + (CAST(n_cur AS DOUBLE)
                     - CAST((n_ref + n_cur) * t_cur AS DOUBLE)
                       / (t_ref + t_cur))
                    * (CAST(n_cur AS DOUBLE)
                       - CAST((n_ref + n_cur) * t_cur AS DOUBLE)
                         / (t_ref + t_cur))
                    / (CAST((n_ref + n_cur) * t_cur AS DOUBLE)
                       / (t_ref + t_cur)))
                 * 1000000 + 0.5) / 1000000 AS chi2_term
    FROM cell CROSS JOIN tot
    ORDER BY event_type
    """,
    tier="P1",
    doc="LIVE streaming drift monitor — q_dq_drift_chisq run as a "
    "standing query: a real Structured Streaming run (readStream "
    "over the events parquet, AvailableNow, memory sink) maintains "
    "the 2xK contingency cells (event-type counts split into "
    "reference/current cohorts by event_id parity — a deterministic "
    "cohort tag, unlike a wall-clock split which would make the "
    "oracle time-dependent) as a complete-mode stateful aggregate; "
    "the chi-square homogeneity finalization runs as a batch "
    "epilogue over the K-row sink table, exactly how an alerting "
    "dashboard reads drift state. Counts are exact int64 and "
    "arrival-order-independent, so the live execution hash-checks "
    "against plain SQL. State is K rows however many events "
    "arrive — the standing-query twin of the batch drift test.",
)
def q_stream_drift_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev_dir = _events_dir(sf_dir)
    s = jobs._stream_session(spark)
    raw = jobs.stream_events(s, ev_dir)
    cell = (
        raw.select(
            "event_type",
            F.when(F.col("event_id") % 2 == 0, 0).otherwise(1)
            .alias("period"),
        )
        .groupBy("event_type")
        .agg(
            F.sum(F.when(F.col("period") == 0, 1).otherwise(0))
            .cast("long")
            .alias("n_ref"),
            F.sum(F.when(F.col("period") == 1, 1).otherwise(0))
            .cast("long")
            .alias("n_cur"),
        )
    )
    cells = jobs.run_to_memory(cell, "complete")
    tot = cells.agg(
        F.sum("n_ref").alias("t_ref"), F.sum("n_cur").alias("t_cur")
    )
    row = F.col("n_ref") + F.col("n_cur")
    g = F.col("t_ref") + F.col("t_cur")
    exp_ref = (row * F.col("t_ref")).cast("double") / g
    exp_cur = (row * F.col("t_cur")).cast("double") / g
    d_ref = F.col("n_ref").cast("double") - exp_ref
    d_cur = F.col("n_cur").cast("double") - exp_cur
    return (
        cells.crossJoin(F.broadcast(tot))
        .select(
            "event_type",
            "n_ref",
            "n_cur",
            (
                F.floor(
                    (d_ref * d_ref / exp_ref + d_cur * d_cur / exp_cur)
                    * F.lit(1000000)
                    + F.lit(0.5)
                )
                / F.lit(1000000)
            ).alias("chi2_term"),
        )
        .orderBy("event_type")
    )
