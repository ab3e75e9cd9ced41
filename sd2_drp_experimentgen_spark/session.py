"""SparkSession factory with the engine's normative configuration.

Configs follow SURVEY.md §4.4. The two that are *required for
correctness* (not just speed) are also applied at runtime by
``configure_session`` so that queries work on a driver-provided session
that was not built by this factory:

- ``spark.sql.legacy.parquet.nanosAsLong=true`` — events.parquet stores
  ``ts`` as TIMESTAMP(NANOS), which Spark 4.x refuses to read otherwise.
- ``spark.sql.session.timeZone=UTC`` — hash-stable timestamp rendering.

Static confs (``spark.driver.memory``,
``spark.sql.codegen.cache.maxEntries``) take effect only when this
factory builds the process's first session. A driver-provided foreign
session keeps Spark's defaults for them: a static conf cannot be set at
runtime, so ``configure_session`` does not try.

``spark.python.sql.dataFrameDebugging.enabled=false`` is builder-only
too: pyspark reads it once per process, and on a foreign session it is
the caller's error-reporting choice. Off, plan building skips the Python
call-site capture that PySpark runs around every ``functions`` call and
Column method. The trade-off: a runtime error on a session this factory
built no longer names the Python line that built the failing expression.
A divide by
zero under ANSI still reads ``[DIVIDE_BY_ZERO] Division by zero. Use
`try_divide` ... SQLSTATE: 22012`` with a ``== DataFrame ==`` section,
but that section says ``"divide" was called from
java.base/jdk.internal.reflect.NativeMethodAccessorImpl.invoke0`` where
it said ``"__truediv__" was called from <file>.py:<line>``.

Scale posture: on a real cluster the same factory applies; only
``master`` and the shuffle-partition count change (shuffle partitions
should track cluster cores × 2-3 at 100 TB, or be left to AQE coalescing
with a high initial value).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Runtime-settable SQL confs every query path assumes. Applied both at
# build time and defensively on foreign sessions (driver harness).
RUNTIME_CONFS = {
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
}


# Confs configure_session could not apply (conf key -> error message).
# Inspected by require_conf() so the first query that depends on a
# missing conf fails with an explanation instead of an opaque JVM error.
CONF_SET_FAILURES: dict[str, str] = {}


def configure_session(spark: SparkSession) -> SparkSession:
    """Apply required runtime confs to an existing session (idempotent).

    Failures are recorded (not raised): most confs are speed-only, and a
    foreign session may legitimately refuse runtime sets. Paths that
    *require* a conf call :func:`require_conf` to turn a silent gap into
    an actionable error at first use.
    """
    for k, v in RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
            CONF_SET_FAILURES.pop(k, None)
        except Exception as e:  # noqa: BLE001
            CONF_SET_FAILURES[k] = f"{type(e).__name__}: {e}"
    return spark


def require_conf(spark: SparkSession, key: str, expected: str, why: str) -> None:
    """Raise a clear error if a correctness-required conf is not in effect."""
    try:
        actual = spark.conf.get(key, None)
    except Exception:  # noqa: BLE001
        actual = None
    if actual == expected:
        return
    detail = CONF_SET_FAILURES.get(key, "conf not set and no set attempt recorded")
    raise RuntimeError(
        f"SparkSession is missing required conf {key}={expected} ({why}). "
        f"configure_session could not apply it: {detail}. Set it at "
        f"session build time (see sd2_drp_experimentgen_spark.session.get_spark)."
    )


def codegen_compiles(spark: SparkSession) -> int:
    """Whole-stage-codegen classes Janino has compiled in this JVM so far
    (a compile is a miss in the generated-class cache)."""
    metrics = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return int(metrics.METRIC_COMPILATION_TIME().getCount())


def get_spark(
    app_name: str = "sd2drp-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or fetch) the shared SparkSession.

    local[$SPARK_GRAFT_CPUS] by default; low shuffle-partition counts at
    test scale kill per-task overhead (SURVEY §4.1), while AQE coalescing
    keeps the setting safe if data grows.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_SHUFFLE_PARTITIONS", "32"))
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # local mode runs driver + all executor threads in ONE JVM; the
        # 1g Spark default starves 32 concurrent tasks (observed: MLlib
        # approxSimilarityJoin OOMing a long-lived session at sf0.1).
        # Only effective for the process's first session — a
        # driver-provided foreign session keeps its own sizing.
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"),
        )
        # Whole-stage codegen's compiled-class cache is LRU with a
        # default of 100 entries. One pipeline pass needs more: 130
        # distinct generated classes for the perfbench experiment_etl
        # pass and 115 for corpus_dedup, so cycling through the same
        # pass missed on nearly every class (~95-110 Janino compiles of
        # ~10 ms per warm pass, plus fresh classes for the JIT to
        # recompile). 1024 holds any single pass with ~8x headroom and
        # keeps the cache bounded; the full 360-query registry generates
        # 3,917 classes at sf0.01. The count depends on code shapes, not
        # data size.
        .config("spark.sql.codegen.cache.maxEntries", "1024")
        # PySpark wraps every pyspark.sql.functions call and Column
        # method in a call-site capture while this is on (the default):
        # per call, five py4j round trips (getActiveSession, a
        # reflection lookup, a conf read, set and clear), a Python
        # stack walk and a failed IPython import. Off (with the literal
        # folding in functions/helpers), one warm build of the perfbench
        # experiment_etl list sends 1,385 py4j commands instead of 4,440
        # (q_agg_groupby_q1: 181 instead of 930) and corpus_dedup 1,002
        # instead of 2,421, not counting py4j's proxy deletes. Builder
        # only, like the codegen cache (module docstring).
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    for k, v in RUNTIME_CONFS.items():
        builder = builder.config(k, v)
    return configure_session(builder.getOrCreate())
