"""Steady-state benchmark of the spark-graft engine.

Run from the repository root::

    python3 perfbench/run.py --workload experiment_etl --seed 1 --seconds 15 --trace 0

One run is one fresh process on a pinned ``local[<nproc>]`` session. It
times calls into the engine's public entry points (``session.get_spark``,
``plans.all_specs``, ``sources.preflight.assert_fixture_schemas``, each
query's ``fn``, ``DataFrame.collect`` and
``functions.helpers.release_persisted``) over the fixtures in
``perfbench/fixtures``: one cold pass of the workload's queries, with
every oracle-backed result checked against DuckDB, then the same pass in
a closed loop (one client) for ``--seconds``. ``--seed`` fixes the query
order within a pass.

The last stdout line is one JSON object: ``correct``, ``attempted`` and
``failed`` (query executions, and how many raised or returned a result
that differs from DuckDB or from the cold pass) and ``metrics``. With
``--trace 0`` the metrics are end to end (``setup_s``, ``pass_s``,
``jvm_retained_mb``); with ``--trace 1`` every other pass is traced and
the metrics are per layer. The line before it carries the run's
environment, read back from the live session, and the per-pass series.
See perfbench/README.md.
"""

from __future__ import annotations

import time

_T0 = time.perf_counter()  # setup_s counts from here

import argparse  # noqa: E402
import faulthandler  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from perfbench import layers  # noqa: E402

FIXTURES = os.path.join(ROOT, "perfbench", "fixtures", "perfbench_sf0.01")
# The engine stages files and sink round-trips under <root>/.scratch,
# in entries named after the fixture directory.
SCRATCH = os.path.join(ROOT, ".scratch")
WORK = os.path.join(SCRATCH, "perfbench")  # Spark local dirs, temp files

WORKLOADS = {
    # JVM execution: TPC-H joins, aggregates, windows, the experiment
    # generator and the ML feature table. Driver build is a small share
    # and no Python workers run.
    "experiment_etl": (
        "q_gen_experiment_pipeline",
        "q_agg_groupby_q1",
        "q_join_multiway_topk",
        "q_tpch_q9_product_profit",
        "q_tpch_q21_waiting_supplier",
        "q_win_rank_topn",
        "q_train_features_wide",
        "q_join_asof",
    ),
    # Driver and scheduling: the cc_labels fixpoint runs inside
    # q_dedup_components' fn; q_stream_ingest_neardup is a live
    # AvailableNow stream whose MinHash kernel runs in Python workers.
    "corpus_dedup": (
        "q_dedup_components",
        "q_stream_ingest_neardup",
        "q_emb_knn_graph",
    ),
}

DRIVER_MEMORY = "2g"
# Passes that start in the first SETTLE_SHARE of the window are JIT
# warm-up and are reported in the series but not in pass_s.
SETTLE_SHARE = 0.5
MIN_STEADY = 3  # steady passes per reported median (per kind when traced)
DEADLINE_S = 150.0  # stop extending the window past this, from process start
LIMIT_S = 175.0  # hard limit on a run

END_TO_END_UNITS = {"setup_s": "s", "pass_s": "s", "jvm_retained_mb": "MB"}
PER_LAYER_UNITS = {
    "session.start_s": "s",
    "plans.load_s": "s",
    "sources.preflight_s": "s",
    "operators.build_s": "s",
    "operators.build_jobs": "count",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.deserialize_s": "s",
    "spark.collect_s": "s",
    "spark.run_s": "s",
    "spark.cpu_s": "s",
    "spark.gc_s": "s",
    "spark.shuffle_read_mb": "MB",
    "spark.shuffle_write_mb": "MB",
    "spark.spill_mb": "MB",
    "spark.input_mb": "MB",
    "jvm.cpu_s": "s",
    "jvm.write_mb": "MB",
    "pyworker.cpu_s": "s",
    "helpers.release_s": "s",
    "helpers.released": "count",
    "streaming.batches": "count",
    "streaming.input_rows": "count",
    "streaming.trigger_ms": "ms",
    "streaming.add_batch_ms": "ms",
    "streaming.commit_ms": "ms",
    "streaming.planning_ms": "ms",
    "trace.pass_s": "s",
    "trace.overhead_s": "s",
}


def fingerprint(rows) -> tuple[int, str]:
    """Row count and an order-insensitive hash of a collected result."""
    lines = sorted(repr(tuple(r)) for r in rows)
    return len(rows), hashlib.sha256("\n".join(lines).encode()).hexdigest()


def median_or_none(values):
    """Median, or None when nothing was measured: a failed query never
    reads as a time."""
    return statistics.median(values) if values else None


def typical_pass(passes) -> float | None:
    """Time of a typical pass: the sum over queries of each query's
    median time across ``passes``. A pause that hits one query in one
    pass (a GC, a stream trigger) moves that query's median, not the
    whole pass."""
    if not passes:
        return None
    return sum(statistics.median(p.per_query[q] for p in passes)
               for q in passes[0].per_query)


class Pass:
    """One pass over the workload's queries."""

    def __init__(self, traced: bool, start: float):
        self.traced = traced
        self.start = start  # seconds since the window opened
        self.wall = 0.0  # sum of the timed per-query segments
        self.build_s = self.collect_s = self.release_s = 0.0
        self.released = 0
        self.per_query: dict[str, float] = {}
        self.failed: list[tuple[str, str]] = []
        self.layers: dict = {}


class Runner:
    """Runs passes of one workload on a live session.

    ``run_query`` is the closed loop's unit: build (``fn``), ``collect``
    and ``release_persisted`` are timed; checking the result is not.
    """

    def __init__(self, spark, specs, release, order, tracer=None):
        self.spark = spark
        self.specs = specs
        self.release = release
        self.order = order
        self.tracer = tracer
        self.refs: dict[str, tuple[int, str]] = {}  # cold-pass fingerprints

    def run_pass(self, traced: bool, start: float, check=None) -> Pass:
        """``check(query, df)`` marks the cold pass: it verifies each
        result and records the fingerprints later passes must match."""
        p = Pass(traced, start)
        before = self.tracer.snapshot() if traced else None
        for q in self.order:
            self.run_query(q, p, check)
        if traced:
            p.layers = self.tracer.pass_layers(before, p)
        return p

    def run_query(self, q: str, p: Pass, check=None) -> None:
        tracer = self.tracer if p.traced else None
        try:
            t0 = time.perf_counter()
            if tracer:
                tracer.phase(q, "build")
            df = self.specs[q].fn(self.spark, FIXTURES)
            t1 = time.perf_counter()
            if tracer:
                tracer.phase(q, "collect")
            rows = df.collect()
            t2 = time.perf_counter()
            verdict = check(q, df) if check else (True, "")
            t3 = time.perf_counter()
            released = self.release()
            t4 = time.perf_counter()
        except Exception as e:  # noqa: BLE001 -- a raised query is a failed op
            p.failed.append((q, f"{type(e).__name__}: {e}"[:500]))
            return
        finally:
            if tracer:
                tracer.phase_end()
        p.build_s += t1 - t0
        p.collect_s += t2 - t1
        p.release_s += t4 - t3
        p.released += released
        p.per_query[q] = (t2 - t0) + (t4 - t3)
        p.wall += p.per_query[q]
        fp = fingerprint(rows)
        if check:
            self.refs[q] = fp
            if not verdict[0]:
                p.failed.append((q, f"differs from DuckDB: {verdict[1]}"[:500]))
        elif q not in self.refs:
            p.failed.append((q, "no cold-pass result to check against"))
        elif fp != self.refs[q]:
            p.failed.append(
                (q, f"result differs from the cold pass: {fp[0]} rows "
                 f"vs {self.refs[q][0]}")
            )


class Tracer:
    """Per-layer readings for traced passes: a job group per query and
    phase, the jobs and stages each pass launched, JVM and Python-worker
    CPU and JVM write bytes from /proc, and streaming micro-batch
    progress."""

    def __init__(self, spark, jvm_pid: int):
        from pyspark.sql import SparkSession

        self.sc = spark.sparkContext
        self.status = layers.SparkStatus(self.sc)
        self.jvm_pid = jvm_pid
        self.listener = layers.stream_listener()
        self._build_jobs = 0
        self._build_start = None
        spark.streams.addListener(self.listener)
        # Streaming queries run on sessions from newSession(), each with
        # its own listener bus: register the listener on those as well.
        self._new_session = orig = SparkSession.newSession
        listener = self.listener

        def new_session(session):
            s = orig(session)
            s.streams.addListener(listener)
            return s

        SparkSession.newSession = new_session

    def close(self) -> None:
        from pyspark.sql import SparkSession

        SparkSession.newSession = self._new_session

    def phase(self, q: str, phase: str) -> None:
        self.phase_end()
        self.sc.setJobGroup(f"{q}:{phase}", f"perfbench {q} {phase}")
        if phase == "build":
            self._build_start = self.status.job_count()

    def phase_end(self) -> None:
        if self._build_start is not None:
            self._build_jobs += self.status.job_count() - self._build_start
            self._build_start = None
        self.sc._jsc.clearJobGroup()

    def _readings(self) -> dict:
        self.status.drain()
        return {
            "job": self.status.job_count(),
            "jvm.cpu_s": layers.jvm_cpu_s(self.jvm_pid),
            "pyworker.cpu_s": layers.pyworker_cpu_s(self.jvm_pid),
            "jvm.write_mb": layers.write_mb(self.jvm_pid),
            **self.listener.totals(),
        }

    def snapshot(self) -> dict:
        self._build_jobs = 0
        return self._readings()

    def pass_layers(self, before: dict, p: Pass) -> dict:
        after = self._readings()
        out = self.status.jobs_metrics(before["job"], after["job"])
        for k in after.keys() - {"job"}:
            out[k] = after[k] - before[k]
        out.update(
            {
                "operators.build_s": p.build_s,
                "operators.build_jobs": self._build_jobs,
                "spark.collect_s": p.collect_s,
                "helpers.release_s": p.release_s,
                "helpers.released": p.released,
            }
        )
        return out


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def reset_scratch() -> None:
    """Remove what earlier runs left: the engine's staged copies and sink
    outputs for these fixtures, and the benchmark's temp dirs. A fresh
    checkout and a reused one then start each run from the same state,
    and first-use staging always falls inside setup_s."""
    tag = os.path.basename(FIXTURES)
    tags = (tag, tag.replace(".", "_"))
    for base in (SCRATCH, os.path.join(SCRATCH, "bucketed")):
        if not os.path.isdir(base):
            continue
        for name in os.listdir(base):
            path = os.path.join(base, name)
            if path != WORK and not any(t in name for t in tags):
                continue
            if os.path.isdir(path) and not os.path.islink(path):
                shutil.rmtree(path)
            else:
                os.remove(path)


def pin_environment() -> None:
    """Keep the JVM, its Python workers and their temp files inside the
    checkout; fix the driver heap; let the engine's own shuffle-partition
    default apply."""
    import tempfile

    tmp = os.path.join(WORK, "tmp")
    local = os.path.join(WORK, "local")
    os.makedirs(tmp)
    os.makedirs(local)
    env = os.environ
    env["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, env.get("PYTHONPATH")) if p
    )
    env["TMPDIR"] = tmp
    env["SPARK_LOCAL_DIRS"] = local
    # Both JVMs (spark-submit's launcher and the driver) keep temp files
    # in the checkout; hsperfdata would go to /tmp whatever the tmpdir.
    env["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    # A fixed-size driver heap: GC work does not depend on how far the
    # heap happened to grow.
    env["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options -Xms{DRIVER_MEMORY} pyspark-shell"
    )
    env["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEMORY
    env.pop("SPARK_SHUFFLE_PARTITIONS", None)
    tempfile.tempdir = None


def stop_spark(spark) -> None:
    """Stop the session, then the JVM and its Python workers, and wait
    until each has ended."""
    import signal
    import subprocess

    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = gw.proc
    kids = layers.descendants(proc.pid)
    spark.stop()
    proc.stdin.close()  # the JVM's gateway exits at EOF on stdin
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    deadline = time.monotonic() + 20
    while any(layers.alive(p) for p in kids):
        if time.monotonic() > deadline:
            for p in kids:
                if layers.alive(p):
                    os.kill(p, signal.SIGKILL)
            deadline = time.monotonic() + 20
        time.sleep(0.05)


def oracle_check(specs):
    """``check(query, df)`` against the query's DuckDB oracle, with the
    repository's pre-verifier (rows-only queries pass)."""
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    import verify_local

    con = verify_local.duck_connect(FIXTURES)

    def check(q, df):
        oracle = specs[q].oracle
        if oracle is None:
            return True, "rows-only"
        return verify_local.compare(q, df, con.sql(oracle))

    return check


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs since boot, from /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields)


def run_window(runner: Runner, seconds: float, trace: bool):
    """Closed loop: pass after pass for ``seconds``, extended until the
    steady part holds enough passes (of each kind when tracing)."""
    settle = SETTLE_SHARE * seconds
    need = 2 if trace else MIN_STEADY
    kinds = (False, True) if trace else (False,)
    w0 = time.perf_counter()
    passes: list[Pass] = []
    while True:
        now = time.perf_counter()
        steady = [p for p in passes if p.start >= settle]
        enough = all(sum(p.traced == k for p in steady) >= need for k in kinds)
        if (now - w0 >= seconds and enough) or now - _T0 >= DEADLINE_S:
            return passes, settle
        traced = trace and len(passes) % 2 == 1
        passes.append(runner.run_pass(traced, now - w0))


def summarize(cold: Pass, passes: list[Pass], settle: float, n_queries: int,
              trace: bool, setup: dict, setup_s: float, retained_mb: float) -> dict:
    """The result line. pass_s and the per-layer medians use only steady
    passes in which every query ran and matched."""
    steady = [p for p in passes if p.start >= settle and not p.failed]
    plain = typical_pass([p for p in steady if not p.traced])
    traced = [p for p in steady if p.traced]
    if trace:
        values = dict(setup)
        for k in PER_LAYER_UNITS.keys() - values.keys() - {"trace.pass_s", "trace.overhead_s"}:
            values[k] = median_or_none([p.layers[k] for p in traced])
        values["trace.pass_s"] = typical_pass(traced)
        values["trace.overhead_s"] = (
            values["trace.pass_s"] - plain if traced and plain else None
        )
        units = PER_LAYER_UNITS
    else:
        values = {
            "setup_s": setup_s if not cold.failed else None,
            "pass_s": plain,
            "jvm_retained_mb": retained_mb,
        }
        units = END_TO_END_UNITS
    runs = [cold, *passes]
    failed = sum(len(p.failed) for p in runs)
    return {
        "correct": failed == 0,
        "attempted": n_queries * len(runs),
        "failed": failed,
        "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()},
    }


def measure(spark, order: list[str], trace: bool, seconds: float,
            setup: dict, release) -> tuple[dict, dict]:
    from pyspark import SparkContext

    t = time.perf_counter()
    from sd2_drp_experimentgen_spark.plans import all_specs

    specs = all_specs()
    setup["plans.load_s"] = time.perf_counter() - t
    t = time.perf_counter()
    from sd2_drp_experimentgen_spark.sources.preflight import assert_fixture_schemas

    assert_fixture_schemas(FIXTURES)
    setup["sources.preflight_s"] = time.perf_counter() - t
    before_cold = time.perf_counter() - _T0

    tracer = Tracer(spark, SparkContext._gateway.proc.pid) if trace else None
    try:
        runner = Runner(spark, specs, release, order, tracer)
        cold = runner.run_pass(False, 0.0, check=oracle_check(specs))
        ticks0 = cpu_ticks()
        passes, settle = run_window(runner, seconds, trace)
        ticks1 = cpu_ticks()
        retained_mb = layers.heap_retained_mb(spark.sparkContext)
    finally:
        if tracer:
            tracer.close()
    result = summarize(cold, passes, settle, len(order), trace, setup,
                       before_cold + cold.wall, retained_mb)
    sc = spark.sparkContext
    detail = {
        "env": {
            "master": sc.master,
            "default_parallelism": sc.defaultParallelism,
            "driver_memory": sc.getConf().get("spark.driver.memory"),
            "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
            "cpus_available": nproc(),
            "loadavg": os.getloadavg(),
            # share of CPU time the hypervisor gave to others in the window
            "steal": (ticks1[0] - ticks0[0]) / max(1, ticks1[1] - ticks0[1]),
        },
        "order": order,
        "oracle_checked": sum(specs[q].oracle is not None for q in order),
        "cold_pass_s": cold.wall,
        "settle_s": settle,
        "passes": [
            {"start": round(p.start, 3), "s": round(p.wall, 4), "traced": p.traced,
             "steady": p.start >= settle, "failed": len(p.failed),
             "queries": {q: round(t, 4) for q, t in p.per_query.items()}}
            for p in passes
        ],
        "failures": [f"{q}: {why}" for p in [cold, *passes] for q, why in p.failed][:20],
    }
    return detail, result


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    # A hung run exits non-zero, with every thread's stack on stderr,
    # before the 180 s a run may take.
    faulthandler.dump_traceback_later(LIMIT_S, exit=True)
    order = list(WORKLOADS[args.workload])
    random.Random(args.seed).shuffle(order)

    # Outside a checkout of the engine this import fails before any
    # process starts.
    from sd2_drp_experimentgen_spark.functions.helpers import release_persisted
    from sd2_drp_experimentgen_spark.session import get_spark

    os.chdir(ROOT)
    reset_scratch()
    pin_environment()
    setup: dict = {}
    t = time.perf_counter()
    spark = get_spark(app_name="perfbench", master=f"local[{nproc()}]")
    setup["session.start_s"] = time.perf_counter() - t
    try:
        detail, result = measure(spark, order, bool(args.trace), args.seconds,
                                 setup, release_persisted)
    finally:
        stop_spark(spark)
    print(json.dumps({"workload": args.workload, "seed": args.seed, **detail}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
