"""Scale ladder: time a query family on k-fold replicas of the sf0.1
fixture and check it against DuckDB at scale.

    python tools/ladder.py FAMILY [--reps R ...] [--rungs Q ...]
        [--runs N] [--verify | --verify-only] [--probe NAME]

Each entry of FAMILIES names the tables a family replicates and how,
the rungs it times, the rungs it verifies with the largest rep at which
each registered oracle stays tractable (a witness checks the reps
above), and its probes. The rest is shared: replica directories under
``.scratch/ladder/<family>/x<rep>`` with a ``_BUILT`` marker, one timing
function (a warm-up, then the best of ``--runs``), one verify loop and
one context manager for runs that force a gate constant. x1 is the
sf0.1 fixture itself and runs first.

- ``facts``: orders, lineitem and events with keys shifted by rep·10⁹;
  probes ``skew`` (naive vs salted plans, half the events on one user)
  and ``live`` (the LIVE streaming twins).
- ``documents``: replica r's tokens suffixed ``_r<r>``, so replicas
  share no shingle and pairs must grow k-fold, not k². The graph rungs
  q_dedup_components, q_dedup_cluster_stats and q_graph_triangle_count
  run here through ``--rungs``. Probes ``boilerplate`` (a shared 64-token
  header; the bucket-drop audits must read nonzero), ``capped-vocab``
  (the bitset and forced ppjoin paths must agree), ``pipelines``,
  ``lsh-curve`` and ``per-round`` (CC round walls).
- ``bipartite``: custkey, suppkey and orderkey shifted per replica;
  probe ``per-round`` (PageRank and BFS iteration walls).
- ``vectors``: replica 0 as is, replica r perturbed and unit-norm; timed
  runs report the Python workers' peak RSS. Probes ``gate`` (the
  gate's path vs the forced other path), ``index`` and ``unchunked``.
- ``synthetic``: a 200k-node 3-out lattice (rep 0), or with a hub of
  degree rep and its in-star mirror; both triangle orders run forced.

The exit status is 1 after any FAIL: a verify or witness mismatch, two
forced paths that disagree, or a boilerplate drop audit that reads 0.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import sys
import threading
import time
from contextlib import contextmanager, nullcontext
from dataclasses import dataclass, field
from pathlib import Path
from typing import Callable

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

from pyspark.sql import DataFrame, functions as F  # noqa: E402

from sd2_drp_experimentgen_spark.functions.helpers import (  # noqa: E402
    release_persisted,
)
from sd2_drp_experimentgen_spark.plans import all_specs  # noqa: E402
from sd2_drp_experimentgen_spark.schemas import TABLE_NAMES  # noqa: E402
from sd2_drp_experimentgen_spark.session import get_spark  # noqa: E402
from tools.verify_local import compare, duck_connect  # noqa: E402

BASE_SF = "/root/testdata/sf0.1"
ROOT = REPO / ".scratch" / "ladder"
NO_CAP = 10**9

KEY_STRIDE = 10**9  # facts: orderkey and event_id namespace per replica
DOC_STRIDE = 10**7  # documents: doc_id namespace per replica
CUST_STRIDE = 100_000  # bipartite: max o_custkey at sf0.1 is 14 999
SUPP_STRIDE = 10_000  # max l_suppkey at sf0.1 is 999
ORDER_STRIDE = 1_000_000  # max orderkey at sf0.1 is 149 999
VEC_STRIDE = 10**7
MIX_OLD, MIX_NEW = 0.8, 0.6  # cos(e, e') ≈ MIX_OLD for unit vectors
SYNTH_NODES = 200_000

# Shared 64-token header of the boilerplate variant: every doc emits
# several header-only winnowing fingerprints (w=4 over 3-gram hashes)
# and a sizeable share of header shingles on the minhash side.
BP_HEADER = " ".join(f"bptok{i:02d}" for i in range(64))


def _replicas(df: DataFrame, spark, rep: int, **strides: int) -> DataFrame:
    """rep copies of df tagged with a ``rep`` column, each column named
    in ``strides`` shifted by rep·stride."""
    reps = spark.range(rep).select(F.col("id").alias("rep"))
    out = df.crossJoin(F.broadcast(reps))
    for col, stride in strides.items():
        out = out.withColumn(col, F.col(col) + F.col("rep") * stride)
    return out


def replicate_facts(spark, df, table: str, rep: int) -> DataFrame:
    """Join-preserving k-fold facts: order keys and event ids move to a
    per-replica namespace and each replica's events run one second
    later; o_custkey and user_id stay, so each customer gains k-fold
    history."""
    if table == "orders":
        out = _replicas(df, spark, rep, o_orderkey=KEY_STRIDE)
    elif table == "lineitem":
        out = _replicas(df, spark, rep, l_orderkey=KEY_STRIDE)
    else:  # events
        out = _replicas(df, spark, rep, event_id=KEY_STRIDE).withColumn(
            "ts",
            F.timestamp_micros(
                F.unix_micros(F.col("ts").cast("timestamp"))
                + F.col("rep") * 1_000_000
            ).cast("timestamp_ntz"),
        )
    return out.drop("rep")


def replicate_documents(
    spark, docs, rep: int, boilerplate: bool = False,
    capped_vocab: bool = False,
) -> DataFrame:
    """rep copies of the corpus with doc_id shifted by DOC_STRIDE.

    By default every token of replica r is suffixed ``_r<r>``; with
    ``boilerplate`` the unsuffixed BP_HEADER is prepended as well, so one
    fingerprint or band bucket spans the whole corpus. With
    ``capped_vocab`` the source is suffixed instead of the tokens: the
    near-dup pair definition is same-source, so replicas still share no
    pair, while the global vocabulary stays the base corpus's and the
    int64-bitset gate (ND_BITSET_VOCAB_MAX) stays open at every rep."""
    assert not (boilerplate and capped_vocab), (
        "boilerplate and capped_vocab are mutually exclusive variants"
    )
    out = _replicas(docs, spark, rep, doc_id=DOC_STRIDE)
    if capped_vocab:
        return out.withColumn(
            "source", F.concat(F.col("source"), F.lit("_r"), F.col("rep"))
        ).drop("rep")
    suffixed = F.array_join(
        F.transform(
            F.split(F.col("text"), " "),
            lambda x: F.concat(x, F.lit("_r"), F.col("rep")),
        ),
        " ",
    )
    if boilerplate:
        suffixed = F.concat(F.lit(BP_HEADER + " "), suffixed)
    return (
        out.withColumn("text", suffixed)
        .withColumn("n_chars", F.length("text"))
        .drop("rep")
    )


def replicate_bipartite(spark, df, table: str, rep: int) -> DataFrame:
    """rep disjoint copies of orders or lineitem with every graph key
    shifted into a per-replica namespace."""
    if table == "orders":
        out = _replicas(
            df, spark, rep, o_orderkey=ORDER_STRIDE, o_custkey=CUST_STRIDE
        )
    else:  # lineitem
        out = _replicas(
            df, spark, rep, l_orderkey=ORDER_STRIDE, l_suppkey=SUPP_STRIDE
        )
    return out.drop("rep")


def replicate_vectors(spark, emb, rep: int) -> DataFrame:
    """Replica 0 is the corpus unchanged. Replica r of vector e (vec_id
    shifted by r·VEC_STRIDE) is normalize(MIX_OLD·e + MIX_NEW·g), g a
    unit Gaussian from default_rng(r·2³³ + vec_id): seeded per row, so
    the build does not depend on Spark's partitioning. At cos ≈ 0.8 a
    replica stays in its label's cluster without being a near-dup, so
    top-k lists mix replicas and originals."""
    import numpy as np
    import pandas as pd

    crossed = _replicas(
        emb.withColumnRenamed("vec_id", "base_vec_id"), spark, rep
    ).withColumn(
        "vec_id", F.col("base_vec_id") + F.col("rep") * VEC_STRIDE
    )

    def perturb(batches):
        for pdf in batches:
            mat = np.array(pdf["embedding"].tolist(), dtype=np.float64)
            rs = pdf["rep"].to_numpy()
            bids = pdf["base_vec_id"].to_numpy(dtype=np.int64)
            for i in np.flatnonzero(rs):
                g = np.random.default_rng(
                    int(rs[i]) * 2**33 + int(bids[i])
                ).standard_normal(mat.shape[1])
                g /= np.sqrt(g @ g)
                e = MIX_OLD * mat[i] + MIX_NEW * g
                mat[i] = e / np.sqrt(e @ e)
            yield pd.DataFrame({
                "vec_id": pdf["vec_id"].to_numpy(dtype=np.int64),
                "embedding": list(mat.astype(np.float32)),
                "label": pdf["label"].to_numpy(dtype=np.int32),
            })

    return crossed.mapInPandas(
        perturb, schema="vec_id long, embedding array<float>, label int"
    )


def synth_edges(spark, n: int, hub: int, in_star: bool = False) -> DataFrame:
    """(id_lo, id_hi) with id_lo < id_hi: the 3-out lattice (i, i+1),
    (i, i+2), (i, i+7) over n nodes, which has real triangles, plus a
    hub of degree ``hub`` at node 0 (neighbours 1..hub) or, for
    ``in_star``, at node n-1 (neighbours n-1-hub..n-2). In id order the
    low-id hub's whole adjacency is one out-list, the id order's worst
    case; the in-star's out-lists hold one element each."""
    lattice = spark.range(n).select(
        F.col("id").alias("id_lo"),
        F.explode(F.array(*[F.col("id") + s for s in (1, 2, 7)]))
        .alias("id_hi"),
    ).where(F.col("id_hi") < n)
    if hub <= 0:
        return lattice.distinct()
    h = min(hub, n - 1)
    if in_star:
        hub_edges = spark.range(n - 1 - h, n - 1).select(
            F.col("id").alias("id_lo"),
            F.lit(n - 1).cast("long").alias("id_hi"),
        )
    else:
        hub_edges = spark.range(1, h + 1).select(
            F.lit(0).cast("long").alias("id_lo"), F.col("id").alias("id_hi")
        )
    # lattice edges overlap the hub's range
    return lattice.unionAll(hub_edges).distinct()


def _synthetic(graph: str):
    """Transform of one synthetic graph: the lattice at rep 0, the hub
    and in-star graphs at every other rep (the hub degree)."""

    def make(spark, _base, hub: int, _variant: str):
        if (graph == "lattice") != (hub == 0):
            return None
        return synth_edges(spark, SYNTH_NODES, hub, graph == "in_star")

    return make


@dataclass
class Run:
    """``--runs`` and the failures that set the exit status."""

    runs: int = 2
    failures: list = field(default_factory=list)

    def fail(self, msg: str) -> None:
        print(f"FAIL {msg}", flush=True)
        self.failures.append(msg)


def _once(out: str, write: Callable[[str], None]) -> str:
    """``write(out)`` into a fresh directory unless ``out/_BUILT`` marks
    a finished build; returns out."""
    marker = Path(out) / "_BUILT"
    if not marker.exists():
        shutil.rmtree(out, ignore_errors=True)
        os.makedirs(out)
        write(out)
        marker.write_text("ok")
    return out


def build(spark, name: str, rep: int, variant: str = "") -> str:
    """The family's x<rep> replica directory, built once. A fixture
    family copies the tables it does not replicate unscaled, so loaders
    and preflight see a complete fixture; its plain x1 is BASE_SF."""
    fam = FAMILIES[name]
    if fam.from_fixture and rep == 1 and not variant:
        return BASE_SF

    def write(out: str) -> None:
        for t in TABLE_NAMES if fam.from_fixture else fam.tables:
            df = (spark.read.parquet(f"{BASE_SF}/{t}.parquet")
                  if fam.from_fixture else None)
            if t in fam.tables:
                df = fam.tables[t](spark, df, rep, variant)
            if df is not None:
                df.write.mode("overwrite").parquet(f"{out}/{t}.parquet")

    return _once(str(ROOT / name / f"x{rep}{variant}"), write)


def release(spark) -> None:
    """Drop tracked persists, then let a Python and a JVM GC free the
    localCheckpoint blocks of finished runs (the ContextCleaner frees
    them only once their Python references are gone): back-to-back x32
    runs of the iterative rungs in one JVM ran out of memory on the
    accumulation otherwise."""
    release_persisted()
    gc.collect()
    spark.sparkContext._jvm.System.gc()


def time_rung(run: Run, spark, fn, d: str, meter=None) -> dict:
    """A warm-up ``count()`` (the row count), then the best wall of
    ``run.runs`` noop-sink writes, which compute every output column.
    Every run pays its full build, eager gates included: persisted frames
    and checkpoint blocks are released in between. ``meter`` is a context
    manager class around each timed run; its ``peak`` is reported."""
    rows = fn(spark, d).count()
    release(spark)
    best, peak = float("inf"), 0
    for _ in range(run.runs):
        with (meter() if meter else nullcontext()) as m:
            t0 = time.perf_counter()
            fn(spark, d).write.format("noop").mode("overwrite").save()
            best = min(best, time.perf_counter() - t0)
        peak = max(peak, getattr(m, "peak", 0))
        release(spark)
    return {"sec": round(best, 3), "rows": rows,
            **({"rss": peak} if meter else {})}


@contextmanager
def forced(module, **consts):
    """Run the body with module-level gate constants overridden."""
    saved = {k: getattr(module, k) for k in consts}
    for k, v in consts.items():
        setattr(module, k, v)
    try:
        yield
    finally:
        for k, v in saved.items():
            setattr(module, k, v)


# The LIVE streaming twins, rungs named ``<query>:live``: the Structured
# Streaming job (readStream -> watermark -> stateful operator ->
# AvailableNow -> memory sink) behind each batch twin, checked against
# the twin's oracle.
LIVE_JOBS = {
    "q_stream_tumbling_watermarked": "tumbling_1h_watermarked",
    "q_stream_session_window": "session_window_30m",
}
# Rungs whose builder reports its fixpoint round count.
TELEMETRY_RUNGS = {"q_dedup_components"}


def rung(name: str, telemetry: dict | None = None):
    """(builder(spark, sf_dir) -> DataFrame, oracle SQL) of a rung."""
    specs = all_specs()  # loads the operator modules in registry order
    if name.endswith(":live"):
        from sd2_drp_experimentgen_spark.operators.streaming_ops import (
            _events_dir,
        )
        from sd2_drp_experimentgen_spark.streaming import jobs

        query = name.removesuffix(":live")
        job = getattr(jobs, LIVE_JOBS[query])

        def live(spark, d):
            # stage the fixture's single events file into a directory
            p = f"{d}/events.parquet"
            return job(spark, p if os.path.isdir(p) else _events_dir(d))

        return live, specs[query].oracle
    spec = specs[name]
    if telemetry is not None and name in TELEMETRY_RUNGS:
        return (
            lambda spark, d: spec.fn(spark, d, _telemetry=telemetry)
        ), spec.oracle
    return spec.fn, spec.oracle


def verify(run, spark, fam, caps, rungs, scales, rep, d, row) -> None:
    """Check every rung in ``caps`` against its registered oracle at the
    largest rep within its cap (the smallest rep if none is), and
    against the family's witness at the top rep when that lies above.
    A cap bounds the oracle side only: DuckDB's recursive closure, its
    CTE re-materialization or an n² pair list, or the driver-side
    collect of both full results in ``compare``."""
    for q in [q for q in rungs if q in caps]:
        within = [r for r in scales if r <= caps[q]]
        at = max(within) if within else min(scales)
        t0 = time.perf_counter()
        if rep == at:
            fn, oracle = rung(q)
            tag, pair = "oracle", (fn(spark, d),
                                   duck_connect(d).execute(oracle))
        elif rep == max(scales) and fam.witness:
            tag, pair = "witness", fam.witness(spark, q, rep, d)
        else:
            continue
        if pair is None:
            continue
        ok, msg = compare(q, *pair)
        print(f"VERIFY x{rep} {q} [{tag}]: {'PASS' if ok else 'FAIL'} {msg} "
              f"({time.perf_counter() - t0:.1f}s)", flush=True)
        row.setdefault("verify", {})[f"{q} {tag}"] = ok
        if not ok:
            run.fail(f"x{rep} {q} {tag}: {msg}")
        release(spark)


def witness_sql(name: str, rep: int) -> str:
    """Constructed oracle for a graph rung at x<rep>, run by DuckDB on
    the x1 views (plus ``sdocs``, the replica's documents, for the chars
    sums). Both graph transforms make replicas disjoint copies of the x1
    graph, so the expected output is the x1 result expanded replica-wise
    with ids shifted by each replica's stride; the closure runs once, at
    x1, where DuckDB's recursive CTE is cheap."""
    base = all_specs()[name].oracle
    reps = f"(SELECT range AS r FROM range({rep}))"
    if name == "q_dedup_components":
        return f"""
        WITH base AS ({base})
        SELECT doc_id + r * {DOC_STRIDE} AS doc_id,
               CAST(component_id + r * {DOC_STRIDE} AS BIGINT)
                 AS component_id,
               is_survivor
        FROM base CROSS JOIN {reps}
        """
    if name == "q_graph_triangle_count":
        return f"""
        WITH base AS ({base})
        SELECT doc_id + r * {DOC_STRIDE} AS doc_id, n_triangles
        FROM base CROSS JOIN {reps}
        """
    if name == "q_dedup_cluster_stats":
        comp = all_specs()["q_dedup_components"].oracle
        # the _r<r> suffix lengthens text, so the chars sums re-aggregate
        # over the replica's documents; labels come from the x1 closure
        return f"""
        WITH base AS ({comp}),
        labels AS (
          SELECT doc_id + r * {DOC_STRIDE} AS doc_id,
                 component_id + r * {DOC_STRIDE} AS component_id
          FROM base CROSS JOIN {reps}
        )
        SELECT CAST(component_id AS BIGINT) AS component_id,
               count(*) AS n_docs,
               CAST(count(*) - 1 AS BIGINT) AS n_removed,
               CAST(sum(d.n_chars) AS BIGINT) AS chars_total,
               CAST(sum(CASE WHEN l.doc_id <> l.component_id
                             THEN d.n_chars ELSE 0 END) AS BIGINT)
                 AS chars_removed
        FROM labels l JOIN sdocs d ON d.doc_id = l.doc_id
        GROUP BY component_id
        HAVING count(*) >= 2
        """
    if name == "q_graph_pagerank":
        # the damping base uses the global node count: the x1 oracle with
        # nn := n1·rep, customers shifted by r·CUST_STRIDE and suppliers
        # (already offset by PR_SUPP_OFFSET) by r·SUPP_STRIDE
        from sd2_drp_experimentgen_spark.operators.graph import (
            PR_SUPP_OFFSET,
        )

        scaled = base.replace(
            "nn AS (SELECT count(*) AS n FROM nodes)",
            f"nn AS (SELECT count(*) * {rep} AS n FROM nodes)",
        )
        assert scaled != base, "pagerank oracle nn CTE moved"
        return f"""
        WITH base AS ({scaled})
        SELECT CASE WHEN node < {PR_SUPP_OFFSET}
                    THEN node + r * {CUST_STRIDE}
                    ELSE node + r * {SUPP_STRIDE} END AS node,
               pr
        FROM base CROSS JOIN {reps}
        """
    if name == "q_graph_bfs_hops":
        # seeds (node < BFS_SEED_MAX) exist only in replica 0, so the
        # reached set and every distance equal x1's at any rep
        return base
    raise ValueError(name)


def graph_witness(spark, q: str, rep: int, d: str):
    if q not in ("q_dedup_components", "q_dedup_cluster_stats",
                 "q_graph_triangle_count", "q_graph_pagerank",
                 "q_graph_bfs_hops"):
        return None
    con = duck_connect(BASE_SF)
    con.execute("CREATE VIEW sdocs AS SELECT * FROM "
                f"read_parquet('{d}/documents.parquet/*.parquet')")
    return all_specs()[q].fn(spark, d), con.execute(witness_sql(q, rep))


SAMPLE_SRCS = 50


def knn_sample_witness(spark, q: str, rep: int, d: str):
    """DuckDB's exact kNN rows for the SAMPLE_SRCS smallest vec_ids
    (SAMPLE_SRCS·n pairs, never n²) against the same slice of Spark's."""
    if q != "q_emb_knn_graph":
        return None
    from sd2_drp_experimentgen_spark.operators.vectors import KNN_K

    srcs = [r[0] for r in spark.read.parquet(f"{d}/embeddings.parquet")
            .select("vec_id").orderBy("vec_id").limit(SAMPLE_SRCS).collect()]
    oracle = f"""
    WITH pairs AS (
      SELECT a.vec_id AS src, b.vec_id AS dst,
             list_cosine_similarity(
               list_transform(a.embedding, x -> CAST(x AS DOUBLE)),
               list_transform(b.embedding, x -> CAST(x AS DOUBLE))
             ) AS sim
      FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id
      WHERE a.vec_id IN ({", ".join(map(str, srcs))})
    ),
    ranked AS (
      SELECT src, dst, floor(sim * 10000 + 0.5) / 10000 AS sim,
             row_number() OVER (
               PARTITION BY src ORDER BY floor(sim * 10000 + 0.5) DESC, dst
             ) AS rank
      FROM pairs
    )
    SELECT src, CAST(rank AS BIGINT) AS rank, dst, sim
    FROM ranked WHERE rank <= {KNN_K}
    """
    spark_side = all_specs()[q].fn(spark, d).where(F.col("src").isin(srcs))
    return spark_side, duck_connect(d).execute(oracle)


# Probes: (run, spark, sf_dir, rep) -> extra fields of the rep's row.


def probe_skew(run: Run, spark, d: str, rep: int) -> dict:
    """Naive vs salted plans for the shapes AQE cannot fix, on the
    replica's events with every even event_id moved onto user_id 0 (the
    null-bucket or bot-traffic shape): a holistic percentile vs its
    mergeable sketch, a decomposable hot-key aggregation, and a hot-key
    shuffle join whose build side must not broadcast, with AQE's skew
    split on and off. Salting must not change either answer."""
    n_salts = 16

    def write(out: str) -> None:
        ev = spark.read.parquet(f"{d}/events.parquet")
        hot = F.when(F.col("event_id") % 2 == 0, F.lit(0))
        ev.withColumn("user_id", hot.otherwise(F.col("user_id"))).write \
            .parquet(f"{out}/events.parquet")

    skewed = _once(str(ROOT / "facts" / f"x{rep}skew"), write)
    ev = spark.read.parquet(f"{skewed}/events.parquet").select(
        "user_id", "event_id", "value"
    )
    sev = ev.withColumn("salt", F.pmod("event_id", F.lit(n_salts)).cast("int"))
    cust = spark.range(0, 200_000).select(
        F.col("id").alias("c_id"), (F.col("id") % 5).alias("seg")
    )
    scust = cust.withColumn(
        "salt", F.explode(F.array(*[F.lit(i) for i in range(n_salts)]))
    )
    n = F.count(F.lit(1)).alias("n")
    plans = {
        "pct_exact": ev.groupBy("user_id")
        .agg(F.expr("percentile(value, 0.5)").alias("p50")),
        "pct_sketch": ev.groupBy("user_id")
        .agg(F.expr("approx_percentile(value, 0.5, 1000)").alias("p50")),
        "agg_naive": ev.groupBy("user_id").agg(n, F.sum("value").alias("s")),
        "agg_salted": sev.groupBy("user_id", "salt")
        .agg(n, F.sum("value").alias("s"))
        .groupBy("user_id").agg(F.sum("n").alias("n"), F.sum("s").alias("s")),
        "join_aqe": ev.hint("shuffle_hash")
        .join(cust, ev.user_id == cust.c_id).groupBy("seg").agg(n),
        "join_salted": sev.hint("shuffle_hash")
        .join(scust, (sev.user_id == scust.c_id) & (sev.salt == scust.salt))
        .groupBy("seg").agg(n),
    }
    for naive, salted in (("agg_naive", "agg_salted"),
                          ("join_aqe", "join_salted")):
        a, b = (sorted(map(tuple, plans[p].select(plans[p].columns[0], "n")
                           .collect())) for p in (naive, salted))
        if a != b:
            run.fail(f"x{rep} skew: salting changed {salted}")
    out = {k: time_rung(run, spark, lambda s, _, p=p: p, d)["sec"]
           for k, p in plans.items()}
    spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "false")
    try:
        out["join_noaqe"] = time_rung(
            run, spark, lambda s, _: plans["join_aqe"], d
        )["sec"]
    finally:
        spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    print(f"x{rep} skew: {json.dumps(out)}", flush=True)
    return {"skew": out}


# The rungs whose stop-bucket cap the boilerplate variant exercises, with
# the audit column each carries in its output.
BP_RUNGS = {
    "q_dedup_winnow_pairs": "n_stop_fps",
    "q_dedup_lsh_refine": "n_buckets_dropped",
}


def _bp_audit_count(spark, q: str, sf_dir: str) -> int:
    """Drop counter of a capped rung, read from its dedicated one-row
    audit aggregate over the bucket table, never from the pair output,
    whose audit column has no row to ride on when no pair survives."""
    from sd2_drp_experimentgen_spark.operators import llmtext as lt
    from sd2_drp_experimentgen_spark.sources.tables import fan_out, load_table

    if q == "q_dedup_winnow_pairs":
        audit = lt._winnow_stop_audit(lt._winnow_buckets(spark, sf_dir))
    elif q == "q_dedup_lsh_refine":
        docs = fan_out(load_table(spark, sf_dir, "documents"), spark, sf_dir)
        audit = lt._band_drop_audit(
            lt._band_buckets(lt._band_frame(lt._minhash_signatures(docs)))
        )
    else:
        raise ValueError(q)
    n = audit.first()[0]
    release_persisted()
    return int(n)


def probe_boilerplate(run: Run, spark, d: str, rep: int) -> dict:
    """Every doc shares the header, so each header fingerprint's bucket
    holds the whole corpus: the cap must fire at every rep."""
    out = {}
    for q, col in BP_RUNGS.items():
        out[f"{q} {col}"] = n = _bp_audit_count(spark, q, d)
        print(f"x{rep} {q}: {col}={n}", flush=True)
        if not n:
            run.fail(f"x{rep} {q}: the bucket audit reads {col}=0 on the "
                     "boilerplate corpus; the cap did not fire")
    return out


def probe_capped_vocab(run: Run, spark, d: str, rep: int) -> dict:
    """q_neardup_jaccard on the int64-bitset path the gate picks and on
    the ppjoin path with the gate forced shut: the vocabulary must stay
    under the gate and both paths must give the same row count."""
    from sd2_drp_experimentgen_spark.operators import text

    vocab = (
        spark.read.parquet(f"{d}/documents.parquet")
        .select(F.explode(F.split(F.col("text"), " ")))
        .distinct().count()
    )
    if vocab > text.ND_BITSET_VOCAB_MAX:
        run.fail(f"x{rep} capped-vocab build leaked vocabulary: {vocab}")
    fn = all_specs()["q_neardup_jaccard"].fn
    mask = time_rung(run, spark, fn, d)
    with forced(text, ND_BITSET_VOCAB_MAX=-1):
        ppjoin = time_rung(run, spark, fn, d)
    print(f"x{rep} capped-vocab: vocab={vocab} mask={mask} ppjoin={ppjoin}",
          flush=True)
    if mask["rows"] != ppjoin["rows"]:
        run.fail(f"x{rep} capped-vocab: mask {mask['rows']} rows != "
                 f"ppjoin {ppjoin['rows']} rows")
    return {"vocab": vocab, "mask": mask, "ppjoin": ppjoin}


def probe_pipelines(run: Run, spark, d: str, rep: int) -> dict:
    """Prefix jobs of q_llm_corpus_pipeline: the quality gate, then the
    exact-dedup losers. Shared subtrees are recomputed, so prefix deltas
    only approximate stage costs."""
    from sd2_drp_experimentgen_spark.operators.text import exact_dedup_losers
    from sd2_drp_experimentgen_spark.sources.tables import fan_out, load_table

    out = {}
    t0 = time.perf_counter()
    docs = fan_out(load_table(spark, d, "documents"), spark, d)
    gated = docs.select(
        "doc_id", "text", "lang", "n_chars",
        F.size(F.split(F.col("text"), " ")).alias("n_tok"),
    ).where((F.col("n_tok") >= 20) & F.col("n_chars").between(100, 1000))
    out["gate_rows"] = gated.count()
    out["gate_sec"] = round(time.perf_counter() - t0, 3)
    t0 = time.perf_counter()
    out["loser_rows"] = exact_dedup_losers(gated).count()
    out["dedup_sec"] = round(time.perf_counter() - t0, 3)
    release(spark)
    print(f"x{rep} llm waypoints: {out}", flush=True)
    return {"llm_waypoints": out}


def probe_lsh_curve(run: Run, spark, d: str, rep: int) -> dict:
    """Bucket-table stats of the capped q_dedup_lsh_refine at organic
    scale: candidates must grow linearly (replicas share no shingle) and
    organic buckets stay far under LSH_BUCKET_CAP, so a nonzero drop here
    is a blocking defect."""
    from sd2_drp_experimentgen_spark.operators import llmtext as lt
    from sd2_drp_experimentgen_spark.sources.tables import fan_out, load_table

    docs = fan_out(load_table(spark, d, "documents"), spark, d)
    buckets = lt._band_buckets(lt._band_frame(lt._minhash_signatures(docs)))
    stats = buckets.agg(
        F.count(F.lit(1)).alias("buckets"),
        F.max(F.size("ids")).alias("max_bucket"),
        F.count_if(F.size("ids") > lt.LSH_BUCKET_CAP).cast("long")
        .alias("n_buckets_dropped"),
    ).first().asDict()
    stats["candidates"] = lt._band_candidates(buckets).count()
    release(spark)
    print(f"x{rep} lsh buckets: {stats}", flush=True)
    return stats


def _per_round(walls):
    """Probe that runs a per-round wall function cold, then warm, and
    keeps the warm walls."""

    def probe(run: Run, spark, d: str, rep: int) -> dict:
        for _ in range(2):
            out = walls(spark, d)
            release(spark)
        print(f"x{rep} per-round: {json.dumps(out)}", flush=True)
        return {"per_round": out}

    return probe


def cc_round_walls(spark, d: str) -> dict:
    """The shipped connected-components loop's own round walls;
    build_s adds the near-dup edge build before round 1."""
    from sd2_drp_experimentgen_spark.operators.graph import cc_labels

    tel: dict = {}
    t0 = time.perf_counter()
    cc_labels(spark, d, _telemetry=tel)
    return {"build_s": round(time.perf_counter() - t0, 2),
            "rounds": tel["round_s"]}


def pr_bfs_round_walls(spark, d: str) -> dict:
    """PageRank iterations and BFS rounds with a timer around each,
    rebuilt from the operators' plans with a checkpoint per iteration so
    that each one can be timed."""
    from sd2_drp_experimentgen_spark.operators import graph as g
    from sd2_drp_experimentgen_spark.sources.tables import load_table

    o = load_table(spark, d, "orders").select("o_orderkey", "o_custkey")
    li = load_table(spark, d, "lineitem").select("l_orderkey", "l_suppkey")
    bp = o.join(li, o.o_orderkey == li.l_orderkey).select(
        F.col("o_custkey").alias("c"), F.col("l_suppkey").alias("s")
    ).distinct()
    supp = F.col("s") + g.PR_SUPP_OFFSET
    t0 = time.perf_counter()
    edges = bp.select(F.col("c").alias("src"), supp.alias("dst")).unionAll(
        bp.select(supp.alias("src"), F.col("c").alias("dst"))
    ).localCheckpoint()
    edge_build = round(time.perf_counter() - t0, 2)

    nodes = edges.select(F.col("src").alias("node")).distinct()
    ed = edges.join(
        edges.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg")), "src"
    )
    init = g.PR_SCALE // nodes.count()
    damp = F.lit((15 * init) // 100) + F.expr(
        "(85 * coalesce(inc, CAST(0 AS BIGINT))) div 100"
    )
    pr = nodes.select("node", F.lit(init).alias("pr"))
    prr = {"edge_build_s": edge_build, "iters": []}
    for _ in range(g.PR_ITERS):
        t0 = time.perf_counter()
        inc = (
            ed.join(pr.withColumnRenamed("node", "src"), "src")
            .select("dst", F.expr("pr div outdeg").alias("contrib"))
            .groupBy("dst").agg(F.sum("contrib").alias("inc"))
        )
        pr = nodes.join(inc, nodes.node == inc.dst, "left").select(
            "node", damp.alias("pr")
        ).localCheckpoint()
        prr["iters"].append(round(time.perf_counter() - t0, 2))

    dist = nodes.where(F.col("node") < g.BFS_SEED_MAX).select(
        "node", F.lit(0).cast("int").alias("dist")
    ).localCheckpoint()
    bfs = {"edge_build_s": edge_build, "rounds": [], "frontier": []}
    for rnd in range(g.BFS_ROUNDS):
        t0 = time.perf_counter()
        frontier = dist.where(F.col("dist") == rnd)
        bfs["frontier"].append(frontier.count())
        expanded = frontier.withColumnRenamed("node", "src").join(
            edges, "src"
        ).select(F.col("dst").alias("node"), (F.col("dist") + 1).alias("dist"))
        dist = dist.unionAll(expanded).groupBy("node").agg(
            F.min("dist").alias("dist")
        ).localCheckpoint()
        bfs["rounds"].append(round(time.perf_counter() - t0, 2))
    return {"pagerank": prr, "bfs": bfs}


class WorkerRssProbe:
    """Largest VmRSS of the pyspark daemon and workers while the body
    runs, polled from /proc every 25 ms. Not VmHWM: the daemon worker is
    reused across queries, so its HWM carries an earlier query's peak."""

    def __init__(self) -> None:
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._poll, daemon=True)

    def _scan(self) -> None:
        for pid in filter(str.isdigit, os.listdir("/proc")):
            try:
                with open(f"/proc/{pid}/cmdline", "rb") as fh:
                    cmd = fh.read()
                if b"pyspark.daemon" in cmd or b"pyspark.worker" in cmd:
                    with open(f"/proc/{pid}/status") as fh:
                        kb = next(int(ln.split()[1]) for ln in fh
                                  if ln.startswith("VmRSS:"))
                    self.peak = max(self.peak, kb * 1024)
            except (OSError, ValueError, StopIteration):
                continue  # the process exited mid-scan

    def _poll(self) -> None:
        while not self._stop.wait(0.025):
            self._scan()

    def __enter__(self) -> "WorkerRssProbe":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self._scan()


def probe_gate(run: Run, spark, d: str, rep: int) -> dict:
    """q_emb_knn_graph on the path BROADCAST_MAX_ROWS picks and on the
    other path with the gate forced: both exact plans must give
    identical rows."""
    from sd2_drp_experimentgen_spark.operators import vectors

    fn = all_specs()["q_emb_knn_graph"].fn

    def rows():
        got = sorted(map(tuple, fn(spark, d).select(
            "src", "rank", "dst", "sim").collect()))
        release(spark)
        return got

    n = spark.read.parquet(f"{d}/embeddings.parquet").count()
    blocked = n > vectors.BROADCAST_MAX_ROWS
    picked = rows()
    with forced(vectors, BROADCAST_MAX_ROWS=(1 << 62) if blocked else -1):
        other = time_rung(run, spark, fn, d)
        other_rows = rows()
    path = "blocked" if blocked else "broadcast"
    same = picked == other_rows
    print(f"x{rep} n={n}: gate picks {path}; forced other path {other}, "
          f"rows {'identical' if same else 'DIFFER'}", flush=True)
    if not same:
        run.fail(f"x{rep} q_emb_knn_graph: {path} and forced paths differ "
                 f"({len(picked)} vs {len(other_rows)} rows)")
    return {"n": n, "path": path, "forced_other_path": other}


def probe_recall(run: Run, spark, d: str, rep: int) -> dict:
    """q_ann_ivf_topk embeds the exact top-1 and a recall@10 >= 0.8
    witness per row, so ANN quality at scale reads off its output."""
    rows = all_specs()["q_ann_ivf_topk"].fn(spark, d).collect()
    ok = sum(1 for r in rows if r["recall_ok"])
    print(f"x{rep} q_ann_ivf_topk recall_ok: {ok}/{len(rows)}", flush=True)
    return {"ivf_recall_ok": f"{ok}/{len(rows)}"}


def probe_unchunked(run: Run, spark, d: str, rep: int) -> dict:
    """q_emb_knn_graph with SIMS_BUDGET_BYTES forced to 2⁶², one
    batch×n float64 product per Arrow batch, under the worker-RSS poll.
    A crash is a result here. The daemon workers keep their arenas
    afterwards, so later walls in the same process read high."""
    from sd2_drp_experimentgen_spark.operators import vectors

    fn = all_specs()["q_emb_knn_graph"].fn
    try:
        with forced(vectors, SIMS_BUDGET_BYTES=1 << 62):
            out = time_rung(run, spark, fn, d, WorkerRssProbe)
    except Exception as exc:  # noqa: BLE001 - the crash is the finding
        out = {"crashed": str(exc).splitlines()[0][:200]}
    print(f"x{rep} q_emb_knn_graph unchunked: {out}", flush=True)
    return {"knn_unchunked": out}


def probe_index(run: Run, spark, d: str, rep: int) -> dict:
    """Stored-index lifecycle: the full q_ann_index_partitioned wall
    (encode, 16-way partitioned write, probe) grows with the corpus, the
    probe-only wall over the written index with the probed cells
    (probed_codes / total_codes is the pruning ratio); plus the IVFPQ
    recall curve at the replica's size."""
    from sd2_drp_experimentgen_spark.operators import vectors
    from sd2_drp_experimentgen_spark.operators.scans import _scratch

    specs = all_specs()
    full = time_rung(run, spark, specs["q_ann_index_partitioned"].fn, d)
    path = _scratch(d, "pq_index_by_cell")
    probe, lut, cells = vectors._index_probe_plan(spark, d)
    idx = spark.read.parquet(path)
    total = idx.count()
    probed = idx.where(F.col("cell").isin(cells)).count()
    probe_only = time_rung(
        run, spark,
        lambda s, _: vectors._probe_stored_index(s, path, probe, lut, cells),
        d,
    )
    curve = {
        int(r["nprobe"]): {"cand": int(r["cand_rows"]),
                           "recall": float(r["recall_at10"])}
        for r in specs["q_ann_ivfpq_recall_curve"].fn(spark, d).collect()
    }
    release(spark)
    out = {"full_query_s": full["sec"], "probe_only_s": probe_only["sec"],
           "total_codes": total, "probed_codes": probed,
           "prune_ratio": round(probed / max(total, 1), 3),
           "recall_curve": curve}
    print(f"x{rep} index: {json.dumps(out)}", flush=True)
    return out


def probe_orders(run: Run, spark, d: str, rep: int) -> dict:
    """Per graph: the gate ratio Σout²/|E| and the order it picks, then
    each order forced (c=inf: id, c=0: degree) with its best wall and
    (Σ n_triangles, node count, Σ doc_id·n_triangles). The two orders
    must agree."""
    from sd2_drp_experimentgen_spark.operators import graph

    out = {}
    for table in sorted(t for t in os.listdir(d) if t.endswith(".parquet")):
        e = spark.read.parquet(f"{d}/{table}").persist()
        ratio, n_edges = graph.triangle_work_ratio(e)
        row = {"edges": n_edges, "gate_ratio": round(ratio, 1),
               "gate_picks": ("degree" if ratio > graph.TRI_WORK_PER_EDGE
                              else "id")}
        for label, c in (("id", float("inf")), ("degree", 0)):
            def fn(s, _, c=c):
                return graph.triangle_counts(e, work_per_edge=c)

            sums = fn(spark, d).agg(
                F.sum("n_triangles"), F.count(F.lit(1)),
                F.sum(F.col("doc_id") * F.col("n_triangles")),
            ).first()
            row[f"counts_{label}"] = tuple(int(v or 0) for v in sums)
            row[f"wall_{label}_s"] = time_rung(run, spark, fn, d)["sec"]
        e.unpersist()
        name = table.removesuffix(".parquet")
        print(f"hub {rep} {name}: {json.dumps(row)}", flush=True)
        if row["counts_id"] != row["counts_degree"]:
            run.fail(f"hub {rep} {name}: the triangle orders disagree")
        out[name] = row
    return out


@dataclass(frozen=True)
class Probe:
    fn: Callable | None = None  # (run, spark, sf_dir, rep) -> dict
    rungs: tuple | None = None  # timed instead of the family's rungs
    variant: str = ""  # replica variant the probe runs on
    verify: dict | None = None  # verify caps instead of the family's


@dataclass(frozen=True)
class Family:
    # table -> (spark, base table or None, rep, variant) -> table or None
    tables: dict
    rungs: tuple
    reps: tuple
    # rung -> largest rep at which its registered oracle stays tractable
    verify: dict
    # (spark, rung, rep, sf_dir) -> (spark df, DuckDB result) or None
    witness: Callable | None = None
    probe: Probe = Probe()  # the probe without --probe
    probes: dict = field(default_factory=dict)
    meter: type | None = None  # around each timed run, reports .peak
    from_fixture: bool = True  # replicas of BASE_SF; x1 is BASE_SF


def _per_table(fn, tables: tuple) -> dict:
    """Table transforms from replicate(spark, df, table, rep)."""
    return {t: (lambda spark, df, rep, _v, t=t: fn(spark, df, t, rep))
            for t in tables}


FAMILIES: dict[str, Family] = {
    "facts": Family(
        tables=_per_table(replicate_facts, ("orders", "lineitem", "events")),
        rungs=("q_agg_groupby_q1", "q_join_multiway_topk", "q_win_running",
               "q_join_asof", "q_join_interval", "q_stream_session_30m",
               "q_stream_tumbling_1h", "q_agg_window_distinct"),
        reps=(8, 32),
        verify=dict.fromkeys(("q_agg_groupby_q1", "q_win_running",
                              "q_stream_tumbling_1h"), NO_CAP),
        probes={
            "skew": Probe(fn=probe_skew, rungs=()),
            "live": Probe(rungs=tuple(f"{q}:live" for q in LIVE_JOBS),
                          verify={f"{q}:live": NO_CAP for q in LIVE_JOBS}),
        },
    ),
    "documents": Family(
        tables={"documents": lambda spark, df, rep, v: replicate_documents(
            spark, df, rep, boilerplate=v == "bp", capped_vocab=v == "cv"
        )},
        rungs=("q_dedup_minhash_bands", "q_dedup_lsh_refine",
               "q_text_winnow_fingerprints", "q_dedup_winnow_pairs",
               "q_neardup_jaccard", "q_neardup_containment",
               "q_dedup_threshold_curve", "q_mm_phash_dedup"),
        reps=(4, 16),
        verify={
            "q_dedup_minhash_bands": NO_CAP,
            "q_dedup_winnow_pairs": NO_CAP,
            "q_dedup_lsh_refine": NO_CAP,
            "q_dedup_threshold_curve": NO_CAP,
            # compare() collects both full results into pandas: the ~36M
            # x64 containment pairs cross spark.driver.maxResultSize
            "q_neardup_containment": 16,
            # DuckDB's recursive closure: x8 passed in 186-395 s, x64 was
            # killed after 25 min (Spark finished in ~2 min)
            "q_dedup_components": 8,
            "q_dedup_cluster_stats": 8,
            # the triangle oracle's token self-join is referenced three
            # times and re-materialized each time: x8 filled 78 GB of disk
            "q_graph_triangle_count": 1,
        },
        witness=graph_witness,
        probes={
            # x1 keeps the oracle's self-join over the hot bucket bounded
            "boilerplate": Probe(fn=probe_boilerplate, rungs=tuple(BP_RUNGS),
                                 variant="bp",
                                 verify=dict.fromkeys(BP_RUNGS, 1)),
            "capped-vocab": Probe(fn=probe_capped_vocab, rungs=(),
                                  variant="cv"),
            "pipelines": Probe(fn=probe_pipelines, rungs=(
                "q_llm_corpus_pipeline", "q_mm_corpus_pipeline")),
            "lsh-curve": Probe(fn=probe_lsh_curve,
                               rungs=("q_dedup_lsh_refine",)),
            "per-round": Probe(fn=_per_round(cc_round_walls), rungs=()),
        },
    ),
    "bipartite": Family(
        tables=_per_table(replicate_bipartite, ("orders", "lineitem")),
        rungs=("q_graph_pagerank", "q_graph_bfs_hops"),
        reps=(8, 32),
        # the unrolled 3-iteration pagerank oracle references its edges
        # ~8 times and DuckDB re-materializes each: x64 filled the disk
        verify={"q_graph_pagerank": 8, "q_graph_bfs_hops": 8},
        witness=graph_witness,
        probes={"per-round": Probe(fn=_per_round(pr_bfs_round_walls),
                                   rungs=())},
    ),
    "vectors": Family(
        tables={"embeddings": lambda spark, df, rep, _v: replicate_vectors(
            spark, df, rep)},
        rungs=("q_emb_knn_graph", "q_sim_cosine_topk",
               "q_dedup_embedding_nn", "q_ann_ivf_topk"),
        reps=(32, 128),
        verify={"q_emb_knn_graph": 1},  # the oracle ranks all n² pairs
        witness=knn_sample_witness,
        probe=Probe(fn=probe_recall),
        probes={
            "gate": Probe(fn=probe_gate, rungs=("q_emb_knn_graph",)),
            "index": Probe(fn=probe_index, rungs=()),
            "unchunked": Probe(fn=probe_unchunked, rungs=()),
        },
        meter=WorkerRssProbe,
    ),
    "synthetic": Family(
        tables={g: _synthetic(g) for g in ("lattice", "hub", "in_star")},
        rungs=(),
        reps=(0, 1_024, 4_096, 16_384, 65_536),
        verify={},
        probe=Probe(fn=probe_orders),
        from_fixture=False,
    ),
}


def main(argv: list[str] | None = None, spark=None) -> int:
    ap = argparse.ArgumentParser(
        description="Time and verify a query family on k-fold replicas."
    )
    ap.add_argument("family", choices=FAMILIES)
    ap.add_argument("--reps", nargs="*", type=int,
                    help="replica factors (synthetic: hub degrees)")
    ap.add_argument("--rungs", nargs="*", help="rungs to time and verify")
    ap.add_argument("--runs", type=int, default=2)
    ap.add_argument("--probe", help="one of the family's probes")
    ap.add_argument("--verify", action="store_true")
    ap.add_argument("--verify-only", action="store_true",
                    help="skip timing and probes")
    args = ap.parse_args(argv)
    fam = FAMILIES[args.family]
    if args.probe and args.probe not in fam.probes:
        ap.error(f"{args.family} probes: {', '.join(fam.probes)}")
    probe = fam.probes[args.probe] if args.probe else fam.probe
    rungs = next(r for r in (args.rungs, probe.rungs, fam.rungs)
                 if r is not None)
    caps = fam.verify if probe.verify is None else probe.verify
    scales = list(dict.fromkeys(
        ([1] if fam.from_fixture else []) + list(args.reps or fam.reps)
    ))
    spark = spark or get_spark(app_name=f"ladder-{args.family}",
                               shuffle_partitions=32)
    run = Run(runs=args.runs)
    results: dict = {}
    for rep in scales:
        d = build(spark, args.family, rep, probe.variant)
        row = results[f"x{rep}"] = {}
        if not args.verify_only:
            for q in rungs:
                tel: dict = {}
                row[q] = r = time_rung(run, spark, rung(q, tel)[0], d,
                                       fam.meter)
                if tel:
                    r["cc_rounds"] = tel["rounds"]
                base = results.get("x1", {}).get(q) if rep != 1 else None
                ratio = (f" ({r['sec'] / max(base['sec'], 1e-9):.1f}x time, "
                         f"{r['rows'] / max(base['rows'], 1):.2f}x rows)"
                         if base else "")
                print(f"x{rep} {q}: {r}{ratio}", flush=True)
            if probe.fn:
                row.update(probe.fn(run, spark, d, rep))
        if args.verify or args.verify_only:
            verify(run, spark, fam, caps, rungs, scales, rep, d, row)
    print(json.dumps({"family": args.family, "probe": args.probe,
                      "scales": results, "failures": run.failures}))
    return 1 if run.failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
