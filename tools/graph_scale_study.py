"""Graph-family scaling study — iterative joins a decade (or two) up
(VERDICT r10 item 5: the last unmeasured family).

Iterative-join workloads are where shuffle amplification hides: an
edge list that re-shuffles every round, a frontier that accidentally
densifies, a wedge join whose fan-out breaks with a hub. This study
drives the four iterative/graph rungs x8..x64 with structure-
preserving growth and cross-engine verification at scale, mirroring
the vec/dedup study protocol (SCALE.md rounds 9-10).

Two growth transforms, each preserving the property the algorithm's
round count depends on:

* **Document-graph rungs** (components, cluster stats, triangles)
  reuse tools/dedup_scale_study.replicate_documents: replica r
  suffixes every token with ``_r<r>`` and shifts doc_id, so the
  J>=0.6 pair graph becomes k disjoint copies of the base graph —
  component sizes, diameters, and triangle structure are IDENTICAL
  per replica. The honest claims: components/triangles k-fold
  (linear), min-label propagation converges in the SAME number of
  rounds at every k (diameter is a per-component property), wall
  ~k-fold.

* **Bipartite-graph rungs** (pagerank, bfs) get replicated
  orders+lineitem with per-replica key offsets (custkey +r*1e5,
  suppkey +r*1e4, orderkey +r*1e6): k disjoint copies of the
  customer<->supplier graph. PageRank's init mass PR_SCALE//n shrinks
  with n — per-node values CHANGE with k, which is exactly why the
  cross-engine verify runs on the scaled fixture, not a closed form.
  BFS seeds (node < 10) exist only in replica 0, so the reached set
  stays CONSTANT while the graph grows k-fold — the documented claim
  "per-round shuffle volume is bounded by the reached set, not the
  graph" becomes directly falsifiable: BFS wall must grow far
  sub-linearly.

    python tools/graph_scale_study.py --reps 8 32      [--verify]
    python tools/graph_scale_study.py --rungs q_graph_pagerank --reps 64

``--verify`` cross-checks each rung against its registered DuckDB
oracle AT THE LARGEST BUILT SCALE via the driver-faithful compare
(order-insensitive bit-exact values), with per-rung rep caps where the
oracle side (recursive CTE closure) outgrows DuckDB's single box.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

sys.path.insert(0, ".")
sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from dedup_scale_study import (  # noqa: E402
    build as build_docs,  # replica-distinct documents corpus
)
from sd2_drp_experimentgen_spark.plans import all_specs  # noqa: E402
from sd2_drp_experimentgen_spark.schemas import TABLE_NAMES  # noqa: E402
from sd2_drp_experimentgen_spark.session import get_spark  # noqa: E402

BASE_SF = "/root/testdata/sf0.1"
CUST_STRIDE = 100_000  # max o_custkey at sf0.1 is 14 999
SUPP_STRIDE = 10_000  # max l_suppkey at sf0.1 is 999
ORDER_STRIDE = 1_000_000  # max orderkey at sf0.1 is 149 999

DOC_RUNGS = [
    "q_dedup_components",
    "q_dedup_cluster_stats",
    "q_graph_triangle_count",
]
GRAPH_RUNGS = [
    "q_graph_pagerank",
    "q_graph_bfs_hops",
]

# Largest rep at which the FULL registered oracle stays tractable PER
# RUNG (the cap bounds the VERIFY HARNESS, not the engine — same
# protocol note as dedup_scale_study.VERIFY_REP_CAP): the doc rungs'
# recursive-CTE closure oracle is super-linear in DuckDB — measured
# >25 min and killed at x64, while the Spark side finishes in ~2 min —
# so the full-closure check runs at x8 and the TOP scale is verified
# with the replica witness below instead.
VERIFY_REP_CAP = {
    "q_dedup_components": 8,  # x8 closure PASS in 395 s; x64 killed >25 min
    "q_dedup_cluster_stats": 8,  # x8 closure PASS in 330 s
    # The triangle oracle references the token-self-join ``pairs`` CTE
    # three times and DuckDB re-materializes each reference: at x8 the
    # temp spill exhausted the box's 78 GB free disk and aborted —
    # while Spark ran the same x8 workload in 19 s (the engine is
    # fine; the harness oracle isn't). Full oracle at x1, replica
    # witness at the top scale (plus every driver round at sf0.01).
    "q_graph_triangle_count": 1,
    # Same CTE-rematerialization blow-up for the unrolled 3-iteration
    # pagerank chain (edges referenced ~8x): x64 exhausted disk, so
    # the full oracle runs at x8 and the top scale gets the symmetry
    # witness (disjoint identical replicas => per-node rank equals the
    # x1-graph run with total-node-count n scaled by rep).
    "q_graph_pagerank": 8,
    "q_graph_bfs_hops": 8,
}

DOC_STRIDE = 10**7  # mirrors dedup_scale_study.DOC_STRIDE


def witness_sql(name: str, rep: int) -> str:
    """Constructed oracle for a DOC rung at scale x<rep>, evaluated by
    DuckDB against the x1 views (+ a ``sdocs`` view over the SCALED
    documents table for the chars sums).

    The growth transform makes replicas pair-graph-DISJOINT by
    construction (replica-suffixed tokens share no token with any
    other replica, and the pair predicate requires a shared token), so
    the expected output at x<rep> is the x1 closure expanded replica-
    wise with doc_id/component_id shifted by r*DOC_STRIDE — the same
    constructed-oracle pattern as the mm promotions and the vec
    study's geometry-preserving growth. The closure itself runs ONCE
    at x1, where DuckDB's recursive CTE is cheap; the full registered
    oracle additionally re-proves a mid rung (x8) end-to-end."""
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
        # chars are NOT replica-invariant (the _r<r> token suffix
        # lengthens text), so the sums re-aggregate over the SCALED
        # documents view; labels come from the expanded x1 closure.
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
        # Disjoint identical replicas: every replica's subgraph is the
        # x1 graph, but the damping base uses the GLOBAL node count —
        # so the witness is the x1-edge oracle with nn := n1 * rep,
        # expanded replica-wise (customer nodes shift by r*CUST_STRIDE,
        # supplier nodes — already offset by PR_SUPP_OFFSET — by
        # r*SUPP_STRIDE). Base sits ON the x1 views; no scaled scan.
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
        # Seeds (node < BFS_SEED_MAX) exist only in replica 0, so the
        # reached set and every distance are IDENTICAL to x1 at any
        # rep: the witness is the registered x1 oracle verbatim.
        return base
    raise ValueError(name)


def scaled_graph_dir(rep: int) -> str:
    root = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "..", ".scratch",
        "scale_graph",
    )
    return os.path.abspath(os.path.join(root, f"x{rep}"))


def replicate_bipartite(spark, df, table: str, rep: int):
    """rep disjoint copies of the orders/lineitem tables with every
    graph-relevant key shifted into a per-replica namespace."""
    reps = spark.range(rep).select(F.col("id").alias("rep"))
    out = df.crossJoin(F.broadcast(reps))
    if table == "orders":
        out = out.withColumn(
            "o_orderkey", F.col("o_orderkey") + F.col("rep") * ORDER_STRIDE
        ).withColumn(
            "o_custkey", F.col("o_custkey") + F.col("rep") * CUST_STRIDE
        )
    else:  # lineitem
        out = out.withColumn(
            "l_orderkey", F.col("l_orderkey") + F.col("rep") * ORDER_STRIDE
        ).withColumn(
            "l_suppkey", F.col("l_suppkey") + F.col("rep") * SUPP_STRIDE
        )
    return out.drop("rep")


def build_graph(spark, rep: int) -> str:
    out = scaled_graph_dir(rep)
    marker = os.path.join(out, "_BUILT")
    if os.path.exists(marker):
        return out
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    for t in TABLE_NAMES:
        df = spark.read.parquet(f"{BASE_SF}/{t}.parquet")
        if t in ("orders", "lineitem"):
            df = replicate_bipartite(spark, df, t, rep)
        df.write.mode("overwrite").parquet(os.path.join(out, f"{t}.parquet"))
    open(marker, "w").write("ok")
    return out


def _drop_checkpoints(spark) -> None:
    """Release localCheckpoint blocks from the previous invocation.

    The iterative rungs localCheckpoint per-round state; the blocks are
    freed by the ContextCleaner only after the Python references are
    GC'd. Back-to-back x32 invocations in one 16g JVM OOM'd on the
    accumulation (first x32 sweep of this study), so the harness forces
    the collection between runs — a cluster driver would never hold
    three runs' worth of a study loop."""
    import gc

    gc.collect()
    spark.sparkContext._jvm.System.gc()


def run_rung(spark, name: str, sf_dir: str, runs: int = 2):
    from sd2_drp_experimentgen_spark.functions.helpers import (
        release_persisted,
    )
    from sd2_drp_experimentgen_spark.operators import graph as graph_mod

    # Convergence telemetry via the operator's caller-owned dict
    # (r12: CC_ROUNDS_LAST module global removed — operators no
    # longer mutate module state per execution).
    telem: dict = {}

    def build():
        if name == "q_dedup_components":
            return graph_mod.q_dedup_components(
                spark, sf_dir, _telemetry=telem
            )
        return all_specs()[name].fn(spark, sf_dir)

    rows = build().count()  # warm-up
    release_persisted()
    _drop_checkpoints(spark)
    best = float("inf")
    for _ in range(runs):
        t0 = time.perf_counter()
        build().count()
        best = min(best, time.perf_counter() - t0)
        release_persisted()
        _drop_checkpoints(spark)
    return round(best, 3), rows, telem.get("rounds")


def per_round_walls(spark, doc_dir: str, graph_dir: str) -> dict:
    """Wall per ITERATION for the iterative loops (VERDICT r10 item 5's
    convergence table). Connected components reports the shipped
    loop's own round walls (its _telemetry); PageRank and BFS are
    re-implemented with a timer around every round, using the same
    plans as the operators (a study probe).
    """
    from sd2_drp_experimentgen_spark.operators.graph import (
        BFS_ROUNDS,
        BFS_SEED_MAX,
        PR_ITERS,
        PR_SCALE,
        PR_SUPP_OFFSET,
        cc_labels,
    )
    from sd2_drp_experimentgen_spark.sources.tables import load_table

    out: dict = {}

    # --- CC rounds (doc pair graph): the shipped loop's own per-round
    # walls; build_s adds the near-dup edge build before round 1 ---
    tel: dict = {}
    t0 = time.perf_counter()
    cc_labels(spark, doc_dir, _telemetry=tel)
    out["cc"] = {
        "build_s": round(time.perf_counter() - t0, 2),
        "rounds": tel["round_s"],
    }

    # --- bipartite edges shared by pagerank + bfs ---
    o = load_table(spark, graph_dir, "orders").select("o_orderkey", "o_custkey")
    li = load_table(spark, graph_dir, "lineitem").select("l_orderkey", "l_suppkey")
    bpairs = (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .select(F.col("o_custkey").alias("c"), F.col("l_suppkey").alias("s"))
        .distinct()
    )
    t0 = time.perf_counter()
    edges = (
        bpairs.select(
            F.col("c").alias("src"), (F.col("s") + PR_SUPP_OFFSET).alias("dst")
        )
        .unionAll(
            bpairs.select(
                (F.col("s") + PR_SUPP_OFFSET).alias("src"),
                F.col("c").alias("dst"),
            )
        )
        .localCheckpoint()
    )
    edge_build = round(time.perf_counter() - t0, 2)

    nodes = edges.select(F.col("src").alias("node")).distinct()
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg"))
    ed = edges.join(deg, "src")
    n = nodes.count()
    init = PR_SCALE // n
    base = (15 * init) // 100
    pr = nodes.select("node", F.lit(init).alias("pr"))
    prr = {"edge_build_s": edge_build, "iters": []}
    for _ in range(PR_ITERS):
        t0 = time.perf_counter()
        contrib = ed.join(pr.withColumnRenamed("node", "src"), "src").select(
            "dst", F.expr("pr div outdeg").alias("contrib")
        )
        incoming = contrib.groupBy("dst").agg(F.sum("contrib").alias("inc"))
        pr = nodes.join(incoming, nodes.node == incoming.dst, "left").select(
            "node",
            (
                F.lit(base)
                + F.expr("(85 * coalesce(inc, CAST(0 AS BIGINT))) div 100")
            ).alias("pr"),
        ).localCheckpoint()  # probe materializes per iter to TIME it
        prr["iters"].append(round(time.perf_counter() - t0, 2))
    out["pagerank"] = prr

    dist = nodes.where(F.col("node") < BFS_SEED_MAX).select(
        "node", F.lit(0).cast("int").alias("dist")
    ).localCheckpoint()
    bfs = {"edge_build_s": edge_build, "rounds": [], "frontier": []}
    for rnd in range(BFS_ROUNDS):
        t0 = time.perf_counter()
        frontier = dist.where(F.col("dist") == rnd)
        bfs["frontier"].append(frontier.count())
        expanded = (
            frontier.withColumnRenamed("node", "src")
            .join(edges, "src")
            .select(F.col("dst").alias("node"), (F.col("dist") + 1).alias("dist"))
        )
        dist = (
            dist.unionAll(expanded).groupBy("node")
            .agg(F.min("dist").alias("dist"))
            .localCheckpoint()
        )
        bfs["rounds"].append(round(time.perf_counter() - t0, 2))
    out["bfs"] = bfs
    return out


def verify_rung(spark, name: str, sf_dir: str, witness_rep: int = 0) -> bool:
    """witness_rep == 0: run the rung's REGISTERED oracle on sf_dir.
    witness_rep > 0: run the replica witness (x1 closure expanded) —
    sf_dir must be the x<witness_rep> build; the oracle side connects
    to BASE_SF plus a ``sdocs`` view over sf_dir's documents."""
    from verify_local import compare, duck_connect

    spec = all_specs()[name]
    if witness_rep:
        con = duck_connect(BASE_SF)
        d = f"{sf_dir}/documents.parquet"
        if os.path.isdir(d):
            d = f"{d}/*.parquet"
        con.execute(
            f"CREATE VIEW sdocs AS SELECT * FROM read_parquet('{d}')"
        )
        oracle, tag = witness_sql(name, witness_rep), "witness"
    else:
        con = duck_connect(sf_dir)  # handles Spark's multi-file tables
        oracle, tag = spec.oracle, "oracle"
    t0 = time.perf_counter()
    ok = compare(name, spec.fn(spark, sf_dir), con.execute(oracle))[0]
    print(f"  verify {name} [{tag}]: {'PASS' if ok else 'FAIL'} "
          f"({time.perf_counter() - t0:.1f}s)", flush=True)
    from sd2_drp_experimentgen_spark.functions.helpers import (
        release_persisted,
    )

    release_persisted()
    return ok


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--reps", nargs="*", type=int, default=[8, 32])
    ap.add_argument("--rungs", nargs="*", default=DOC_RUNGS + GRAPH_RUNGS)
    ap.add_argument("--verify", action="store_true")
    ap.add_argument(
        "--verify-only", action="store_true",
        help="skip the timing sweep; cross-engine check at max built rep",
    )
    ap.add_argument(
        "--per-round", action="store_true",
        help="per-iteration wall probe for CC/pagerank/BFS at each rep",
    )
    ap.add_argument("--runs", type=int, default=2)
    args = ap.parse_args()

    # The decade-up runs a cluster-sized workload inside ONE JVM; give
    # the study session real heap (overridable) — 16g held to x8 but
    # OOM'd mid-x32 on execution memory + checkpoint-block carryover.
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "24g")
    results: dict[str, dict] = {}
    scales = [1] + [r for r in args.reps if r != 1]
    if args.per_round:
        from sd2_drp_experimentgen_spark.functions.helpers import (
            release_persisted,
        )

        for rep in scales:
            spark = get_spark(
                app_name=f"graph-per-round-x{rep}", shuffle_partitions=32
            )
            doc_dir = BASE_SF if rep == 1 else build_docs(spark, rep)
            graph_dir = BASE_SF if rep == 1 else build_graph(spark, rep)
            # probe twice — cold then warm — and keep the warm pass
            # (same protocol as the rung timings)
            walls = None
            for _ in range(2):
                walls = per_round_walls(spark, doc_dir, graph_dir)
                release_persisted()
            print(f"x{rep} per-round: {json.dumps(walls)}", flush=True)
            results[f"per_round_x{rep}"] = walls
            spark.stop()
        print(json.dumps(results, indent=2))
        return 0

    for rep in scales if not args.verify_only else []:
        # ONE SESSION PER SCALE: a single long session accumulated
        # checkpoint/broadcast blocks across rungs until even 48g hit
        # GCLocker exhaustion mid-x32, and the thrash inflated walls
        # 2x before dying (first x32 sweep) — while every rung passes
        # alone in a fresh 24g session. The fleet-driver analogue is a
        # driver per job, which is also what bench.py and the driver
        # harness do.
        spark = get_spark(
            app_name=f"graph-scale-study-x{rep}", shuffle_partitions=32
        )
        doc_dir = BASE_SF if rep == 1 else None
        graph_dir = BASE_SF if rep == 1 else None
        for name in args.rungs:
            is_doc = name in DOC_RUNGS
            if rep != 1:
                if is_doc and doc_dir is None:
                    doc_dir = build_docs(spark, rep)
                if not is_doc and graph_dir is None:
                    graph_dir = build_graph(spark, rep)
            sf_dir = doc_dir if is_doc else graph_dir
            wall, rows, rounds = run_rung(spark, name, sf_dir, args.runs)
            results.setdefault(name, {})[f"x{rep}"] = {
                "wall_s": wall,
                "rows": rows,
                **({"cc_rounds": rounds} if rounds is not None else {}),
            }
            extra = f" rounds={rounds}" if rounds is not None else ""
            print(f"x{rep} {name}: {wall}s rows={rows}{extra}", flush=True)
        spark.stop()

    if args.verify or args.verify_only:
        spark = get_spark(
            app_name="graph-scale-verify", shuffle_partitions=32
        )
        for name in args.rungs:
            cap = VERIFY_REP_CAP.get(name)
            top = max(scales)
            vrep = min(cap, top) if cap else top
            is_doc = name in DOC_RUNGS
            # full registered oracle at the largest tractable rep
            sf_dir = (
                BASE_SF if vrep == 1
                else (build_docs(spark, vrep) if is_doc
                      else build_graph(spark, vrep))
            )
            print(f"verify {name} at x{vrep} (registered oracle):",
                  flush=True)
            ok = verify_rung(spark, name, sf_dir)
            results.setdefault(name, {})["verify"] = {
                "rep": vrep, "pass": ok,
            }
            # replica witness at the TOP scale for capped rungs
            if cap and top > vrep:
                wdir = (build_docs(spark, top) if is_doc
                        else build_graph(spark, top))
                print(f"verify {name} at x{top} (replica witness):",
                      flush=True)
                okw = verify_rung(spark, name, wdir, witness_rep=top)
                results[name]["verify_witness"] = {
                    "rep": top, "pass": okw,
                }

    print(json.dumps(results, indent=2))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
