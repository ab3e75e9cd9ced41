"""Graph operators — connected components over the near-duplicate pair
graph, the survivor-grouping step of large-scale dedup: candidate pairs
(from exact Jaccard, LSH, or SimHash buckets) form edges; each connected
component is one duplicate group; the minimum doc_id is the canonical
survivor.

Algorithm: distributed min-label propagation with pointer jumping —
each round every node takes the minimum label in its neighborhood
(one join + groupBy), then labels shortcut through themselves
(label(v) <- label(label(v))), giving O(log n) rounds instead of
O(diameter). Each round is pure DataFrame algebra over (node, label)
and (src, dst) relations, ending in one localCheckpoint that truncates
the iterative lineage so plans stay constant-size; the convergence
label sum is observed on that checkpoint job, so the driver never
touches row data and runs no separate convergence scan. This is the
same round structure as the large-star/small-star CC algorithm used at
web scale.
"""

from __future__ import annotations

import os
import time
import weakref

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..plans.registry import register
from ..sources.tables import load_table

MAX_ROUNDS = 25

# Per-session shared builds (VERDICT r11 item 4 / r12 item 2): keyed
# (sf_dir, backing-file mtimes) under a session weak-key, mirroring
# sources/tables._RELATION_CACHE's invalidation discipline.
_ND_PAIRS_CACHE: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()
_BIP_EDGES_CACHE: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()
_CC_LABELS_CACHE: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()


def _shared_persisted(
    spark: SparkSession,
    sf_dir: str,
    cache: weakref.WeakKeyDictionary,
    files: tuple[str, ...],
    build,
    checkpoint: bool = False,
    build_checkpoints: bool = False,
    wrap=None,
) -> DataFrame:
    """One live materialized build per (session, sf_dir, backing-file
    mtimes). Lifecycle obeys the r9 generation contract: every reuse
    re-stamps the frame (touch_persisted) so a burst of consumers
    builds ONCE while an idle cache still releases one harness
    boundary after its last use; a superseded entry (mtime bump) is
    released EXPLICITLY at eviction (ADVICE r12 — dropping the handle
    alone would leave the stale frame in executor storage until the
    next release_persisted sweep).

    Materialization is measured per consumer family: persist
    (columnar cache) for scan-once-per-query relations like nd_pairs;
    ``checkpoint=True`` (localCheckpoint + tracker registration) for
    iterative consumers — the r11 and r13 studies both timed
    per-iteration recompute from the checkpointed RDD well ahead of
    an InMemoryTableScan (r13 sf0.1 pagerank: 3.6 s vs 6.2 s), and a
    released checkpoint's blocks free via the ContextCleaner once the
    evicted reference drops."""
    from ..functions.helpers import (
        release_tracked,
        touch_persisted,
        track_materialized,
        tracked_persist,
    )

    try:
        mtime = tuple(
            os.stat(os.path.join(sf_dir, f)).st_mtime_ns for f in files
        )
    except OSError:
        mtime = None
    key = (sf_dir, mtime)
    per = cache.setdefault(spark, {})
    # The memo holds the frame WEAKLY: the tracker's registration is
    # the only strong reference, so when release_persisted() (or a
    # generation sweep) unregisters the frame, the last reference
    # drops and the blocks free via GC/ContextCleaner — a released
    # localCheckpoint would otherwise stay pinned for the whole
    # session, since DataFrame.unpersist() is a no-op on it and the
    # old strong memo kept it alive (r13 review finding: the ADVICE
    # r12 leak, reappearing on the harness-sweep path).
    def _out(core: DataFrame) -> DataFrame:
        if wrap is None:
            return core
        view = wrap(core)
        # the tracked MATERIALIZED frame, exposed so lifecycle tests
        # (and any consumer that needs it) can observe sharing and
        # release through the wrapper
        view._sd2drp_core = core  # noqa: SLF001
        return view

    ref = per.get(key)
    df = ref() if ref is not None else None
    if df is not None and touch_persisted(df):
        return _out(df)
    if build_checkpoints:
        # the builder's own loop already localCheckpoints the frame it
        # returns (cc_labels' last jumped round) — re-checkpointing it
        # here ran one extra full job over the labels per build
        # (ADVICE r14 item 2); just register the existing blocks
        df = track_materialized(build())
    elif checkpoint:
        df = track_materialized(build().localCheckpoint())
    else:
        df = tracked_persist(build())
    for stale_ref in per.values():
        stale = stale_ref()
        if stale is not None:
            release_tracked(stale)
    per.clear()
    per[key] = weakref.ref(df)
    # ``wrap`` derives the consumer-facing frame LAZILY from the
    # materialized core (r14: the bipartite edge build checkpoints only
    # the one-direction pair list and mirrors it per scan — half the
    # materialized rows; guide §2.3's shuffle-fewer-bytes applied to
    # the checkpoint). The memo holds the tracked core so touch/release
    # lifecycle is unchanged.
    return _out(df)


def nd_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The J>=0.6 near-dup pair relation (id_lo, id_hi) — THE edge
    build shared by q_dedup_components / q_dedup_cluster_stats /
    q_dedup_survivor_quality / q_graph_triangle_count. The r11 scale
    study measured edge construction at ~80% of CC wall at x32
    (43.9 s of 54 s of a components run), and each of the four
    consumers used to rebuild it from scratch; one tracked_persist'ed
    build per (session, corpus) now serves a whole sweep. Lifecycle
    and eviction: see _shared_persisted."""

    def build() -> DataFrame:
        from .text import q_neardup_jaccard

        return q_neardup_jaccard(spark, sf_dir).select("id_lo", "id_hi")

    return _shared_persisted(
        spark, sf_dir, _ND_PAIRS_CACHE, ("documents.parquet",), build
    )


def bipartite_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The customer<->supplier bipartite edge list induced by
    lineitems — THE edge build shared by q_graph_pagerank and
    q_graph_bfs_hops (VERDICT r12 item 2: the two most expensive
    headline queries each rebuilt the same o⋈li + distinct + union
    from scratch). Supplier ids live at +PR_SUPP_OFFSET so the node id
    spaces never collide. r14 (guide §2.3): only the ONE-DIRECTION
    distinct (c, s) pair list is materialized as the shared
    localCheckpoint — half the rows and bytes of the r13 symmetric
    form — and the undirected mirror is derived lazily per scan (two
    whole-stage-codegen passes over the in-memory pair RDD, measured
    cheaper than checkpointing 2x the rows: pagerank 3.46→2.67 s,
    BFS 3.74→2.74 s in-session A/B at sf0.1, bit-identical output).
    Lifecycle under tracked/touch/evict as before (checkpoint=True —
    iterative consumers re-scan it 5+ times per query, where the
    checkpointed RDD beats a columnar persist, r13 measured); a
    released entry rebuilds transparently."""

    def build() -> DataFrame:
        o = load_table(spark, sf_dir, "orders").select(
            "o_orderkey", "o_custkey"
        )
        li = load_table(spark, sf_dir, "lineitem").select(
            "l_orderkey", "l_suppkey"
        )
        return (
            o.join(li, o.o_orderkey == li.l_orderkey)
            .select(
                F.col("o_custkey").alias("c"), F.col("l_suppkey").alias("s")
            )
            .distinct()
        )

    def mirror(pairs: DataFrame) -> DataFrame:
        return pairs.select(
            F.col("c").alias("src"), (F.col("s") + PR_SUPP_OFFSET).alias("dst")
        ).unionAll(
            pairs.select(
                (F.col("s") + PR_SUPP_OFFSET).alias("src"),
                F.col("c").alias("dst"),
            )
        )

    return _shared_persisted(
        spark,
        sf_dir,
        _BIP_EDGES_CACHE,
        ("orders.parquet", "lineitem.parquet"),
        build,
        checkpoint=True,
        wrap=mirror,
    )

# The same near-dup pair relation as q_neardup_jaccard's oracle,
# reused as the edge list of the recursive-closure oracle below.
_PAIRS_SQL = """
    WITH dt AS (
      SELECT DISTINCT doc_id, source, token
      FROM (SELECT doc_id, source, unnest(string_split(text, ' ')) AS token
            FROM documents)
    ), sizes AS (
      SELECT doc_id, count(*) AS n_tok FROM dt GROUP BY doc_id
    ), inter AS (
      SELECT a.doc_id AS id_lo, b.doc_id AS id_hi, count(*) AS n_inter
      FROM dt a JOIN dt b
        ON a.token = b.token AND a.source = b.source
       AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    )
    SELECT id_lo, id_hi
    FROM inter
    JOIN sizes sa ON sa.doc_id = id_lo
    JOIN sizes sb ON sb.doc_id = id_hi
    WHERE CAST(n_inter AS DOUBLE) / (sa.n_tok + sb.n_tok - n_inter) >= 0.6
"""


@register(
    "q_dedup_components",
    oracle=f"""
    WITH RECURSIVE pairs AS ({_PAIRS_SQL}),
    edges AS (
      SELECT id_lo AS src, id_hi AS dst FROM pairs
      UNION ALL
      SELECT id_hi, id_lo FROM pairs
    ),
    reach(src, dst) AS (
      SELECT doc_id, doc_id FROM documents
      UNION
      SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
    )
    SELECT src AS doc_id,
           CAST(min(dst) AS BIGINT) AS component_id,
           CASE WHEN min(dst) = src THEN 1 ELSE 0 END AS is_survivor
    FROM reach
    GROUP BY src
    """,
    tier="P1",
    doc="Connected components over the J>=0.6 near-dup pair graph "
    "(q_neardup_jaccard's edges): every document labeled with the "
    "minimum doc_id reachable from it — its duplicate group — plus "
    "the survivor flag. Distributed min-label propagation with "
    "pointer jumping, O(log n) rounds of join+groupBy; the DuckDB "
    "oracle computes the same closure with a recursive CTE. At "
    "100 TB this grouping step is what turns pairwise candidates "
    "into dedup decisions; labels (two longs) are all that shuffles.",
)
def q_dedup_components(
    spark: SparkSession, sf_dir: str, _telemetry: dict | None = None
) -> DataFrame:
    labels = cc_labels(spark, sf_dir, _telemetry)
    return labels.select(
        F.col("node").alias("doc_id"),
        F.col("label").alias("component_id"),
        F.when(F.col("node") == F.col("label"), 1).otherwise(0).alias(
            "is_survivor"
        ),
    )


def cc_labels(
    spark: SparkSession, sf_dir: str, _telemetry: dict | None = None
) -> DataFrame:
    """The CONVERGED (node, label) min-label fixpoint over the J>=0.6
    near-dup graph — the dedup DECISION relation consumed by
    q_dedup_components / q_dedup_cluster_stats /
    q_dedup_survivor_quality. One tracked build per (session, corpus)
    serves all three consumers (share the fixpoint, not just the
    edges); the iteration is min_label_fixpoint, the loop
    q_emb_dedup_pipeline runs on its embedding edges. A _telemetry
    probe always runs a FRESH build (the scale studies count rounds,
    which a cache hit would hide). Lifecycle/eviction:
    _shared_persisted — release_persisted() drops it, the next
    consumer rebuilds, so every bench/driver timed run that releases
    between runs still pays the full iteration."""

    def build() -> DataFrame:
        docs = load_table(spark, sf_dir, "documents")
        return min_label_fixpoint(
            docs.select(F.col("doc_id").alias("node")),
            nd_pairs(spark, sf_dir),
            _telemetry,
        )

    if _telemetry is not None:
        return build()
    return _shared_persisted(
        spark,
        sf_dir,
        _CC_LABELS_CACHE,
        ("documents.parquet",),
        build,
        build_checkpoints=True,
    )


def _checkpoint_label_sum(labels: DataFrame) -> tuple[DataFrame, object]:
    """localCheckpoint ``labels`` and return it with the exact
    decimal(38,0) sum of its labels (None when it has no rows),
    observed on the checkpoint job itself: no separate aggregate
    action. The metric is read from the observed query's own
    QueryExecution rather than through a pyspark Observation, which
    would attach a non-serializable ObservationManager to the caller's
    session and break later MLlib closures on it (the hazard
    q_observe_metrics isolates with a throwaway session)."""
    observed = labels.observe(
        "label_sum", F.sum(F.col("label").cast("decimal(38,0)"))
    )
    checkpointed = observed.localCheckpoint()
    metrics = observed._jdf.queryExecution().observedMetrics()
    return checkpointed, metrics.apply("label_sum").get(0)


def min_label_fixpoint(
    nodes: DataFrame, pairs: DataFrame, _telemetry: dict | None = None
) -> DataFrame:
    """Connected components of the undirected graph on ``nodes``
    (column ``node``) with edges ``pairs`` (id_lo, id_hi): the
    localCheckpointed (node, label) relation, label = the minimum node
    id of the node's component. Shared by cc_labels and
    q_emb_dedup_pipeline.

    Each round: propagate (min label over the closed neighborhood, one
    join + groupBy), then pointer-jump (label(v) <- label(label(v))),
    so rounds are O(log n), not O(diameter). The symmetric edge list is
    checkpointed once, repartitioned on the loop's join key with no
    partition count: AQE coalesces it by advisory bytes, so a small
    graph runs few-partition stages and a large one keeps the shuffle
    width its bytes need.

    Convergence: labels are MONOTONE NON-INCREASING per node (the min
    is over a set containing the node's own label; jumping replaces a
    label by the label of a smaller-or-equal node), so the exact sum of
    all labels strictly decreases until the fixpoint — sum unchanged
    iff no label changed. The sum is observed on each round's
    checkpoint job; decimal(38,0) because replica studies and 100 TB
    corpora push an int64 sum past its headroom. An edgeless graph
    converges after one round (None == None). Rounds, per-round walls
    and the edge checkpoint's partition count go to the CALLER'S
    ``_telemetry`` dict, never module state."""
    edges = (
        pairs.selectExpr(
            "inline(array(named_struct('src', id_lo, 'dst', id_hi),"
            " named_struct('src', id_hi, 'dst', id_lo)))"
        )
        .repartition("dst")
        .localCheckpoint()
    )
    if _telemetry is not None:
        _telemetry["edge_partitions"] = edges.rdd.getNumPartitions()
    labels, prev_sum = _checkpoint_label_sum(
        nodes.select("node", F.col("node").alias("label"))
    )
    for rnd in range(MAX_ROUNDS):
        t0 = time.perf_counter()
        # propagate: min label over the closed neighborhood
        neighbor = edges.join(labels, edges.dst == labels.node).select(
            F.col("src").alias("node"), "label"
        )
        propagated = (
            labels.unionAll(neighbor)
            .groupBy("node")
            .agg(F.min("label").alias("label"))
        )
        # pointer jumping: label(v) <- label(label(v))
        l2 = propagated.select(
            F.col("node").alias("jnode"), F.col("label").alias("jlabel")
        )
        labels, new_sum = _checkpoint_label_sum(
            propagated.join(l2, propagated.label == l2.jnode).select(
                "node", F.col("jlabel").alias("label")
            )
        )
        if _telemetry is not None:
            _telemetry["rounds"] = rnd + 1
            _telemetry.setdefault("round_s", []).append(
                round(time.perf_counter() - t0, 3)
            )
        if new_sum == prev_sum:
            break
        prev_sum = new_sum
    return labels


# PageRank in integer micro-units. Float PageRank cannot hash-check
# across engines (per-node neighbor sums are order-dependent float
# adds that drift over iterations); keeping all mass in BIGINT
# micro-units makes every step exact: integer SUM is associative-
# commutative-exact, and x DIV y is identical on both engines for
# non-negative operands. The cost is deliberate mass leakage (floor at
# each division), which is fine — PageRank consumers use the ranking,
# and the leakage is deterministic.
PR_SCALE = 1_000_000_000_000  # total rank mass in micro-units
PR_SUPP_OFFSET = 1_000_000_000  # supplier node-id namespace offset
PR_ITERS = 3

_PR_EDGES_SQL = f"""
    pairs AS (
      SELECT DISTINCT o_custkey AS c, l_suppkey AS s
      FROM orders JOIN lineitem ON l_orderkey = o_orderkey
    ),
    edges AS (
      SELECT c AS src, s + {PR_SUPP_OFFSET} AS dst FROM pairs
      UNION ALL
      SELECT s + {PR_SUPP_OFFSET}, c FROM pairs
    ),
    nodes AS (SELECT DISTINCT src AS node FROM edges),
    deg AS (SELECT src AS node, count(*) AS outdeg FROM edges GROUP BY src),
    nn AS (SELECT count(*) AS n FROM nodes)
"""


def _pr_iter_sql(prev: str, out: str) -> str:
    """One unrolled PageRank round: pr'(v) = 15%*base + 85%*incoming,
    all in integer micro-units (DuckDB // = floor division)."""
    return f"""
    {out} AS (
      SELECT nd.node,
             (15 * ({PR_SCALE} // mx.n)) // 100
               + (85 * COALESCE(inc.s, 0)) // 100 AS pr
      FROM nodes nd CROSS JOIN nn mx
      LEFT JOIN (
        SELECT e.dst AS node, SUM(p.pr // dg.outdeg) AS s
        FROM edges e
        JOIN {prev} p ON p.node = e.src
        JOIN deg dg ON dg.node = e.src
        GROUP BY e.dst
      ) inc ON inc.node = nd.node
    )"""


@register(
    "q_graph_pagerank",
    oracle=f"""
    WITH {_PR_EDGES_SQL},
    pr0 AS (SELECT node, {PR_SCALE} // n AS pr FROM nodes CROSS JOIN nn),
    {_pr_iter_sql('pr0', 'pr1')},
    {_pr_iter_sql('pr1', 'pr2')},
    {_pr_iter_sql('pr2', 'pr3')}
    SELECT node, CAST(pr AS BIGINT) AS pr FROM pr3
    """,
    tier="P1",
    doc="Iterative distributed PageRank (3 rounds, damping 0.85) over "
    "the bipartite customer<->supplier graph induced by lineitems, "
    "hash-checked: all rank mass lives in BIGINT micro-units so every "
    "sum is order-independent and the DuckDB oracle (iterations "
    "unrolled as CTEs) reproduces it bit-for-bit — the pattern that "
    "makes iterative algorithms oracle-verifiable at all. Each round "
    "is one join (ranks to edges, shuffled on src) + one groupBy(dst) "
    "— the oracle's per-round left join back to nodes is provably "
    "redundant on this symmetric edge list (every node has indegree "
    ">= 1) and is elided: shuffles move (node, rank) pairs, "
    "never adjacency lists. At 100 TB: materialize the edge list once "
    "(shared with BFS via bipartite_edges — a localCheckpoint here, "
    "measured ahead of a columnar persist for iterative re-scans) so "
    "the per-round join co-locates, exactly like q_dedup_components' "
    "label propagation.",
)
def q_graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    # r13: edge list shared with q_graph_bfs_hops via ONE build per
    # (session, corpus) — bipartite_edges (VERDICT r12 item 2),
    # materialized as a shared localCheckpoint (measured faster than
    # a columnar persist for these iterative consumers), which also
    # keeps the lineage truncation this query's own localCheckpoint
    # used to provide.
    edges = bipartite_edges(spark, sf_dir)
    nodes = edges.select(F.col("src").alias("node")).distinct()
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg"))
    # (src, dst, outdeg) re-derived per iteration FROM THE CHECKPOINTED
    # edge list — measured choice, not an oversight: the r11 x8
    # variant study (SCALE.md round 11) timed this form at 8.2 s warm
    # vs 9.3 s with the join tracked-persisted and 11.7 s with it
    # localCheckpointed; the r13 sharing rewrite re-confirmed it at
    # sf0.1 (pagerank 3.6 s over the shared checkpoint vs 6.2 s over
    # a shared columnar persist), so bipartite_edges materializes as
    # a localCheckpoint and recompute runs from the in-memory edge
    # RDD through whole-stage codegen.
    ed = edges.join(deg, "src")

    n = nodes.count()  # scalar only, like the CC convergence check
    init = PR_SCALE // n
    base = (15 * init) // 100

    pr = nodes.select("node", F.lit(init).alias("pr"))
    for _ in range(PR_ITERS):
        contrib = ed.join(
            pr.withColumnRenamed("node", "src"), "src"
        ).select("dst", F.expr("pr div outdeg").alias("contrib"))
        incoming = contrib.groupBy("dst").agg(F.sum("contrib").alias("inc"))
        # r14 (guide §2.4, remove shuffles outright): the oracle's
        # per-round LEFT JOIN back to nodes is redundant HERE — the
        # edge list is the symmetric union of both directions, so
        # distinct dst == distinct src == nodes and every node has
        # indegree >= 1; groupBy(dst) therefore already emits exactly
        # the node set and the coalesce(inc, 0) arm is dead. Dropping
        # the three per-iteration node joins measured 3.46 → 2.93 s
        # in-session at sf0.1, output bit-identical (and the oracle's
        # LEFT JOIN returns the same rows for the same reason).
        pr = incoming.select(
            F.col("dst").alias("node"),
            (F.lit(base) + F.expr("(85 * inc) div 100")).alias("pr"),
        )
    return pr


@register(
    "q_dedup_cluster_stats",
    oracle=f"""
    WITH RECURSIVE pairs AS ({_PAIRS_SQL}),
    edges AS (
      SELECT id_lo AS src, id_hi AS dst FROM pairs
      UNION ALL
      SELECT id_hi, id_lo FROM pairs
    ),
    reach(src, dst) AS (
      SELECT doc_id, doc_id FROM documents
      UNION
      SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
    ),
    labels AS (
      SELECT src AS doc_id, CAST(min(dst) AS BIGINT) AS component_id
      FROM reach GROUP BY src
    )
    SELECT component_id,
           count(*) AS n_docs,
           CAST(count(*) - 1 AS BIGINT) AS n_removed,
           CAST(sum(d.n_chars) AS BIGINT) AS chars_total,
           CAST(sum(CASE WHEN l.doc_id <> l.component_id
                         THEN d.n_chars ELSE 0 END) AS BIGINT)
             AS chars_removed
    FROM labels l JOIN documents d ON d.doc_id = l.doc_id
    GROUP BY component_id
    HAVING count(*) >= 2
    """,
    tier="P1",
    doc="The dedup DECISION output — what a 100 TB dedup pass "
    "actually deletes: near-dup pairs (J>=0.6) grouped into "
    "connected components (q_dedup_components' min-label "
    "propagation), then rolled up per duplicate CLUSTER: canonical "
    "survivor id, cluster size, docs removed, and exact bytes kept "
    "vs reclaimed (the dedup-savings report). Everything after the "
    "pair graph is one join + one groupBy over (doc_id, label, "
    "n_chars) triples; the oracle recomputes the closure with a "
    "recursive CTE. Singleton docs never appear — the report is "
    "exactly the clusters where a deletion decision exists.",
)
def q_dedup_cluster_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    labels = q_dedup_components(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    j = labels.join(docs, "doc_id")
    return (
        j.groupBy("component_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            (F.count(F.lit(1)) - 1).cast("long").alias("n_removed"),
            F.sum("n_chars").alias("chars_total"),
            F.sum(
                F.when(
                    F.col("doc_id") != F.col("component_id"), F.col("n_chars")
                ).otherwise(0)
            ).alias("chars_removed"),
        )
        .where(F.col("n_docs") >= 2)
    )


BFS_SEED_MAX = 10  # seed set: customer nodes with custkey < 10
BFS_ROUNDS = 3


def _bfs_round_sql(prev: str, out: str) -> str:
    """One unrolled BFS frontier round: dist'(v) = min(dist(v),
    min over in-neighbors u of dist(u) + 1) — pure integer min-agg."""
    return f"""
    {out} AS (
      SELECT node, min(dist) AS dist FROM (
        SELECT node, dist FROM {prev}
        UNION ALL
        SELECT e.dst AS node, d.dist + 1 AS dist
        FROM {prev} d JOIN edges e ON e.src = d.node
      ) GROUP BY node
    )"""


@register(
    "q_graph_bfs_hops",
    oracle=f"""
    WITH {_PR_EDGES_SQL},
    d0 AS (
      SELECT node, 0 AS dist FROM nodes WHERE node < {BFS_SEED_MAX}
    ),
    {_bfs_round_sql('d0', 'd1')},
    {_bfs_round_sql('d1', 'd2')},
    {_bfs_round_sql('d2', 'd3')}
    SELECT node, CAST(dist AS BIGINT) AS dist FROM d3
    """,
    tier="P1",
    doc="Multi-source BFS (bounded-hop shortest paths) over the "
    "bipartite customer<->supplier graph — the reachability twin of "
    "q_graph_pagerank and the third iterative-graph rung next to "
    "min-label components: seeds are the customer nodes with id < "
    f"{BFS_SEED_MAX}; {BFS_ROUNDS} frontier-expansion rounds, each "
    "ONE join (frontier to edges, shuffled on src) + ONE min-groupBy "
    "— the exact round structure of Pregel-style BFS, where only "
    "(node, dist) pairs ever shuffle. All arithmetic is integer "
    "min/+1, so the unrolled-CTE oracle reproduces the distances "
    "bit-for-bit. At 100 TB the frontier join co-partitions with the "
    "(localCheckpoint-truncated) edge list and each round's shuffle "
    "volume is bounded by the reached-set size, not the graph.",
)
def q_graph_bfs_hops(spark: SparkSession, sf_dir: str) -> DataFrame:
    # r13: shared persisted edge build (see q_graph_pagerank).
    edges = bipartite_edges(spark, sf_dir)
    nodes = edges.select(F.col("src").alias("node")).distinct()
    dist = nodes.where(F.col("node") < BFS_SEED_MAX).select(
        "node", F.lit(0).cast("int").alias("dist")
    ).localCheckpoint()
    # Frontier-only expansion (fixed after the x8 graph scale study):
    # the r1-r10 form expanded the ENTIRE reached set every round and
    # never checkpointed, so the unrolled plan re-derived every prior
    # round per reference — ~2^k subtree duplication, visible as
    # repeated seed-filter scans in the executed plan. Pregel BFS
    # expands only the nodes FIRST REACHED last round (dist == k-1,
    # identical distances for unweighted graphs: any node reachable in
    # <= k hops is reached via a node first reached at k-1), and the
    # per-round localCheckpoint truncates lineage AND hands AQE an
    # exact frontier size, so the frontier side of the join broadcasts
    # instead of shuffling the k-fold edge list (measured: the x8 SMJ
    # re-exchanged all edges every round). Per-round work is now
    # frontier-degree-bounded, not graph-bounded.
    for rnd in range(BFS_ROUNDS):
        frontier = dist.where(F.col("dist") == rnd)
        expanded = (
            frontier.withColumnRenamed("node", "src")
            .join(edges, "src")
            .select(F.col("dst").alias("node"), (F.col("dist") + 1).alias("dist"))
        )
        dist = (
            dist.unionAll(expanded)
            .groupBy("node")
            .agg(F.min("dist").alias("dist"))
        )
        if rnd + 1 < BFS_ROUNDS:
            # truncate lineage between rounds; the LAST round stays
            # lazy so the returned plan carries the frontier join +
            # min-groupBy (CI plan-shape guard) and the caller's
            # action pays one materialization fewer
            dist = dist.localCheckpoint()
    return dist.select("node", F.col("dist").cast("long").alias("dist"))


@register(
    "q_dedup_survivor_quality",
    oracle=f"""
    WITH RECURSIVE pairs AS ({_PAIRS_SQL}),
    edges AS (
      SELECT id_lo AS src, id_hi AS dst FROM pairs
      UNION ALL
      SELECT id_hi, id_lo FROM pairs
    ),
    reach(src, dst) AS (
      SELECT doc_id, doc_id FROM documents
      UNION
      SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
    ),
    labels AS (
      SELECT src AS doc_id, min(dst) AS component_id
      FROM reach GROUP BY src
    ),
    scored AS (
      SELECT l.component_id, d.doc_id,
             CASE WHEN d.n_chars BETWEEN 100 AND 1000
                  THEN d.n_chars ELSE d.n_chars // 10 END AS score
      FROM labels l JOIN documents d ON d.doc_id = l.doc_id
    )
    SELECT component_id,
           count(*) AS n_docs,
           CAST(arg_max(doc_id, score * 1000000000000 - doc_id)
                AS BIGINT) AS survivor_id,
           CAST(max(score) AS BIGINT) AS survivor_score,
           CASE WHEN arg_max(doc_id, score * 1000000000000 - doc_id)
                     <> component_id
                THEN 1 ELSE 0 END AS policy_changed
    FROM scored
    GROUP BY component_id
    HAVING count(*) >= 2
    """,
    tier="P1",
    doc="Quality-based survivor selection — the curation policy rung "
    "above q_dedup_components' min-id convention: within each near-"
    "dup cluster, KEEP THE BEST document (an integer quality score — "
    "in-band length, penalized out-of-band) instead of the lowest id, "
    "via max_by over the composite integer key score*1e12 - doc_id "
    "(max score, ties to the LOWEST id — the key is unique per doc, "
    "so both engines' argmax agree bit-for-bit; at corpus scales "
    "where doc_id approaches 1e12 the key widens or splits into a "
    "struct ordering). policy_changed flags clusters where quality "
    "picks a different survivor than min-id — the delta a curation "
    "team reviews before switching policies. One join + one groupBy "
    "past the component labels; at 100 TB survivor selection is a "
    "decomposable argmax, partial-aggregated map-side like any sum.",
)
def q_dedup_survivor_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    labels = q_dedup_components(spark, sf_dir).select("doc_id", "component_id")
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    score = F.when(
        F.col("n_chars").between(100, 1000), F.col("n_chars")
    ).otherwise(F.expr("n_chars div 10"))
    j = labels.join(docs, "doc_id").withColumn("score", score)
    key = F.col("score") * F.lit(1_000_000_000_000) - F.col("doc_id")
    return (
        j.groupBy("component_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.max_by("doc_id", key).cast("long").alias("survivor_id"),
            F.max("score").cast("long").alias("survivor_score"),
        )
        .where(F.col("n_docs") >= 2)
        .select(
            "component_id",
            "n_docs",
            "survivor_id",
            "survivor_score",
            (F.col("survivor_id") != F.col("component_id"))
            .cast("int")
            .alias("policy_changed"),
        )
    )


# Triangle work budget c. Per edge (x, y) the kernel intersects out(x)
# and out(y), so the total work is Σ_v deg(v)·|out(v)|. The gate keeps
# the id order while Σ |out(v)|² <= c·|E|: then no out-list is longer
# than √(c·|E|), and the total work stays under |E|·(c + √(c·|E|)).
# Past the budget the degree order caps every out-list at √(2|E|)
# (total work under 2|E|·√(2|E|)), at the price of a degree join the
# id order does not pay. Measured on 4 cores, local[4] (SCALE.md,
# last section; `tools/ladder.py synthetic`): the sf0.1 near-dup pair
# graph reads Σout²/|E| = 120 and runs 4.7 s in id order against 6.9 s
# in degree order; a low-id hub of 16,384 edges over a 600k-edge
# lattice reads 438, where degree order is already ahead (4.8 s
# against 5.1 s) and the id order's hub work grows as the square of
# its degree.
TRI_WORK_PER_EDGE = 256
# Broadcast bound on |E| for the out-list table. One broadcast serves
# both joins (ReusedExchange). Its hashed relation measured ~12 bytes
# per edge at sf0.1 (4.0 MiB for 353,929 edges in 4,322 lists) and
# ~31 on a 3-out lattice (17.5 MiB for 599,990 edges in 199,999
# lists), so 8M edges stay near 100 MB on pair-graph lists and under
# 256 MB on the shortest measured ones. Past it both joins shuffle.
TRI_ADJ_BROADCAST_EDGES = 8_000_000


def degree_oriented_edges(e: DataFrame) -> DataFrame:
    """(src, dst): each undirected (id_lo, id_hi) edge oriented from
    the lower to the higher endpoint in the (degree, id) total order.
    A node's out-list then holds only neighbours of at least its own
    degree, so no out-list is longer than √(2|E|): the order
    triangle_counts switches to when the id order's out-lists are too
    skewed."""
    deg = (
        e.select(F.col("id_lo").alias("v"))
        .unionAll(e.select(F.col("id_hi").alias("v")))
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    el = e.join(
        deg.select(F.col("v").alias("id_lo"), F.col("deg").alias("dlo")),
        "id_lo",
    ).join(
        deg.select(F.col("v").alias("id_hi"), F.col("deg").alias("dhi")),
        "id_hi",
    )
    lo_first = (F.col("dlo") < F.col("dhi")) | (
        (F.col("dlo") == F.col("dhi")) & (F.col("id_lo") < F.col("id_hi"))
    )
    return el.select(
        F.when(lo_first, F.col("id_lo")).otherwise(F.col("id_hi")).alias("src"),
        F.when(lo_first, F.col("id_hi")).otherwise(F.col("id_lo")).alias("dst"),
    )


def triangle_work_ratio(e: DataFrame) -> tuple[float, int]:
    """(Σ |out(v)|² / |E|, |E|) over the id-ordered out-degrees of the
    undirected pairs ``e``: the one count-only gate aggregate of
    triangle_counts, run before any adjacency array exists."""
    st = (
        e.groupBy("id_lo")
        .agg(F.count(F.lit(1)).alias("n"))
        .agg(F.sum(F.col("n") * F.col("n")).alias("w"), F.sum("n").alias("ne"))
        .first()
    )
    n_edges = st["ne"] or 0
    return (st["w"] or 0) / max(n_edges, 1), n_edges


def triangle_counts(
    e: DataFrame,
    work_per_edge: float = TRI_WORK_PER_EDGE,
    broadcast_edges: int = TRI_ADJ_BROADCAST_EDGES,
) -> DataFrame:
    """Per-node triangle counts (doc_id, n_triangles) over the
    undirected pairs ``e`` (id_lo < id_hi), by per-edge adjacency
    intersection. Under a total order let out(v) be v's neighbours
    that come after v. A triangle is counted exactly once: at the edge
    joining its two earliest corners, whose out-lists both hold the
    third corner. The order is id order while triangle_work_ratio is
    at most ``work_per_edge``, else (degree, id) order (see
    TRI_WORK_PER_EDGE). The out-lists are grouped once and
    checkpointed, then joined to every edge on both endpoints. Each
    edge's corners explode as one concat (the third corners, b×|∩|,
    c×|∩|): 3·T rows for T triangles."""
    ratio, n_edges = triangle_work_ratio(e)
    fwd = (
        degree_oriented_edges(e)
        if ratio > work_per_edge
        else e.select(F.col("id_lo").alias("src"), F.col("id_hi").alias("dst"))
    )
    adj = (
        fwd.groupBy("src")
        .agg(F.collect_list("dst").alias("nbrs"))
        .localCheckpoint()
    )
    if n_edges <= broadcast_edges:
        adj = F.broadcast(adj)
    x, y = adj.alias("x"), adj.alias("y")
    cs = (
        e.join(x, F.col("id_lo") == F.col("x.src"))
        .join(y, F.col("id_hi") == F.col("y.src"))
        .select(
            F.col("id_lo").alias("b"),
            F.col("id_hi").alias("c"),
            F.array_intersect("x.nbrs", "y.nbrs").alias("cs"),
        )
    )
    corners = cs.where(F.size("cs") > 0).select(
        F.explode(
            F.expr(
                "concat(cs, array_repeat(b, size(cs)), "
                "array_repeat(c, size(cs)))"
            )
        ).alias("doc_id")
    )
    return corners.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_triangles")
    )


@register(
    "q_graph_triangle_count",
    oracle=f"""
    WITH pairs AS ({_PAIRS_SQL}),
    tri AS (
      SELECT e1.id_lo AS a, e1.id_hi AS b, e2.id_hi AS c
      FROM pairs e1
      JOIN pairs e2 ON e2.id_lo = e1.id_lo AND e2.id_hi > e1.id_hi
      JOIN pairs e3 ON e3.id_lo = e1.id_hi AND e3.id_hi = e2.id_hi
    ),
    member AS (
      SELECT a AS doc_id FROM tri
      UNION ALL SELECT b FROM tri
      UNION ALL SELECT c FROM tri
    )
    SELECT doc_id, CAST(count(*) AS BIGINT) AS n_triangles
    FROM member GROUP BY doc_id
    """,
    tier="P1",
    doc="Triangle counting over the J>=0.6 near-dup pair graph — the "
    "transitivity diagnostic of a dedup candidate set: a true "
    "duplicate CLUSTER is near-clique (many triangles), while a "
    "chain of borderline pairs has none, so per-document triangle "
    "participation separates solid dup groups from transitive-"
    "closure accidents before any survivor decision. Algorithm: "
    "per-edge adjacency intersection. Under a total order each node's "
    "out-list holds its later neighbours; every edge intersects its "
    "two endpoints' out-lists, so each triangle is counted once, at "
    "the edge joining its two earliest corners, and its three corners "
    "explode into one groupBy. One count-only gate aggregate picks the "
    "order: id order while the out-degrees satisfy Σ out² <= "
    "c·|E| (no list longer than √(c·|E|)), else (degree, id) order "
    "(no list longer than √(2|E|)), so a hub or an in-star never "
    "builds an unbounded array. The adjacency table is one broadcast "
    "reused by both joins up to TRI_ADJ_BROADCAST_EDGES, shuffled "
    "joins past it. Edges (two longs) are all that shuffles; the "
    "candidate pairs reuse q_neardup_jaccard's prefix-filtered build "
    "via the shared nd_pairs.",
)
def q_graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    return triangle_counts(nd_pairs(spark, sf_dir))


@register(
    "q_graph_common_neighbors",
    oracle="""
    WITH e AS (SELECT DISTINCT user_id, event_type FROM events),
    deg AS (
      SELECT event_type, CAST(count(*) AS BIGINT) AS n_users
      FROM e GROUP BY event_type
    ),
    p AS (
      SELECT a.event_type AS type_a, b.event_type AS type_b,
             CAST(count(*) AS BIGINT) AS common_users
      FROM e a JOIN e b
        ON a.user_id = b.user_id AND a.event_type < b.event_type
      GROUP BY 1, 2
    )
    SELECT type_a, type_b, common_users,
           da.n_users AS n_users_a, db.n_users AS n_users_b,
           floor(CAST(common_users AS DOUBLE)
                 / (da.n_users + db.n_users - common_users)
                 * 10000 + 0.5) / 10000 AS jaccard
    FROM p
    JOIN deg da ON da.event_type = p.type_a
    JOIN deg db ON db.event_type = p.type_b
    ORDER BY type_a, type_b
    """,
    tier="P1",
    doc="Common-neighbor link prediction over the bipartite "
    "user/event-type graph: for every unordered pair of event "
    "types, the count of users touching both and the Jaccard "
    "similarity of their user sets — the co-occurrence/'users who "
    "did A also did B' affinity matrix behind recommendation and "
    "taxonomy-merge decisions. Plan: DISTINCT edge projection, "
    "self-join on user_id (per-user pair fan-out is deg(u) choose "
    "2, bounded by |types|=5 here), groupBy pair, then the "
    "KB-sized degree table broadcast twice for the Jaccard "
    "denominator. Exact int64 counts; one IEEE divide rounded "
    "4dp. At 100 TB the guard is the per-user degree cap "
    "(drop/clip users touching >K types before the self-join — "
    "the q_link_entity_blocking skew discipline); output stays "
    "|types|^2-bounded regardless of event volume.",
)
def q_graph_common_neighbors(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.tables import load_events

    # r14 (guide §2.3/§2.4 — aggregate before you shuffle; remove the
    # self-join): event types are a bounded enum (|types| = 5), so the
    # per-user TYPE SET is bounded and ONE exchange on user_id with
    # map-side partial collect_set replaces the r13 distinct + user_id
    # self-join (which shuffled the distinct edge list two more times
    # and re-ran the distinct subtree per join side). Singleton
    # markers (type_a = type_b) ride the same explode as the ordered
    # pairs, so degrees and pair counts fall out of one groupBy; the
    # result is bounded by |types| + C(|types|, 2) rows and a
    # localCheckpoint lets both consumers split it without re-running
    # the event subtree. Output bit-identical: the sorted set's
    # (i < j) pairs are exactly the join's a.event_type < b.event_type
    # rows, and n_users is the same distinct-(user, type) count. Same
    # single-pass shape as q_corpus_overlap_matrix (r14).
    e = load_events(spark, sf_dir).select("user_id", "event_type")
    sets = e.groupBy("user_id").agg(
        F.array_sort(F.collect_set("event_type")).alias("ss")
    )
    from .text import _set_pair_counts

    cnt = (
        _set_pair_counts(sets, "ss", "type_a", "type_b")
        .withColumnRenamed("n", "common_users")
        .localCheckpoint()
    )
    deg = cnt.where(F.col("type_a") == F.col("type_b")).select(
        F.col("type_a").alias("event_type"),
        F.col("common_users").alias("n_users"),
    )
    p = cnt.where(F.col("type_a") != F.col("type_b"))
    da = F.broadcast(deg.select(F.col("event_type").alias("type_a"),
                                F.col("n_users").alias("n_users_a")))
    db = F.broadcast(deg.select(F.col("event_type").alias("type_b"),
                                F.col("n_users").alias("n_users_b")))
    from ..functions.helpers import r4

    return (
        p.join(da, "type_a")
        .join(db, "type_b")
        .select(
            "type_a",
            "type_b",
            "common_users",
            "n_users_a",
            "n_users_b",
            r4(
                F.col("common_users").cast("double")
                / (
                    F.col("n_users_a")
                    + F.col("n_users_b")
                    - F.col("common_users")
                )
            ).alias("jaccard"),
        )
    )
