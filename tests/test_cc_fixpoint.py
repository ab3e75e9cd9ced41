"""Loop equality for min_label_fixpoint, the one connected-components
loop behind cc_labels (q_dedup_components and its consumers) and
q_emb_dedup_pipeline.

Every assertion runs the shipped helper: its labels must equal a
pure-Python union-find minimum, an edgeless corpus must terminate, the
round count on the benchmark fixture must stay at 3, the checkpointed
edge list must be sized by bytes (AQE coalescing), not by
``spark.sql.shuffle.partitions``, and the observed convergence sum must
leave the session usable for MLlib.
"""

from __future__ import annotations

from pathlib import Path

from tests.conftest import SF_T1

PERFBENCH_SF = str(
    Path(__file__).resolve().parent.parent
    / "perfbench" / "fixtures" / "perfbench_sf0.01"
)


def union_find_min(nodes, pairs) -> dict[int, int]:
    """node -> minimum node id of its connected component."""
    parent = {v: v for v in nodes}

    def find(v):
        while parent[v] != v:
            parent[v] = parent[parent[v]]
            v = parent[v]
        return v

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {v: find(v) for v in nodes}


def run_fixpoint(spark, nodes, pairs):
    from sd2_drp_experimentgen_spark.operators.graph import (
        min_label_fixpoint,
    )

    tel: dict = {}
    nodes_df = spark.createDataFrame([(v,) for v in nodes], "node long")
    pairs_df = spark.createDataFrame(pairs, "id_lo long, id_hi long")
    rows = min_label_fixpoint(nodes_df, pairs_df, tel).collect()
    return {r["node"]: r["label"] for r in rows}, tel


def test_labels_equal_union_find_on_neardup_graph(spark):
    from sd2_drp_experimentgen_spark.functions.helpers import (
        release_persisted,
    )
    from sd2_drp_experimentgen_spark.operators import graph
    from sd2_drp_experimentgen_spark.sources.tables import load_table

    nodes = [
        r[0]
        for r in load_table(spark, SF_T1, "documents")
        .select("doc_id")
        .collect()
    ]
    pairs = [tuple(r) for r in graph.nd_pairs(spark, SF_T1).collect()]
    tel: dict = {}
    got = {
        r["node"]: r["label"]
        for r in graph.cc_labels(spark, SF_T1, _telemetry=tel).collect()
    }
    release_persisted()
    assert pairs, "the sf0.001 near-dup graph must have edges"
    assert got == union_find_min(nodes, pairs)
    # sized by bytes: AQE coalesces the edge checkpoint below the
    # session's shuffle-partition count at test scale
    shuffle_parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    assert 1 <= tel["edge_partitions"] < shuffle_parts


def test_labels_equal_union_find_on_reversed_id_chain(spark):
    """A 16-node path whose pairs arrive high-id first, plus a second
    disjoint path: min-label propagation with pointer jumping needs 5
    rounds on a 16-node path, so the loop must run well past the first
    few rounds and still agree with union-find."""
    nodes = list(range(16)) + list(range(100, 116))
    pairs = [(i + 1, i) for i in range(15)] + [
        (i + 1, i) for i in range(100, 115)
    ]
    got, tel = run_fixpoint(spark, nodes, pairs)
    assert got == union_find_min(nodes, pairs)
    assert set(got.values()) == {0, 100}
    assert tel["rounds"] >= 4
    assert len(tel["round_s"]) == tel["rounds"]


def test_edgeless_corpus_terminates(spark):
    # nodes without edges: every node is its own component, one round
    got, tel = run_fixpoint(spark, [3, 1, 2], [])
    assert got == {1: 1, 2: 2, 3: 3}
    assert tel["rounds"] == 1
    # no nodes at all: the label sum is NULL before and after round 1,
    # and a null sum must compare equal to a null sum
    got, tel = run_fixpoint(spark, [], [])
    assert got == {}
    assert tel["rounds"] == 1


def test_rounds_on_benchmark_fixture(spark):
    from sd2_drp_experimentgen_spark.operators import graph

    tel: dict = {}
    graph.cc_labels(spark, PERFBENCH_SF, _telemetry=tel)
    assert tel["rounds"] == 3


def test_fixpoint_leaves_session_usable_for_mllib(spark):
    """The convergence sum must not attach a non-serializable
    ObservationManager to the session: a LogisticRegression model
    carries its session through its training summary, and scoring
    with it serializes that session into the task closure."""
    from pyspark.ml.classification import LogisticRegression
    from pyspark.ml.linalg import Vectors

    run_fixpoint(spark, [1, 2, 3], [(1, 2)])
    train = spark.createDataFrame(
        [(Vectors.dense([float(x)]), float(x > 2)) for x in range(6)],
        ["features", "label"],
    )
    model = LogisticRegression(maxIter=5).fit(train)
    assert model.hasSummary
    assert len(model.transform(train).select("prediction").collect()) == 6
