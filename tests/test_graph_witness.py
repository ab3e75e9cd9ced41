"""CI guard for the graph study's replica-witness oracles (round 11).

The x64 graph verifications lean on constructed witnesses (the x1
closure expanded replica-wise) because DuckDB's recursive-CTE closure
is super-linear and its CTE re-materialization exhausted the box at
x8/x64 (SCALE.md round 11). A witness that silently drifted from the
replica transform would turn those PASSes into theater — so this test
re-derives the witness identity end-to-end AT TINY SCALE: build an
x3 replica corpus of sf0.001 with the REAL dedup-study transform,
run the REAL Spark operator on it, and hash-compare against
``witness_sql`` evaluated on the x1 views. Any change to the
transform, the operator, or the witness SQL that breaks the identity
fails here in seconds instead of at study time in minutes.
"""

from __future__ import annotations

import importlib.util
import sys
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parent.parent


def _load(mod: str):
    spec = importlib.util.spec_from_file_location(
        mod, REPO / "tools" / f"{mod}.py"
    )
    m = importlib.util.module_from_spec(spec)
    sys.modules[mod] = m
    spec.loader.exec_module(m)
    return m


REP = 3
SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def x3_docs(spark, tmp_path_factory):
    from sd2_drp_experimentgen_spark.schemas import TABLE_NAMES

    dedup = _load("ladder")
    out = tmp_path_factory.mktemp("x3docs")
    for t in TABLE_NAMES:
        df = spark.read.parquet(f"{SF}/{t}.parquet")
        if t == "documents":
            df = dedup.replicate_documents(spark, df, REP)
        df.write.mode("overwrite").parquet(str(out / f"{t}.parquet"))
    return str(out)


@pytest.mark.parametrize(
    "name",
    ["q_dedup_components", "q_dedup_cluster_stats", "q_graph_triangle_count"],
)
def test_doc_witness_matches_spark_at_x3(spark, x3_docs, name):
    import duckdb

    gss = _load("ladder")
    vl = _load("verify_local")
    from sd2_drp_experimentgen_spark.functions.helpers import (
        release_persisted,
    )
    from sd2_drp_experimentgen_spark.plans import all_specs

    con = duckdb.connect()
    from sd2_drp_experimentgen_spark.schemas import TABLE_NAMES

    for t in TABLE_NAMES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{SF}/{t}.parquet')"
        )
    con.execute(
        "CREATE VIEW sdocs AS SELECT * FROM "
        f"read_parquet('{x3_docs}/documents.parquet/*.parquet')"
    )
    ok, msg = vl.compare(
        name,
        all_specs()[name].fn(spark, x3_docs),
        con.execute(gss.witness_sql(name, REP)),
    )
    release_persisted()
    assert ok, f"{name} witness broke at x{REP}: {msg}"


@pytest.fixture(scope="module")
def x3_graph(spark, tmp_path_factory):
    from sd2_drp_experimentgen_spark.schemas import TABLE_NAMES

    gss = _load("ladder")
    out = tmp_path_factory.mktemp("x3graph")
    for t in TABLE_NAMES:
        df = spark.read.parquet(f"{SF}/{t}.parquet")
        if t in ("orders", "lineitem"):
            df = gss.replicate_bipartite(spark, df, t, REP)
        df.write.mode("overwrite").parquet(str(out / f"{t}.parquet"))
    return str(out)


@pytest.mark.parametrize("name", ["q_graph_pagerank", "q_graph_bfs_hops"])
def test_bipartite_witness_matches_spark_at_x3(spark, x3_graph, name):
    import duckdb

    gss = _load("ladder")
    vl = _load("verify_local")
    from sd2_drp_experimentgen_spark.functions.helpers import (
        release_persisted,
    )
    from sd2_drp_experimentgen_spark.plans import all_specs
    from sd2_drp_experimentgen_spark.schemas import TABLE_NAMES

    con = duckdb.connect()
    for t in TABLE_NAMES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{SF}/{t}.parquet')"
        )
    ok, msg = vl.compare(
        name,
        all_specs()[name].fn(spark, x3_graph),
        con.execute(gss.witness_sql(name, REP)),
    )
    # ADVICE r11 asked for the doc-rung release here too. r12 review
    # correction: release_persisted() only drops tracked_persist
    # frames (none exist on the bipartite rungs), NOT localCheckpoint
    # RDD blocks — those free when the Python refs are GC'd, so the
    # real hygiene is the ladder's release() discipline.
    release_persisted()
    import gc

    gc.collect()
    spark.sparkContext._jvm.System.gc()
    assert ok, f"{name} witness broke at x{REP}: {msg}"


@pytest.fixture(scope="module")
def tri_query(spark):
    """(sf0.001 near-dup pairs, sorted per-node counts of the registered
    q_graph_triangle_count), which test_oracle_parity checks against
    DuckDB."""
    from sd2_drp_experimentgen_spark.operators import graph
    from sd2_drp_experimentgen_spark.plans import all_specs

    base = sorted(
        tuple(r)
        for r in all_specs()["q_graph_triangle_count"].fn(spark, SF).collect()
    )
    assert base
    return graph.nd_pairs(spark, SF), base


def _tri(e, **kw) -> list[tuple]:
    from sd2_drp_experimentgen_spark.functions.helpers import (
        release_persisted,
    )
    from sd2_drp_experimentgen_spark.operators import graph

    got = sorted(tuple(r) for r in graph.triangle_counts(e, **kw).collect())
    release_persisted()
    return got


def test_triangle_orientations_bit_identical(tri_query):
    """Both orders of the kernel, forced (c=0 picks degree order,
    c=inf id order), reproduce the registered query's per-node counts."""
    e, base = tri_query
    assert _tri(e, work_per_edge=0) == base
    assert _tri(e, work_per_edge=float("inf")) == base


def test_triangle_adj_intersect_bit_identical(tri_query):
    """The gated out-list intersection matches a brute-force Python
    count over the same collected pairs, and the registered query."""
    e, base = tri_query
    edges = [(r["id_lo"], r["id_hi"]) for r in e.collect()]
    got = _tri(e)
    assert got == _brute_force_triangles(edges)
    assert got == base


def test_triangle_adj_gate_falls_back_to_wedge_join(tri_query):
    """Past the broadcast bound (broadcast_edges=0) both joins shuffle;
    the plain-join path gives the same counts in either order."""
    e, base = tri_query
    assert _tri(e, broadcast_edges=0) == base
    assert _tri(e, broadcast_edges=0, work_per_edge=0) == base


def _hub_graph(in_star: bool) -> list[tuple[int, int]]:
    """A 500-edge hub at node 0 plus a 3-out lattice over nodes 1..30
    (triangles with and without the hub); ``in_star`` mirrors every id
    v -> 500 - v, so the hub becomes the highest id."""
    edges = {(0, v) for v in range(1, 501)}
    edges |= {(i, i + s) for i in range(1, 31) for s in (1, 2, 7)}
    if in_star:
        edges = {(500 - b, 500 - a) for a, b in edges}
    return sorted(edges)


def _brute_force_triangles(edges: list[tuple[int, int]]) -> list[tuple]:
    nbrs: dict[int, set[int]] = {}
    for a, b in edges:
        nbrs.setdefault(a, set()).add(b)
        nbrs.setdefault(b, set()).add(a)
    counts: dict[int, int] = {}
    for a, b in edges:
        for c in nbrs[a] & nbrs[b]:
            if c > b:
                for v in (a, b, c):
                    counts[v] = counts.get(v, 0) + 1
    return sorted(counts.items())


@pytest.mark.parametrize(
    "in_star,by_degree", [(False, True), (True, False)],
    ids=["low_id_hub", "in_star"],
)
def test_triangle_gate_on_skewed_graphs(spark, in_star, by_degree):
    """The gate's work bound Σ out(v)² <= c·|E| sends a low-id hub (its
    whole adjacency is one id-order out-list) to the degree order and
    keeps its in-star mirror (one-element out-lists) in id order; both
    match a brute-force count."""
    from sd2_drp_experimentgen_spark.operators import graph

    edges = _hub_graph(in_star)
    e = spark.createDataFrame(edges, "id_lo long, id_hi long")
    ratio, n_edges = graph.triangle_work_ratio(e)
    assert n_edges == len(edges)
    assert (ratio > graph.TRI_WORK_PER_EDGE) == by_degree, ratio
    got = sorted(tuple(r) for r in graph.triangle_counts(e).collect())
    assert got == _brute_force_triangles(edges)
