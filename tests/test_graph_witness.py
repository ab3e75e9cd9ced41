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

    dedup = _load("dedup_scale_study")
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

    gss = _load("graph_scale_study")
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

    gss = _load("graph_scale_study")
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

    gss = _load("graph_scale_study")
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
    # real hygiene is the study's _drop_checkpoints discipline.
    release_persisted()
    import gc

    gc.collect()
    spark.sparkContext._jvm.System.gc()
    assert ok, f"{name} witness broke at x{REP}: {msg}"


def test_triangle_orientations_bit_identical(spark):
    """r12 skew gate: forcing the degree-oriented path on the fixture
    corpus must reproduce the id-oriented per-node triangle counts
    bit-for-bit (any total order counts each triangle exactly once
    from its smallest corner)."""
    from sd2_drp_experimentgen_spark.functions.helpers import (
        release_persisted,
    )
    from sd2_drp_experimentgen_spark.operators import graph

    e = graph.nd_pairs(spark, SF)
    a = sorted(tuple(r) for r in graph._tri_counts_id_oriented(e).collect())
    b = sorted(
        tuple(r) for r in graph._tri_counts_degree_oriented(e).collect()
    )
    release_persisted()
    assert a and a == b


def test_triangle_gate_picks_id_form_on_fixture(spark, monkeypatch):
    """The fixture pair graph (max degree 221) sits far below
    TRI_ID_HUB_WEDGE_CAP, so the registered query stays on the measured-
    best id form; forcing the cap to 0 flips to degree orientation
    with identical output."""
    from sd2_drp_experimentgen_spark.functions.helpers import (
        release_persisted,
    )
    from sd2_drp_experimentgen_spark.operators import graph
    from sd2_drp_experimentgen_spark.plans import all_specs

    base = sorted(
        tuple(r)
        for r in all_specs()["q_graph_triangle_count"].fn(spark, SF).collect()
    )
    monkeypatch.setattr(graph, "TRI_ID_HUB_WEDGE_CAP", 0)
    forced = sorted(
        tuple(r)
        for r in all_specs()["q_graph_triangle_count"].fn(spark, SF).collect()
    )
    release_persisted()
    assert base == forced


def test_triangle_adj_intersect_bit_identical(spark):
    """r15 intersection form: per-edge intersection of the endpoints'
    in-below adjacency arrays must reproduce the id-oriented wedge
    join's per-node counts bit-for-bit (a triangle (a, b, c), a<b<c,
    is counted exactly once at its closing edge (b, c) as
    a in in(b) ∩ in(c) — same smallest-corner-once discipline)."""
    from sd2_drp_experimentgen_spark.functions.helpers import (
        release_persisted,
    )
    from sd2_drp_experimentgen_spark.operators import graph

    e = graph.nd_pairs(spark, SF)
    a = sorted(tuple(r) for r in graph._tri_counts_id_oriented(e).collect())
    b = sorted(
        tuple(r)
        for r in graph._tri_counts_adj_intersect(
            e, graph._tri_in_below_adj(e)
        ).collect()
    )
    release_persisted()
    assert a and a == b


def test_triangle_adj_gate_falls_back_to_wedge_join(spark, monkeypatch):
    """The intersection form's own guards: forcing either cap to 0
    (an in-degree hub / an unbroadcastable adjacency) must route the
    registered query back to the id-oriented wedge join with
    identical output."""
    from sd2_drp_experimentgen_spark.functions.helpers import (
        release_persisted,
    )
    from sd2_drp_experimentgen_spark.operators import graph
    from sd2_drp_experimentgen_spark.plans import all_specs

    fn = all_specs()["q_graph_triangle_count"].fn
    base = sorted(tuple(r) for r in fn(spark, SF).collect())
    max_in_deg = graph.TRI_ADJ_MAX_IN_DEG
    monkeypatch.setattr(graph, "TRI_ADJ_MAX_IN_DEG", 0)
    forced_wedge = sorted(tuple(r) for r in fn(spark, SF).collect())
    monkeypatch.setattr(graph, "TRI_ADJ_MAX_IN_DEG", max_in_deg)
    monkeypatch.setattr(graph, "TRI_ADJ_BROADCAST_EDGES", 0)
    forced_wedge2 = sorted(tuple(r) for r in fn(spark, SF).collect())
    release_persisted()
    assert base and base == forced_wedge == forced_wedge2
