"""Block-partitioned pairwise vector plans (the >BROADCAST_MAX_ROWS
fallback) must be bit-identical to the broadcast-matrix fast path —
same rounding-before-ranking rule, same tiebreaks (ADVICE r1: gate the
collect and degrade gracefully, not a driver-OOM cliff)."""

from __future__ import annotations

from tests.conftest import SF_T2


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_topk_pairs_blocked_matches_broadcast(spark, monkeypatch):
    from sd2_drp_experimentgen_spark.operators import vectors

    fast = _rows(vectors.q_sim_cosine_topk(spark, SF_T2))
    monkeypatch.setattr(vectors, "BROADCAST_MAX_ROWS", 0)
    blocked = _rows(vectors.q_sim_cosine_topk(spark, SF_T2))
    assert blocked == fast


def test_nn_blocked_matches_broadcast(spark, monkeypatch):
    from sd2_drp_experimentgen_spark.operators import vectors

    fast = _rows(vectors.q_dedup_embedding_nn(spark, SF_T2))
    monkeypatch.setattr(vectors, "BROADCAST_MAX_ROWS", 0)
    blocked = _rows(vectors.q_dedup_embedding_nn(spark, SF_T2))
    assert blocked == fast
    assert len(blocked) == len({r[0] for r in blocked})  # one NN per vector


def test_knn_graph_blocked_matches_broadcast(spark, monkeypatch):
    """VERDICT r5 wrong-#1: q_emb_knn_graph shipped without the gate.
    The gate + blocked fallback must be bit-identical to the broadcast
    path (same quantize-before-rank discipline)."""
    from sd2_drp_experimentgen_spark.operators import vectors

    fast = _rows(vectors.q_emb_knn_graph(spark, SF_T2))
    monkeypatch.setattr(vectors, "BROADCAST_MAX_ROWS", 0)
    blocked = _rows(vectors.q_emb_knn_graph(spark, SF_T2))
    assert blocked == fast
    per_src = {}
    for src, rank, _dst, _sim in blocked:
        per_src.setdefault(src, []).append(rank)
    assert all(sorted(v) == list(range(1, len(v) + 1)) for v in per_src.values())


def test_range_search_sub_blocking_is_result_invariant(spark, monkeypatch):
    """VERDICT r5 wrong-#3: a hot label must not become one quadratic
    task. Forcing SUB_BLOCK_ROWS tiny splits every label into many
    cells (>1 task per label) without changing the emitted pair set."""
    from sd2_drp_experimentgen_spark.operators import vectors

    base = _rows(vectors.q_sim_range_search(spark, SF_T2))
    monkeypatch.setattr(vectors, "SUB_BLOCK_ROWS", 7)
    split = _rows(vectors.q_sim_range_search(spark, SF_T2))
    assert split == base
    blocks = (
        vectors._range_blocks(spark, SF_T2)
        .groupBy("label")
        .count()
        .collect()
    )
    assert blocks and all(r["count"] > 1 for r in blocks)


def test_sims_chunking_bit_identical(spark, monkeypatch):
    """Round 10: the broadcast kernels row-chunk their sims product
    (SIMS_BUDGET_BYTES). Fixture-sized corpora fit in ONE chunk, so the
    multi-chunk loop would otherwise only ever run in the scale study —
    force a 1-row step here and assert the output is bit-identical to
    the default (the chunk boundary must not change any per-row math,
    rounding, or tiebreak)."""
    from sd2_drp_experimentgen_spark.operators import vectors

    for fn in (
        vectors.q_sim_cosine_topk,
        vectors.q_dedup_embedding_nn,
        vectors.q_emb_knn_graph,
    ):
        base = _rows(fn(spark, SF_T2))
        monkeypatch.setattr(vectors, "SIMS_BUDGET_BYTES", 1)  # step == 1
        try:
            tiny = _rows(fn(spark, SF_T2))
        finally:
            monkeypatch.undo()
        assert tiny == base, fn.__name__


def test_fanout_spreads_probe_rows(spark):
    """The broadcast-path probe column must not arrive as one task: a
    single file split serializes the whole n-squared product (measured
    by `tools/ladder.py vectors`). ~256 rows per task, capped at the
    session's parallelism."""
    from sd2_drp_experimentgen_spark.operators import vectors
    from sd2_drp_experimentgen_spark.sources.tables import load_table

    src = load_table(spark, SF_T2, "embeddings").select("vec_id")
    n = src.count()
    fanned = vectors._fanout(src, n)
    expect = max(1, min(spark.sparkContext.defaultParallelism, n // 256))
    assert fanned.rdd.getNumPartitions() == expect


def test_blocked_strips_bit_identical(spark, monkeypatch):
    """Round 10: the blocked kernels strip the left rows of every cell
    pair (SIMS_BUDGET_BYTES) and merge the mirror direction's per-strip
    winners incrementally. Force 1-row strips AND the blocked path at
    fixture size so the cross-strip merges run hundreds of times, and
    assert bit-identity with the default single-strip output."""
    from sd2_drp_experimentgen_spark.operators import vectors

    for fn in (
        vectors.q_sim_cosine_topk,
        vectors.q_dedup_embedding_nn,
        vectors.q_emb_knn_graph,
    ):
        monkeypatch.setattr(vectors, "BROADCAST_MAX_ROWS", 0)
        base = _rows(fn(spark, SF_T2))
        monkeypatch.setattr(vectors, "SIMS_BUDGET_BYTES", 1)
        try:
            tiny = _rows(fn(spark, SF_T2))
        finally:
            monkeypatch.undo()
        assert tiny == base, fn.__name__
