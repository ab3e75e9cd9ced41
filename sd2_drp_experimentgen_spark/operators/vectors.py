"""Vector / embedding operators — SURVEY §2.8 similarity-search rows.

Performance doctrine (SURVEY §4.3, measured): per-element higher-order
functions on array columns evaluate interpreted — the naive HOF cosine
top-k took 37 s at sf0.1 vs 0.26 s in DuckDB. All pairwise vector math
therefore goes through Arrow-batched ``mapInPandas`` with numpy matrix
products (float64). At 100 TB the same pattern generalizes to
block-partitioned matrix products with an LSH/IVF pre-filter
(q_dedup_minhash_lsh / q_ann_ivf_topk are the scale paths).
"""

from __future__ import annotations

import math
from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.helpers import r4, sql_r
from ..plans.registry import register
from ..sources.tables import load_table
from .graph import min_label_fixpoint

TOPK_PAIRS = 50

# Broadcast-matrix gate (ADVICE r1): below this row count the full
# embedding matrix is collected and broadcast (fastest exact path, one
# scan, no shuffle); above it every pairwise op switches to the
# block-partitioned plan below — a graceful degradation instead of a
# driver-OOM cliff. Tests force the block path by monkeypatching to 0.
BROADCAST_MAX_ROWS = 200_000

# Per-task sims budget for the broadcast-path kernels (round 10). The
# chunk×n float64 product matrix is the ONLY allocation on that path
# that scales with n: an UNchunked Arrow batch (up to ~10k rows by
# default) against a gate-ceiling matrix would allocate
# batch×200_000×8 B — multi-GB per in-flight task. The gate guarded
# the DRIVER collect but not the WORKER product. Row-chunking bounds
# the product at this many bytes regardless of n: same flops,
# bit-identical output, and FASTER (the chunk stays cache-resident
# through the rank loop). Measured worker-RSS/wall deltas per scale:
# tools/vec_scale_study.py output, recorded in SCALE.md round 10.
SIMS_BUDGET_BYTES = 64 << 20


def _sims_step(n: int) -> int:
    """Rows per product chunk so chunk×n float64 stays in budget."""
    return max(1, SIMS_BUDGET_BYTES // (max(n, 1) * 8))


def _fanout(src: DataFrame, n: int) -> DataFrame:
    """Spread the broadcast-path mapInPandas across the cluster. The
    vec_id probe column is ~8 B/row, so even a gate-ceiling corpus
    (200k rows) arrives as ONE file split — and each probe row costs
    O(n) sims + an O(n log n) rank in the kernel, so a single task
    would serialize the entire n² product (measured in
    tools/vec_scale_study.py: the x32 corpus ran its whole broadcast
    path in one task before this). Repartitioning the tiny key column
    is one negligible shuffle that restores ~cores-way parallelism;
    ~256 probe rows per task keeps scheduling overhead invisible at
    fixture sizes."""
    target = max(
        1,
        min(int(src.sparkSession.sparkContext.defaultParallelism), n // 256),
    )
    return src.repartition(target)


# Block count for the partitioned pairwise plans. At 100 TB this tracks
# sqrt(cluster parallelism): shuffle volume is n·B vectors (each block
# replicated B times) while exact all-pairs compute is O(n²) regardless,
# so B balances replication against per-task matrix size.
N_BLOCKS = 8


# Memoized embeddings row count per sf_dir — the broadcast-vs-blocked
# gate needs cardinality, not data; parquet footer counts are stable for
# the immutable fixture dirs, so pay the count job once per process.
_EMB_COUNT_CACHE: dict[str, int] = {}


def _embeddings_count(spark: SparkSession, sf_dir: str) -> int:
    n = _EMB_COUNT_CACHE.get(sf_dir)
    if n is None:
        n = load_table(spark, sf_dir, "embeddings").count()
        _EMB_COUNT_CACHE[sf_dir] = n
    return n


# Memoized (ids, matrix) per (sf_dir, file mtime) — the gated broadcast
# path re-collected ~0.4s of identical vectors on every warm call
# (measured at sf0.1); fixture dirs are immutable, and the mtime key
# invalidates on a driver-side regeneration like the footer caches.
_EMB_MATRIX_CACHE: dict = {}


def _embeddings_matrix(spark: SparkSession, sf_dir: str):
    """Collect (ids, float64 matrix) for broadcast — the SMALL-side path
    only; callers gate on BROADCAST_MAX_ROWS and fall back to the
    block-partitioned plans beyond it."""
    import os

    import numpy as np

    st = os.stat(f"{sf_dir}/embeddings.parquet")
    key = (sf_dir, st.st_mtime_ns, st.st_size)
    hit = _EMB_MATRIX_CACHE.get(key)
    if hit is not None:
        return hit
    rows = (
        load_table(spark, sf_dir, "embeddings")
        .select("vec_id", "embedding")
        .orderBy("vec_id")
        .collect()
    )
    ids = np.array([r["vec_id"] for r in rows], dtype=np.int64)
    mat = np.array([r["embedding"] for r in rows], dtype=np.float64)
    _EMB_MATRIX_CACHE.clear()  # one fixture dir at a time is plenty
    _EMB_MATRIX_CACHE[key] = (ids, mat)
    return ids, mat


# Rows per block for the partitioned pairwise plans. Bigger blocks cut
# the shuffle (each vector is replicated into B(B+1)/2 unordered pairs,
# so volume ~ n·(B+1)/2), the Arrow/python cell materialization (the
# x128 profile measured 86 s of the blocked wall in cell
# deserialization alone at 4096-row blocks), and the candidate volume
# the rank-merge window sees (n·B·K for kNN). Per-task memory is NOT
# bounded by the block any more: the kernels strip the left rows so
# the sims product stays within SIMS_BUDGET_BYTES regardless of block
# size (round 10 — same discipline as the broadcast path).
TARGET_BLOCK_ROWS = 16384


def _embedding_blocks(spark: SparkSession, sf_dir: str, n: int) -> DataFrame:
    """embeddings -> B rows of (block, rows: array<struct<vec_id,embedding>>).

    Deterministic hash blocking with B = max(N_BLOCKS, ⌈n/TARGET⌉) so a
    block PAIR (two payloads, ~16 MB of matrix at TARGET rows) fits
    comfortably in one task at any n — the per-task sims product is
    bounded separately by the kernels' left-row strips
    (SIMS_BUDGET_BYTES). collect_list is the one shuffle — it moves
    each vector once; the replication happens in the unordered block
    crossJoin, giving total shuffle volume O(n·(B+1)/2) vectors vs the
    O(n²) an all-pairs row join would move.
    """
    b = max(N_BLOCKS, -(-n // TARGET_BLOCK_ROWS))
    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    return (
        e.withColumn("block", F.pmod(F.xxhash64("vec_id"), F.lit(b)))
        .groupBy("block")
        .agg(F.collect_list(F.struct("vec_id", "embedding")).alias("rows"))
    )


def _block_pair_frames(blocks: DataFrame):
    """UNORDERED block pairs (l_block <= r_block) as (l_rows, r_rows)
    payload columns — B(B+1)/2 tasks instead of B². Cosine is
    symmetric, so an ordered pair and its mirror compute the SAME
    product matrix; the kernels read both directions out of one matmul
    for off-diagonal pairs (round 10 — halves the blocked path's
    compute and its cell shuffle, measured in tools/vec_scale_study.py).
    Kernels receive l_block/r_block to tell the diagonal apart."""
    left = blocks.select(
        F.col("block").alias("l_block"), F.col("rows").alias("l_rows")
    )
    right = blocks.select(
        F.col("block").alias("r_block"), F.col("rows").alias("r_rows")
    )
    return left.crossJoin(right).where(F.col("l_block") <= F.col("r_block"))


def _cell_to_mat(cell):
    """One Arrow list<struct> cell -> (ids int64 ASCENDING, matrix
    float64). Ascending ids make within-cell rank order == id order,
    which the composite-key selection below relies on to reproduce the
    oracle's (sim DESC, id ASC) tiebreak without per-row sorts."""
    import numpy as np

    ids = np.array([x["vec_id"] for x in cell], dtype=np.int64)
    mat = np.array([list(x["embedding"]) for x in cell], dtype=np.float64)
    order = np.argsort(ids)
    return ids[order], mat[order]


# Composite-key vectorized selection (round 10). The first x128 run of
# tools/vec_scale_study.py measured the per-row Python lexsort loops as
# the kernels' dominant cost at 256k rows (q_emb_knn_graph 898 s,
# q_sim_cosine_topk 1 789 s — SCALE.md round 10). Selection now packs
# the quantized sim above the candidate's within-task COLUMN RANK —
# key = sim_u * 2^40 - rank — so one argpartition per chunk replaces n
# per-row lexsorts. Candidate ids are ascending within every task (the
# broadcast matrix is collected ordered, cells sort in _cell_to_mat),
# so rank order == id order and the key's (sim DESC, id ASC) tiebreak
# is bit-identical to the oracle's. |sim_u| <= 1e4, so the packed key
# needs rank < 2^40 — far above any single task's candidate count —
# and stays within int64.
_KEY_SHIFT = 1 << 40
_KEY_FLOOR = -(1 << 62)  # masked cells: below any real packed key
_UNITS_MIN = -10000  # smallest REAL quantized unit (cosine >= -1)
# Validity cut for packed keys (ADVICE r11): real keys are
# units*SHIFT - rank with units >= -10000 and rank < SHIFT, so every
# real key > -10001*SHIFT; pinned (degenerate) keys are
# -20000*SHIFT - rank < -10002*SHIFT; _KEY_FLOOR is far below both.
# `key > _KEY_PINNED_MAX` therefore accepts exactly the real cells —
# pinned cells must never be EMITTED as neighbors (a -2.0 "cosine" is
# out of domain and no SQL oracle would produce it), they only need
# to rank below real ones so the top-k cut is deterministic.
_KEY_PINNED_MAX = -10002 * _KEY_SHIFT


def _sim_units(sims):
    """Quantized cosine units floor(sim*1e4+0.5) as int64, with NaN —
    a zero-norm degenerate embedding makes the cosine divide 0/0 —
    pinned to -20000, strictly below any real unit (|units| <= 10000).
    A degenerate vector therefore deterministically ranks LAST, which
    is what the pre-r10 float lexsorts did with NaN; without the pin,
    float->int64 of NaN is UNDEFINED (platform garbage) and, multiplied
    by _KEY_SHIFT, could wrap a degenerate vector into a top neighbor
    (ADVICE r10). Pinned cells additionally never EMIT (ADVICE r11):
    every kernel filters selections to key > _KEY_PINNED_MAX (packed
    paths) or units >= _UNITS_MIN (unit paths), so a degenerate vector
    can lose a top-k slot but can never appear as a neighbor with an
    out-of-domain sim."""
    import numpy as np

    cand = np.floor(sims * 1e4 + 0.5)
    # isfinite, not isnan (r12): ±inf float->int64 is just as
    # platform-undefined as NaN; a mathematically real cosine is in
    # [-1, 1], so ANY non-finite value is the degenerate branch.
    return np.where(np.isfinite(cand), cand, -20000.0).astype(np.int64)


def _topk_cols(key, k: int):
    """Top-k column indices per row of an int64 key matrix, ordered by
    key DESC — argpartition then an in-k argsort; no per-row Python."""
    import numpy as np

    if k >= key.shape[1]:
        return np.argsort(-key, axis=1)[:, :k]
    part = np.argpartition(-key, k - 1, axis=1)[:, :k]
    sub = np.take_along_axis(key, part, axis=1)
    order = np.argsort(-sub, axis=1)
    return np.take_along_axis(part, order, axis=1)


def _pair_topk(cand, l_ids, r_ids, k_max: int, swapped: bool):
    """Exact top-k PAIRS by (sim DESC, lo ASC, hi ASC) for one
    orientation of a cell pair: ``swapped=False`` keeps entries whose
    LEFT id is the lower one, ``swapped=True`` the mirror (used when an
    unordered off-diagonal pair serves both directions from one
    matmul). One O(L×R) threshold pass, then a lexsort over ONLY the
    boundary ties — the first x128 study measured the full-plane
    repeat/tile + lexsort form at 1 789 s. Returns (lo, hi, sim_u) or
    None."""
    import numpy as np

    r_n = r_ids.size
    mask = (
        l_ids[:, None] > r_ids[None, :]
        if swapped
        else l_ids[:, None] < r_ids[None, :]
    )
    vidx = np.flatnonzero(mask.ravel())
    if vidx.size == 0:
        return None
    vals = cand.ravel()[vidx]
    real = vals >= _UNITS_MIN  # drop pinned degenerate cells (ADVICE r11)
    vidx, vals = vidx[real], vals[real]
    if vidx.size == 0:
        return None
    k = min(k_max, vals.size)
    thr = np.partition(vals, vals.size - k)[vals.size - k]
    gt = np.flatnonzero(vals > thr)
    ties = np.flatnonzero(vals == thr)
    ti = vidx[ties]
    row_t, col_t = ti // r_n, ti % r_n
    lo_t, hi_t = (
        (r_ids[col_t], l_ids[row_t])
        if swapped
        else (l_ids[row_t], r_ids[col_t])
    )
    order = np.lexsort((hi_t, lo_t))[: k - gt.size]
    fi = vidx[np.concatenate([gt, ties[order]])]
    row, col = fi // r_n, fi % r_n
    lo, hi = (
        (r_ids[col], l_ids[row]) if swapped else (l_ids[row], r_ids[col])
    )
    return lo, hi, cand.ravel()[fi]


@register(
    "q_sim_cosine_topk",
    oracle=f"""
    WITH pairs AS (
      SELECT a.vec_id AS id_lo, b.vec_id AS id_hi,
             list_cosine_similarity(
               list_transform(a.embedding, x -> CAST(x AS DOUBLE)),
               list_transform(b.embedding, x -> CAST(x AS DOUBLE))
             ) AS sim
      FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
    )
    SELECT id_lo, id_hi, {sql_r('sim')} AS sim
    FROM pairs
    ORDER BY {sql_r('sim')} DESC, id_lo, id_hi
    LIMIT {TOPK_PAIRS}
    """,
    tier="P1",
    doc="Exact top-50 embedding pairs by cosine similarity. Implemented "
    "as numpy blocked matrix multiply inside mapInPandas (Arrow "
    "batches): each partition computes its rows' similarities against "
    "the broadcast matrix and keeps its local top-50 (a global top-50 "
    "pair is necessarily within the local top-50 of its lower id), "
    "then a tiny global TakeOrdered merges candidates. Rounding "
    "applied inside numpy with the same floor(x*1e4+0.5)/1e4 formula "
    "as the oracle so ranking ties resolve identically. Above "
    "BROADCAST_MAX_ROWS the broadcast matrix is replaced by the "
    "block-partitioned product (_topk_pairs_blocked, no driver "
    "collect, bit-identical results — pytest-asserted).",
)
def q_sim_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np

    n = _embeddings_count(spark, sf_dir)
    if n > BROADCAST_MAX_ROWS:
        return _topk_pairs_blocked(spark, sf_dir)
    ids, mat = _embeddings_matrix(spark, sf_dir)
    norms = np.sqrt((mat * mat).sum(axis=1))
    bc = spark.sparkContext.broadcast((ids, mat, norms))
    step = _sims_step(n)  # closure constant: workers re-import the
    # module, so the budget must be resolved DRIVER-side (also what
    # lets the scale study toggle it per run)

    def topk_per_block(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        all_ids, all_mat, all_norms = bc.value
        n_all = all_ids.size
        col_rank = np.arange(n_all, dtype=np.int64)
        k_eff = min(TOPK_PAIRS, max(n_all - 1, 1))
        for pdf in batches:
            if pdf.empty:
                continue
            batch_ids = pdf["vec_id"].to_numpy(dtype=np.int64)
            # Row-chunk the product: sims is chunk×n, never batch×n
            # (SIMS_BUDGET_BYTES above — bit-identical per-row math).
            for s in range(0, batch_ids.size, step):
                row_ids = batch_ids[s : s + step]
                idx = np.searchsorted(all_ids, row_ids)
                x = all_mat[idx]
                sims = (x @ all_mat.T) / np.outer(all_norms[idx], all_norms)
                # round FIRST (oracle formula), then rank by (-sim, id)
                # via the composite key; only columns with id > vid
                # compete (ids ascending -> a per-row prefix mask).
                cand = _sim_units(sims)
                key = cand * _KEY_SHIFT - col_rank[None, :]
                key[col_rank[None, :] <= idx[:, None]] = _KEY_FLOOR
                cols = _topk_cols(key, k_eff)
                sel_key = np.take_along_axis(key, cols, axis=1)
                # rows near the max id (floored) AND pinned degenerates
                valid = sel_key > _KEY_PINNED_MAX
                lo = np.repeat(row_ids, k_eff)[valid.ravel()]
                hi = all_ids[cols].ravel()[valid.ravel()]
                sim = (
                    np.take_along_axis(cand, cols, axis=1).ravel()[
                        valid.ravel()
                    ]
                    / 1e4
                )
                yield pd.DataFrame({"id_lo": lo, "id_hi": hi, "sim": sim})

    src = _fanout(load_table(spark, sf_dir, "embeddings").select("vec_id"), n)
    cand = src.mapInPandas(
        topk_per_block, schema="id_lo long, id_hi long, sim double"
    )
    return cand.orderBy(F.desc("sim"), F.asc("id_lo"), F.asc("id_hi")).limit(
        TOPK_PAIRS
    )


@register(
    "q_emb_centroid_by_label",
    oracle=f"""
    SELECT label,
           CAST(gs AS INTEGER) AS dim_idx,
           {sql_r('avg(CAST(e AS DOUBLE))', 5)} AS centroid
    FROM (
      SELECT label,
             unnest(embedding) AS e,
             generate_subscripts(embedding, 1) AS gs
      FROM embeddings
    )
    GROUP BY label, gs
    """,
    tier="P1",
    doc="Per-label, per-dimension centroid (10 labels x 64 dims) via "
    "posexplode + two-key groupBy — the scalable layout for per-"
    "dimension statistics (shuffle moves (label, dim, partial) triples, "
    "never whole vectors).",
)
def q_emb_centroid_by_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.helpers import _round_halfup

    e = load_table(spark, sf_dir, "embeddings")
    exploded = e.select(
        "label", F.posexplode("embedding").alias("pos", "val")
    )
    return (
        exploded.groupBy("label", "pos")
        .agg(
            _round_halfup(F.avg(F.col("val").cast("double")), 5).alias("centroid")
        )
        .select(
            "label",
            (F.col("pos") + 1).cast("int").alias("dim_idx"),
            "centroid",
        )
    )


@register(
    "q_emb_norm_stats",
    oracle=f"""
    SELECT label,
           count(*) AS n_vecs,
           {sql_r("min(sqrt(list_sum(list_transform(embedding,"
                  " x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))")} AS min_norm,
           {sql_r("max(sqrt(list_sum(list_transform(embedding,"
                  " x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))")} AS max_norm
    FROM embeddings
    GROUP BY label
    """,
    tier="P2",
    doc="Per-label L2-norm extrema — vector QC shape (min/max of exact "
    "per-row fold; no cross-row float summation).",
)
def q_emb_norm_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    dbl = lambda x: x.cast("double")  # noqa: E731
    norm = F.sqrt(
        F.aggregate(F.col("embedding"), F.lit(0.0), lambda a, x: a + dbl(x) * dbl(x))
    )
    return e.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_vecs"),
        r4(F.min(norm)).alias("min_norm"),
        r4(F.max(norm)).alias("max_norm"),
    )


@register(
    "q_dedup_embedding_nn",
    oracle=f"""
    SELECT vec_id, neighbor_id, sim
    FROM (
      SELECT vec_id, neighbor_id, sim,
             row_number() OVER (
               PARTITION BY vec_id ORDER BY sim DESC, neighbor_id
             ) AS rn
      FROM (
        SELECT a.vec_id AS vec_id, b.vec_id AS neighbor_id,
               {sql_r('''list_cosine_similarity(
                 list_transform(a.embedding, x -> CAST(x AS DOUBLE)),
                 list_transform(b.embedding, x -> CAST(x AS DOUBLE)))''')} AS sim
        FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id
      )
    )
    WHERE rn = 1
    """,
    tier="P1",
    doc="Embedding-cosine near-duplicate scan: each vector's single "
    "nearest neighbor by cosine (round 4, neighbor-id tiebreak). A "
    "dedup pass keeps pairs with sim above a threshold; this fixture "
    "has no such pairs (max pairwise cosine 0.51 at sf0.01), so the "
    "full NN list is emitted to keep the oracle check non-trivial. "
    "Same numpy/mapInPandas doctrine as q_sim_cosine_topk: rounding "
    "applied before ranking with the oracle's half-up formula so ties "
    "resolve identically. Above BROADCAST_MAX_ROWS the broadcast is "
    "replaced by the block-partitioned plan (_nn_blocked, no driver "
    "collect, bit-identical — pytest-asserted); approximate 100 TB "
    "alternatives are the IVF probe (q_ann_ivf_topk) or LSH buckets.",
)
def q_dedup_embedding_nn(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np

    n = _embeddings_count(spark, sf_dir)
    if n > BROADCAST_MAX_ROWS:
        return _nn_blocked(spark, sf_dir)
    ids, mat = _embeddings_matrix(spark, sf_dir)
    norms = np.sqrt((mat * mat).sum(axis=1))
    bc = spark.sparkContext.broadcast((ids, mat, norms))
    step = _sims_step(n)  # driver-side resolution (see q_sim_cosine_topk)

    def nn_per_block(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        all_ids, all_mat, all_norms = bc.value
        col_rank = np.arange(all_ids.size, dtype=np.int64)
        for pdf in batches:
            if pdf.empty:
                continue
            batch_ids = pdf["vec_id"].to_numpy(dtype=np.int64)
            # Row-chunked product (SIMS_BUDGET_BYTES): chunk×n, never
            # batch×n — same per-row math, same output. Composite-key
            # argmax replaces the per-row lexsort (same (sim DESC,
            # id ASC) rule — ids ascending, see _KEY_SHIFT).
            for cs in range(0, batch_ids.size, step):
                row_ids = batch_ids[cs : cs + step]
                idx = np.searchsorted(all_ids, row_ids)
                x = all_mat[idx]
                sims = (x @ all_mat.T) / np.outer(all_norms[idx], all_norms)
                cand = _sim_units(sims)
                key = cand * _KEY_SHIFT - col_rank[None, :]
                rows = np.arange(row_ids.size)
                key[rows, idx] = _KEY_FLOOR  # self is never a neighbor
                j = key.argmax(axis=1)
                ok = key[rows, j] > _KEY_PINNED_MAX  # real best only
                yield pd.DataFrame(
                    {
                        "vec_id": row_ids[ok],
                        "neighbor_id": all_ids[j[ok]],
                        "sim": cand[rows[ok], j[ok]] / 1e4,
                    }
                )

    src = _fanout(load_table(spark, sf_dir, "embeddings").select("vec_id"), n)
    return src.mapInPandas(
        nn_per_block, schema="vec_id long, neighbor_id long, sim double"
    )


def _topk_pairs_blocked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-k cosine pairs with NO driver collect: block-partitioned
    matrix product. B² ordered block pairs, each task computes its
    (n/B)×(n/B) sims, filters to id_lo < id_hi (each unordered pair
    appears in exactly one ordered block pair under that filter), keeps
    a local top-k, and a global TakeOrdered merges ≤ B²·k candidates.
    Same rounding-before-ranking contract as the broadcast path, so the
    two paths are bit-identical."""
    import numpy as np

    n = _embeddings_count(spark, sf_dir)
    pairs = _block_pair_frames(_embedding_blocks(spark, sf_dir, n))
    budget = SIMS_BUDGET_BYTES  # resolved DRIVER-side: workers
    # re-import the module, so a kernel-side read could not be
    # overridden by tests or the scale study

    def topk_per_pair(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            frames: list = []
            for lb, l_cell, rb, r_cell in zip(
                pdf["l_block"], pdf["l_rows"], pdf["r_block"], pdf["r_rows"]
            ):
                l_ids, l_mat = _cell_to_mat(l_cell)
                r_ids, r_mat = _cell_to_mat(r_cell)
                l_norms = np.sqrt((l_mat * l_mat).sum(axis=1))
                r_norms = np.sqrt((r_mat * r_mat).sum(axis=1))
                step = max(1, budget // (max(r_ids.size, 1) * 8))
                picks: list = []
                for s0 in range(0, l_ids.size, step):
                    sl = slice(s0, s0 + step)
                    sims = (l_mat[sl] @ r_mat.T) / np.outer(
                        l_norms[sl], r_norms
                    )
                    cand = _sim_units(sims)
                    # Unordered pair: one matmul serves both
                    # orientations (_pair_topk; the mirror direction
                    # only exists off the diagonal).
                    picks.append(
                        _pair_topk(cand, l_ids[sl], r_ids, TOPK_PAIRS, False)
                    )
                    if lb != rb:
                        picks.append(
                            _pair_topk(
                                cand, l_ids[sl], r_ids, TOPK_PAIRS, True
                            )
                        )
                picks = [p for p in picks if p is not None]
                if not picks:
                    continue
                # Cross-strip merge: a handful of <=k lists — the final
                # (sim DESC, lo ASC, hi ASC) cut is a tiny lexsort.
                lo = np.concatenate([p[0] for p in picks])
                hi = np.concatenate([p[1] for p in picks])
                su = np.concatenate([p[2] for p in picks])
                order = np.lexsort((hi, lo, -su))[:TOPK_PAIRS]
                frames.append(
                    pd.DataFrame(
                        {
                            "id_lo": lo[order],
                            "id_hi": hi[order],
                            "sim": su[order] / 1e4,
                        }
                    )
                )
            if frames:
                yield pd.concat(frames, ignore_index=True)

    cand = pairs.mapInPandas(
        topk_per_pair, schema="id_lo long, id_hi long, sim double"
    )
    return cand.orderBy(F.desc("sim"), F.asc("id_lo"), F.asc("id_hi")).limit(
        TOPK_PAIRS
    )


def _nn_blocked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-vector nearest neighbor with NO driver collect: each of
    the B² block pairs emits the best right-block candidate per left
    vector (vectorized max + min-id tiebreak on the rounded sims), then
    one row_number window over the n·B candidates picks the global NN.
    Bit-identical to the broadcast path (same round-then-rank rule)."""
    import numpy as np

    from pyspark.sql import Window

    n = _embeddings_count(spark, sf_dir)
    pairs = _block_pair_frames(_embedding_blocks(spark, sf_dir, n))
    budget = SIMS_BUDGET_BYTES  # resolved DRIVER-side: workers
    # re-import the module, so a kernel-side read could not be
    # overridden by tests or the scale study

    def nn_per_pair(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            frames: list = []
            for lb, l_cell, rb, r_cell in zip(
                pdf["l_block"], pdf["l_rows"], pdf["r_block"], pdf["r_rows"]
            ):
                l_ids, l_mat = _cell_to_mat(l_cell)
                r_ids, r_mat = _cell_to_mat(r_cell)
                l_norms = np.sqrt((l_mat * l_mat).sum(axis=1))
                r_norms = np.sqrt((r_mat * r_mat).sum(axis=1))
                step = max(1, budget // (max(r_ids.size, 1) * 8))
                mirror = lb != rb
                # Mirror accumulators: running (best key, best l index)
                # per RIGHT row across the left-row strips — the strip
                # only sees part of the left cell, so the per-r best
                # merges incrementally.
                m_key = m_idx = None
                for s0 in range(0, l_ids.size, step):
                    sl = slice(s0, s0 + step)
                    ids_s = l_ids[sl]
                    sims = (l_mat[sl] @ r_mat.T) / np.outer(
                        l_norms[sl], r_norms
                    )
                    # Composite-key argmax = (max sim, min id) per left
                    # row (see _KEY_SHIFT — ids ascending in the cell).
                    cand = _sim_units(sims)
                    key = cand * _KEY_SHIFT - np.arange(
                        r_ids.size, dtype=np.int64
                    )
                    key[ids_s[:, None] == r_ids[None, :]] = _KEY_FLOOR
                    rows = np.arange(ids_s.size)
                    j = key.argmax(axis=1)
                    # self-only rows (floored) AND pinned degenerates
                    ok = key[rows, j] > _KEY_PINNED_MAX
                    frames.append(
                        pd.DataFrame(
                            {
                                "vec_id": ids_s[ok],
                                "neighbor_id": r_ids[j[ok]],
                                "sim": cand[rows[ok], j[ok]] / 1e4,
                            }
                        )
                    )
                    if mirror:
                        # Rank within the WHOLE left cell: the global
                        # row offset keeps cross-strip ties exact.
                        key2 = cand.T * _KEY_SHIFT - (
                            s0 + np.arange(ids_s.size, dtype=np.int64)
                        )
                        j2 = key2.argmax(axis=1) + s0
                        k2 = key2.max(axis=1)
                        if m_key is None:
                            m_key, m_idx = k2, j2
                        else:
                            upd = k2 > m_key
                            m_key = np.where(upd, k2, m_key)
                            m_idx = np.where(upd, j2, m_idx)
                if mirror and m_key is not None:
                    # key = cand*SHIFT - rank and rank == m_idx, so the
                    # quantized sim decodes exactly.
                    okm = m_key > _KEY_PINNED_MAX  # pinned never emit
                    frames.append(
                        pd.DataFrame(
                            {
                                "vec_id": r_ids[okm],
                                "neighbor_id": l_ids[m_idx[okm]],
                                "sim": (
                                    (m_key[okm] + m_idx[okm]) // _KEY_SHIFT
                                )
                                / 1e4,
                            }
                        )
                    )
            if frames:
                yield pd.concat(frames, ignore_index=True)

    cand = pairs.mapInPandas(
        nn_per_pair, schema="vec_id long, neighbor_id long, sim double"
    )
    w = Window.partitionBy("vec_id").orderBy(F.desc("sim"), F.asc("neighbor_id"))
    return (
        cand.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("vec_id", "neighbor_id", "sim")
    )


EMB_DIM = 64
SRP_BITS = 8


def _srp_signs() -> list[list[int]]:
    """Deterministic ±1 hyperplanes for signed-random-projection LSH:
    sign(j, d) = parity of the first hex digit of md5(f"{j}_{d}").
    Pure-Python constants baked into BOTH the Spark plan and the SQL
    oracle as literals, so no RNG state is involved anywhere."""
    import hashlib

    return [
        [
            1 if int(hashlib.md5(f"{j}_{d}".encode()).hexdigest()[0], 16) % 2
            else -1
            for d in range(EMB_DIM)
        ]
        for j in range(SRP_BITS)
    ]


def _sql_q_vec(scale: str = "scale") -> str:
    """DuckDB expression: int8-quantized embedding as BIGINT list.
    Parenthesization matches the Spark side exactly — identical IEEE
    evaluation order, so the floor() results are bit-identical."""
    return (
        "list_transform(embedding, x -> CAST(floor("
        f"(CAST(x AS DOUBLE) / {scale}) * 127 + 0.5) AS BIGINT))"
    )


def _quant_cols():
    """Spark columns (scale, q) for int8 max-abs quantization."""
    emb = F.col("embedding")
    scale = F.array_max(F.transform(emb, lambda x: F.abs(x.cast("double"))))
    q = F.transform(
        emb, lambda x: F.floor((x.cast("double") / scale) * 127 + F.lit(0.5))
    )
    return scale, q


@register(
    "q_emb_quantize_int8",
    oracle=f"""
    SELECT vec_id,
           {sql_r('scale')} AS scale,
           CAST(list_sum(q) AS BIGINT) AS sum_q,
           CAST(list_sum(list_transform(q, v -> abs(v))) AS BIGINT) AS sum_abs_q,
           CAST(list_max(q) AS BIGINT) AS max_q,
           CAST(list_min(q) AS BIGINT) AS min_q
    FROM (
      SELECT vec_id, scale, {_sql_q_vec()} AS q
      FROM (
        SELECT vec_id, embedding,
               list_max(list_transform(embedding,
                 x -> abs(CAST(x AS DOUBLE)))) AS scale
        FROM embeddings
      )
    )
    """,
    tier="P1",
    doc="Int8 max-abs embedding quantization (the storage/ANN "
    "compression step): per-vector scale = max|x|, q_i = "
    "floor(x_i/scale*127 + 0.5). Emits integer checksums of the "
    "quantized vector (sum, L1 mass, extrema) so the hash check is "
    "exact — scale is the single float column. Map-only projection, "
    "no shuffle; at 100 TB this is the embarrassingly-parallel "
    "compaction pass before ANN index build, cutting vector bytes 4x.",
)
def q_emb_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    scale, q = _quant_cols()
    zero = F.lit(0).cast("long")
    return e.select(
        "vec_id",
        r4(scale).alias("scale"),
        F.aggregate(q, zero, lambda a, v: a + v).alias("sum_q"),
        F.aggregate(q, zero, lambda a, v: a + F.abs(v)).alias("sum_abs_q"),
        F.array_max(q).alias("max_q"),
        F.array_min(q).alias("min_q"),
    )


def _sql_srp_bucket() -> str:
    """DuckDB expression summing bit j = (q · h_j > 0) << j with the
    md5-derived ±1 hyperplanes embedded as BIGINT list literals."""
    terms = []
    for j, signs in enumerate(_srp_signs()):
        lits = ", ".join(str(s) for s in signs)
        terms.append(
            f"(CASE WHEN list_sum(list_transform("
            f"generate_series(1, {EMB_DIM}), "
            f"i -> q[i] * ([{lits}]::BIGINT[])[i])) > 0 "
            f"THEN {1 << j} ELSE 0 END)"
        )
    return " + ".join(terms)


@register(
    "q_ann_srp_buckets",
    oracle=f"""
    WITH q AS (
      SELECT vec_id, {_sql_q_vec()} AS q
      FROM (
        SELECT vec_id, embedding,
               list_max(list_transform(embedding,
                 x -> abs(CAST(x AS DOUBLE)))) AS scale
        FROM embeddings
      )
    ),
    proj AS (
      SELECT vec_id, {_sql_srp_bucket()} AS bucket
      FROM q
    )
    SELECT CAST(bucket AS INTEGER) AS srp_bucket,
           count(*) AS n_vecs,
           min(vec_id) AS min_vec_id
    FROM proj GROUP BY bucket
    """,
    tier="P1",
    doc="Cosine LSH bucketing via signed random projections over the "
    "int8-quantized vectors: bit j of the 8-bit bucket is the sign of "
    "q·h_j for a fixed md5-derived ±1 hyperplane h_j. Quantizing "
    "first makes every projection integer arithmetic — exact across "
    "engines, no float-accumulation-order hazard. This is the "
    "distributed ANN candidate-bucketing path: per-row signatures "
    "(map-only), then near-dup candidates come from equal-bucket "
    "pairs — the shuffle moves 1-byte signatures, never vectors. "
    "Complements q_ann_ivf_topk (learned cells) with a data-"
    "independent scheme that needs no training pass.",
)
def q_ann_srp_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    per = _srp_per_vec(spark, sf_dir)
    return per.groupBy("srp_bucket").agg(
        F.count(F.lit(1)).alias("n_vecs"), F.min("vec_id").alias("min_vec_id")
    )


def _srp_per_vec(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, srp_bucket) — the per-vector SRP LSH assignment shared
    by q_ann_srp_buckets and the NN-descent seed graph.

    Arrow-batched numpy path per the module doctrine (interpreted
    per-element HOFs cost ~10x here): float64 quantization uses the
    exact IEEE expression the oracle evaluates — (x/scale)*127 + 0.5
    elementwise, floor — so the int64 matmul against the ±1
    hyperplanes is bit-identical to the SQL construction."""
    import numpy as np

    signs = np.array(_srp_signs(), dtype=np.int64)  # (SRP_BITS, EMB_DIM)
    weights = 1 << np.arange(SRP_BITS, dtype=np.int64)

    def bucketize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            mat = np.array(pdf["embedding"].tolist(), dtype=np.float64)
            scale = np.abs(mat).max(axis=1)
            q = np.floor((mat / scale[:, None]) * 127 + 0.5).astype(np.int64)
            bits = (q @ signs.T) > 0
            bucket = (bits.astype(np.int64) * weights).sum(axis=1)
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"],
                    "srp_bucket": bucket.astype(np.int32),
                }
            )

    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    return e.mapInPandas(bucketize, schema="vec_id long, srp_bucket int")


def cosine_topk_for_queries(
    spark: SparkSession,
    sf_dir: str,
    query_ids: list[int],
    k: int = 10,
) -> DataFrame:
    """Library entry: brute-force exact ANN — top-k neighbors for given
    query vectors (math.sqrt free; numpy path). Not a registered t2
    query (parameterized API); exercised by pytest."""
    import numpy as np

    ids, mat = _embeddings_matrix(spark, sf_dir)
    norms = np.sqrt((mat * mat).sum(axis=1))
    qmask = np.isin(ids, np.array(query_ids, dtype=np.int64))
    q_ids, q_mat, q_norms = ids[qmask], mat[qmask], norms[qmask]
    sims = (q_mat @ mat.T) / np.outer(q_norms, norms)
    rows = []
    for r, qid in enumerate(q_ids):
        s = sims[r].copy()
        s[ids == qid] = -math.inf
        order = np.lexsort((ids, -np.floor(s * 1e4 + 0.5) / 1e4))[:k]
        for rank, j in enumerate(order):
            rows.append(
                (int(qid), int(ids[j]), float(np.floor(s[j] * 1e4 + 0.5) / 1e4), rank + 1)
            )
    return spark.createDataFrame(
        rows, schema="query_id long, neighbor_id long, sim double, rank int"
    )


MATRYOSHKA_PREFIX_DIMS = 16


@register(
    "q_emb_matryoshka_mass",
    oracle=f"""
    WITH per_vec AS (
      SELECT vec_id, label,
             list_sum(list_transform(embedding[1:{MATRYOSHKA_PREFIX_DIMS}],
                      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))
               AS head_sq,
             list_sum(list_transform(embedding,
                      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))
               AS total_sq
      FROM embeddings
    )
    SELECT label,
           count(*) AS n_vecs,
           CAST(sum(CAST(floor(head_sq / total_sq * 1000000 + 0.5)
                AS BIGINT)) AS BIGINT) AS sum_mass_ppm,
           CAST(sum(CASE WHEN head_sq / total_sq >= 0.5 THEN 1 ELSE 0 END)
             AS BIGINT) AS n_head_heavy
    FROM per_vec
    GROUP BY label
    """,
    tier="P2",
    doc="Matryoshka truncation diagnostic: the fraction of each "
    "vector's L2 mass held by its first "
    f"{MATRYOSHKA_PREFIX_DIMS} dimensions — the number that decides "
    "whether an MRL-style index can serve coarse search from "
    "truncated prefixes (cheap first-stage ANN over 4x-smaller "
    "vectors, full-dim rescoring only for finalists). Per-vector "
    "math is a fixed-order fold over the array (slice + square-sum "
    "via aggregate, identical element order on both engines), the "
    "ratio is one IEEE divide rounded half-up to ppm, and the "
    "per-label rollup sums exact integers. Pure Column expressions "
    "— no Python boundary for a per-vector diagnostic that would "
    "run over every embedding in a 100 TB corpus.",
)
def q_emb_matryoshka_mass(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    sq_sum = lambda col: F.aggregate(  # noqa: E731
        col,
        F.lit(0.0),
        lambda acc, x: acc + x.cast("double") * x.cast("double"),
    )
    per_vec = e.select(
        "label",
        sq_sum(F.slice(F.col("embedding"), 1, MATRYOSHKA_PREFIX_DIMS)).alias(
            "head_sq"
        ),
        sq_sum(F.col("embedding")).alias("total_sq"),
    )
    ratio = F.col("head_sq") / F.col("total_sq")
    return per_vec.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_vecs"),
        F.sum(
            F.floor(ratio * 1_000_000 + F.lit(0.5)).cast("long")
        ).alias("sum_mass_ppm"),
        F.sum(F.when(ratio >= 0.5, 1).otherwise(0)).alias("n_head_heavy"),
    )


# --- blocked cosine range search (round 5) -------------------------------

RANGE_TAU_1E4 = 3000  # cosine >= 0.30, compared in rounded integer units

# Max vectors per range-search sub-block: a label larger than this is
# hash-split so no single task ever computes more than a
# SUB_BLOCK_ROWS² gram (skew guard; result-invariant, tests force it).
SUB_BLOCK_ROWS = 4096


def _range_blocks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """embeddings -> (label, sb, rows) cells for the range search.

    Skew guard (VERDICT r5 wrong-#3): a hot label must not become one
    quadratic task. Each label is split into S = ceil(n_label /
    SUB_BLOCK_ROWS) hash sub-blocks, so per-task work is bounded by
    SUB_BLOCK_ROWS² regardless of label skew; the broadcast of the tiny
    per-label count table is the only extra cost. S never changes the
    RESULT (every qualifying pair is emitted exactly once — diagonal
    cells take the triu, off-diagonal ordered cells orient id_lo =
    min), only the task granularity — pytest forces S > 1 and asserts
    the row set is unchanged."""
    e = load_table(spark, sf_dir, "embeddings").select(
        "label", "vec_id", "embedding"
    )
    cnt = e.groupBy("label").agg(F.count(F.lit(1)).alias("n_label"))
    e2 = (
        e.join(F.broadcast(cnt), "label")
        .withColumn(
            "n_sb",
            F.greatest(
                F.lit(1), F.ceil(F.col("n_label") / F.lit(SUB_BLOCK_ROWS))
            ).cast("int"),
        )
        .withColumn(
            "sb", F.pmod(F.xxhash64("vec_id"), F.col("n_sb")).cast("int")
        )
    )
    return e2.groupBy("label", "sb").agg(
        F.collect_list(F.struct("vec_id", "embedding")).alias("rows")
    )


@register(
    "q_sim_range_search",
    oracle=f"""
    WITH pairs AS (
      SELECT a.label AS label, a.vec_id AS id_lo, b.vec_id AS id_hi,
             list_cosine_similarity(
               list_transform(a.embedding, x -> CAST(x AS DOUBLE)),
               list_transform(b.embedding, x -> CAST(x AS DOUBLE))
             ) AS sim
      FROM embeddings a JOIN embeddings b
        ON a.label = b.label AND a.vec_id < b.vec_id
    )
    SELECT label, id_lo, id_hi,
           floor(sim * 10000 + 0.5) / 10000 AS sim
    FROM pairs
    WHERE floor(sim * 10000 + 0.5) >= {RANGE_TAU_1E4}
    """,
    tier="P1",
    doc="Cosine RANGE search (all pairs with sim >= tau) — the "
    "threshold twin of q_sim_cosine_topk and the primitive behind "
    "semantic dedup sweeps ('drop everything closer than tau'), where "
    "a top-k contract is wrong because duplicate counts per item vary. "
    "Blocked: pairs are only computed WITHIN a label block "
    "(applyInPandas per label -> one numpy gram matrix per group), so "
    "no cross-block pair ever materializes — the same "
    "compare-only-within-bucket shape as q_ann_srp_buckets/"
    "q_ann_ivf_topk, with the label standing in for the LSH/IVF "
    "bucket key an unlabeled corpus would derive. Thresholding "
    "compares ROUNDED integer units (floor(sim*1e4+0.5) >= 3000) on "
    "both engines, which makes ties deterministic WITHIN each engine; "
    "a raw double sitting exactly on the rounding boundary could "
    "still flip between BLAS and DuckDB ULPs, so the multi-scale "
    "hash greens are the operative cross-engine evidence and the "
    "int8/SRP rungs are the integer-exact path where hard "
    "cross-engine exactness is required. 100 TB: one "
    "shuffle on the block key; per-block O(m^2) compute bounded by "
    "bucket size (the IVF/LSH lever) with hot labels sub-blocked "
    "(see SUB_BLOCK_ROWS below), output rows only for matches.",
)
def q_sim_range_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np

    blocks = _range_blocks(spark, sf_dir)
    left = blocks.select(
        "label", F.col("sb").alias("sb_l"), F.col("rows").alias("l_rows")
    )
    right = blocks.select(
        F.col("label").alias("label_r"),
        F.col("sb").alias("sb_r"),
        F.col("rows").alias("r_rows"),
    )
    pairs = left.join(
        right,
        (left["label"] == right["label_r"]) & (F.col("sb_l") <= F.col("sb_r")),
    ).select("label", "sb_l", "sb_r", "l_rows", "r_rows")

    def pairs_in_cell(
        batches: Iterator[pd.DataFrame],
    ) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out_label: list = []
            out_lo: list = []
            out_hi: list = []
            out_sim: list = []
            for label, sb_l, sb_r, l_cell, r_cell in zip(
                pdf["label"], pdf["sb_l"], pdf["sb_r"],
                pdf["l_rows"], pdf["r_rows"],
            ):
                l_ids, l_mat = _cell_to_mat(l_cell)
                if sb_l == sb_r:
                    order = np.argsort(l_ids)
                    ids, mat = l_ids[order], l_mat[order]
                    norms = np.sqrt((mat * mat).sum(axis=1))
                    sims = (mat @ mat.T) / np.outer(norms, norms)
                    units = np.floor(sims * 1e4 + 0.5)
                    lo, hi = np.triu_indices(len(ids), k=1)
                    keep = units[lo, hi] >= RANGE_TAU_1E4
                    lo_ids, hi_ids = ids[lo[keep]], ids[hi[keep]]
                    sims_keep = units[lo[keep], hi[keep]]
                else:
                    r_ids, r_mat = _cell_to_mat(r_cell)
                    l_norms = np.sqrt((l_mat * l_mat).sum(axis=1))
                    r_norms = np.sqrt((r_mat * r_mat).sum(axis=1))
                    sims = (l_mat @ r_mat.T) / np.outer(l_norms, r_norms)
                    units = np.floor(sims * 1e4 + 0.5)
                    li, ri = np.nonzero(units >= RANGE_TAU_1E4)
                    a, b = l_ids[li], r_ids[ri]
                    lo_ids = np.minimum(a, b)
                    hi_ids = np.maximum(a, b)
                    sims_keep = units[li, ri]
                out_label.extend([label] * len(lo_ids))
                out_lo.extend(lo_ids)
                out_hi.extend(hi_ids)
                out_sim.extend(sims_keep / 1e4)
            yield pd.DataFrame(
                {
                    "label": out_label,
                    "id_lo": out_lo,
                    "id_hi": out_hi,
                    "sim": out_sim,
                }
            )

    return pairs.mapInPandas(
        pairs_in_cell, schema="label int, id_lo long, id_hi long, sim double"
    )


# --- distributed PCA via one-pass gram + fixed-point power iteration -----

PCA_UNITS = 1000  # embedding elements quantized to 1e-3 units
PCA_ITERS = 3


def _pca_iter_sql(prev: str, out: str) -> str:
    """One unrolled power-iteration round over the integer gram matrix:
    gv = G @ v, then rescale v to max-|component| ~ PCA_UNITS by exact
    integer division (DuckDB's integer ``//`` truncates toward zero,
    -7//3 = -2, exactly like Spark's ``div`` — verified; no double
    divide anywhere, so no rounding edge on negatives).
    """
    return f"""
    {out} AS (
      SELECT gv.i AS dim_idx, gv.s // sc.s AS comp
      FROM (
        SELECT g.i, sum(g.val * p.comp) AS s
        FROM gram g JOIN {prev} p ON p.dim_idx = g.j
        GROUP BY g.i
      ) gv
      CROSS JOIN (
        SELECT greatest(max(abs(s)) // {PCA_UNITS}, 1) AS s
        FROM (
          SELECT sum(g.val * p.comp) AS s
          FROM gram g JOIN {prev} p ON p.dim_idx = g.j
          GROUP BY g.i
        )
      ) sc
    )"""


def _pca_gram_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The one data-scaling pass of PCA: per-partition int64 gram
    tiles via mapInPandas, combined map-side (partial_sum) so the
    shuffle is O(d^2 x partitions) regardless of row count —
    plan-pinned by tests/test_plans.py::test_pca_gram_partials_combine_map_side."""
    import numpy as np

    e = load_table(spark, sf_dir, "embeddings").select("embedding")

    def local_gram(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        acc = None
        for pdf in batches:
            if pdf.empty:
                continue
            mat = np.array(
                [list(v) for v in pdf["embedding"]], dtype=np.float64
            )
            quant = np.floor(mat * PCA_UNITS + 0.5).astype(np.int64)
            g = quant.T @ quant  # exact int64 matmul
            acc = g if acc is None else acc + g
        if acc is not None:
            d = acc.shape[0]
            ii, jj = np.meshgrid(np.arange(d), np.arange(d), indexing="ij")
            yield pd.DataFrame(
                {
                    "i": ii.ravel().astype(np.int32),
                    "j": jj.ravel().astype(np.int32),
                    "val": acc.ravel(),
                }
            )

    return (
        e.mapInPandas(local_gram, schema="i int, j int, val long")
        .groupBy("i", "j")
        .agg(F.sum("val").alias("val"))
    )


@register(
    "q_emb_pca_power",
    oracle=f"""
    WITH q AS (
      SELECT vec_id,
             CAST(gs - 1 AS INTEGER) AS i,
             CAST(floor(CAST(e AS DOUBLE) * {PCA_UNITS} + 0.5) AS BIGINT)
               AS qv
      FROM (
        SELECT vec_id, unnest(embedding) AS e,
               generate_subscripts(embedding, 1) AS gs
        FROM embeddings
      )
    ),
    gram AS (
      SELECT a.i AS i, b.i AS j, sum(a.qv * b.qv) AS val
      FROM q a JOIN q b ON a.vec_id = b.vec_id
      GROUP BY a.i, b.i
    ),
    v0 AS (
      SELECT DISTINCT i AS dim_idx, CAST({PCA_UNITS} AS BIGINT) AS comp
      FROM gram
    ),
    {{iters}}
    SELECT dim_idx, CAST(comp AS BIGINT) AS comp FROM v{PCA_ITERS}
    """.replace("{iters}", ",\n    ".join(
        _pca_iter_sql(f"v{k}", f"v{k + 1}") for k in range(PCA_ITERS)
    )),
    tier="P1",
    doc="Distributed PCA (top principal direction) as ONE data pass + "
    "fixed-point power iteration — the iterative-linear-algebra "
    "pattern q_graph_pagerank established, applied to embeddings: "
    "elements quantize per-row to 1e-3 integer units inside "
    "mapInPandas, each partition computes its LOCAL 64x64 gram "
    "Q^T Q as an exact int64 numpy matmul, and only 4096-row partial "
    "gram tiles reach the exchange — at 100 TB the single pass over "
    "the vectors is embarrassingly parallel and the shuffle is O(d^2 "
    "x partitions), independent of row count. Three power-iteration "
    "rounds then run as 64-row join+groupBy plans over the tiny gram "
    "(declarative, so the same unrolled CTEs express it in the "
    "oracle), each rescaled to ~1e3 max-magnitude by EXACT integer "
    "division (Spark `div` and DuckDB integer `//` both truncate "
    "toward zero — verified on negatives) — every value in "
    "the pipeline is an exact int64, making an iterative eigenvector "
    "computation hash-verifiable bit-for-bit cross-engine. Overflow "
    "headroom: |gv| <= d * max|G| * 1e3 ~ 1e15 < 2^53 at sf0.1; at "
    "100 TB the gram partials sum in int64 (1e17 ceiling) and the "
    "iteration operates on the d x d aggregate, unchanged.",
)
def q_emb_pca_power(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np

    gram = _pca_gram_frame(spark, sf_dir)

    # r14: the power iteration runs on the DRIVER. The gram matrix is
    # d x d = 4096 int64 cells — DIMENSION-bounded, data-size
    # independent (the sanctioned bounded-collect pattern of
    # _pq_centroids' PQ_K codebook rows; allowlisted with this
    # argument in tests/test_no_driver_collect.py). The r13 form ran
    # each of the 3 iterations as a join+groupBy plan over those 4096
    # rows: correctness-equivalent but each round paid full job
    # scheduling + planning for constant-size data (measured 7.7 s vs
    # 0.9 s at sf0.1 — and the gap GROWS with cluster size, it never
    # shrinks with data). The distributed part is exactly the one
    # pass that scales with rows: per-partition int64 gram tiles plus
    # the O(d^2 x partitions) tile shuffle above. Arithmetic is
    # bit-identical (pytest-forced): int64 matmul is order-exact, and
    # Spark's `div` (truncate toward zero) is matched by
    # sign(s) * (|s| // sc), since numpy's // floors.
    rows = gram.collect()  # d^2 = 4096 rows, bounded by construction
    d = max(r["i"] for r in rows) + 1
    G = np.zeros((d, d), dtype=np.int64)
    for r in rows:
        G[r["i"], r["j"]] = r["val"]
    comp = np.full(d, PCA_UNITS, dtype=np.int64)
    for _ in range(PCA_ITERS):
        s = G @ comp  # exact int64; |gv| <= d*max|G|*1e3 ~ 1e15 << 2^63
        sc = max(int(np.max(np.abs(s))) // PCA_UNITS, 1)
        comp = np.sign(s) * (np.abs(s) // sc)
    return spark.createDataFrame(
        [(int(i), int(c)) for i, c in enumerate(comp)],
        "dim_idx int, comp long",
    )


# --- product quantization (round 5) --------------------------------------

PQ_M = 4       # subspaces (64 dims -> 4 x 16)
PQ_SUB = 16    # dims per subspace
PQ_K = 16      # centroids per subspace (the vec_id < PQ_K vectors)


def _pq_centroids(spark: SparkSession, sf_dir: str):
    """(ids, tensor): the actual vec_ids of the vec_id < PQ_K codebook
    rows (ascending) plus their (PQ_M, PQ_K, PQ_SUB) int64 centroid
    tensor quantized to 1e-3 units. Collects at most PQ_K rows — a
    constant, data-size-independent codebook (the sanctioned small-side
    pattern; at 100 TB a trained codebook is still KBs). Carrying the
    ids (ADVICE r5) keeps the emitted centroid id == the oracle's k
    even if the fixture ever has gaps below PQ_K: argmin's
    first-occurrence tiebreak on the id-sorted rows is exactly the
    oracle's ORDER BY d2, k."""
    import numpy as np

    rows = (
        load_table(spark, sf_dir, "embeddings")
        .where(F.col("vec_id") < PQ_K)
        .orderBy("vec_id")
        .select("vec_id", "embedding")
        .collect()
    )
    ids = np.array([r[0] for r in rows], dtype=np.int64)
    mat = np.array([list(r[1]) for r in rows], dtype=np.float64)
    quant = np.floor(mat * PCA_UNITS + 0.5).astype(np.int64)
    return ids, np.stack(
        [quant[:, m * PQ_SUB : (m + 1) * PQ_SUB] for m in range(PQ_M)]
    )


@register(
    "q_emb_pq_encode",
    oracle=f"""
    WITH q AS (
      SELECT vec_id, CAST(gs - 1 AS INTEGER) AS i,
             CAST(floor(CAST(e AS DOUBLE) * {PCA_UNITS} + 0.5) AS BIGINT)
               AS qv
      FROM (
        SELECT vec_id, unnest(embedding) AS e,
               generate_subscripts(embedding, 1) AS gs
        FROM embeddings
      )
    ),
    cent AS (
      SELECT vec_id AS k, i // {PQ_SUB} AS m, i % {PQ_SUB} AS d, qv AS cv
      FROM q WHERE vec_id < {PQ_K}
    ),
    dist AS (
      SELECT a.vec_id, c.m, c.k,
             sum((a.qv - c.cv) * (a.qv - c.cv)) AS d2
      FROM q a JOIN cent c
        ON c.m = a.i // {PQ_SUB} AND c.d = a.i % {PQ_SUB}
      GROUP BY a.vec_id, c.m, c.k
    ),
    best AS (
      SELECT vec_id, m, k, d2,
             row_number() OVER (PARTITION BY vec_id, m
                                ORDER BY d2, k) AS rn
      FROM dist
    )
    SELECT vec_id,
           CAST(max(CASE WHEN m = 0 THEN k END) AS BIGINT) AS c0,
           CAST(max(CASE WHEN m = 1 THEN k END) AS BIGINT) AS c1,
           CAST(max(CASE WHEN m = 2 THEN k END) AS BIGINT) AS c2,
           CAST(max(CASE WHEN m = 3 THEN k END) AS BIGINT) AS c3,
           CAST(sum(d2) AS BIGINT) AS total_d2
    FROM best WHERE rn = 1
    GROUP BY vec_id
    """,
    tier="P1",
    doc="Product-quantization encode — the ANN-family compression rung "
    "next to IVF (q_ann_ivf_topk), SRP buckets and int8 quantization: "
    "each 64-dim vector splits into 4 subvectors, each assigned to "
    "the nearest of 16 deterministic codebook centroids (the lowest-id "
    "vectors, quantized — no training RNG, so the code assignment is "
    "a pure function of the data), yielding a 4-byte code + exact "
    "integer reconstruction error. All distances are int64 sums of "
    "squared 1e-3-unit differences; argmin ties break to the lowest "
    "centroid id on both engines (numpy first-occurrence == SQL "
    "row_number ORDER BY d2, k). Spark plan: the KB-sized codebook "
    "broadcasts into an Arrow-batched mapInPandas — one data pass, no "
    "shuffle at all (the encode is a projection); the oracle computes "
    "the identical assignment relationally (explode -> join -> "
    "row_number). At 100 TB, PQ codes are what make billion-scale ANN "
    "memory-resident: 64 floats -> 4 bytes is 64x compression, and "
    "the asymmetric-distance scan over codes is a table scan of the "
    "code column only.",
)
def q_emb_pq_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    return _pq_encode_frame(spark, sf_dir, e)


def _pq_encode_frame(spark: SparkSession, sf_dir: str, e: DataFrame) -> DataFrame:
    """PQ-encode any (vec_id, embedding) frame — batch OR stream —
    with the frozen vec_id < PQ_K codebook (collected once, batch
    side, before any stream starts). Factored out of q_emb_pq_encode
    (r14) so the streaming index-ingest twin reuses the EXACT encode
    kernel rather than a re-implementation that could drift."""
    import numpy as np

    c_ids, cent = _pq_centroids(spark, sf_dir)
    bc = spark.sparkContext.broadcast((c_ids, cent))

    def encode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cb_ids, c = bc.value
        for pdf in batches:
            if pdf.empty:
                continue
            mat = np.array(
                [list(v) for v in pdf["embedding"]], dtype=np.float64
            )
            quant = np.floor(mat * PCA_UNITS + 0.5).astype(np.int64)
            out = {"vec_id": pdf["vec_id"].to_numpy(dtype=np.int64)}
            total = np.zeros(len(pdf), dtype=np.int64)
            for m in range(PQ_M):
                sub = quant[:, m * PQ_SUB : (m + 1) * PQ_SUB]
                diff = sub[:, None, :] - c[m][None, :, :]
                d2 = (diff * diff).sum(axis=2)
                k = d2.argmin(axis=1)  # first occurrence = lowest vec_id
                out[f"c{m}"] = cb_ids[k]
                total += d2[np.arange(len(pdf)), k]
            out["total_d2"] = total
            yield pd.DataFrame(out)

    return e.mapInPandas(
        encode,
        schema="vec_id long, c0 long, c1 long, c2 long, c3 long, "
        "total_d2 long",
    )


KNN_K = 5  # neighbors per vector in the kNN graph


def _knn_blocked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact kNN graph with NO driver collect: each of the B² block
    pairs keeps a per-left-vector local top-K over its right block
    (a global top-K neighbor is necessarily within the top-K of its
    own block), then one row_number window over the n·B·K candidates
    picks the global top-K per src. Rounding applied INSIDE numpy with
    the oracle's integer formula before ranking, and the merge window
    orders on the quantized sim (exact in float64) + dst — bit-identical
    to the broadcast path (pytest-asserted in test_vectors_blocked)."""
    import numpy as np

    from pyspark.sql import Window

    n = _embeddings_count(spark, sf_dir)
    pairs = _block_pair_frames(_embedding_blocks(spark, sf_dir, n))
    budget = SIMS_BUDGET_BYTES  # resolved DRIVER-side: workers
    # re-import the module, so a kernel-side read could not be
    # overridden by tests or the scale study

    def knn_per_pair(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            frames: list = []
            for lb, l_cell, rb, r_cell in zip(
                pdf["l_block"], pdf["l_rows"], pdf["r_block"], pdf["r_rows"]
            ):
                l_ids, l_mat = _cell_to_mat(l_cell)
                r_ids, r_mat = _cell_to_mat(r_cell)
                l_norms = np.sqrt((l_mat * l_mat).sum(axis=1))
                r_norms = np.sqrt((r_mat * r_mat).sum(axis=1))
                step = max(1, budget // (max(r_ids.size, 1) * 8))
                mirror = lb != rb
                k_dir = min(KNN_K, r_ids.size)
                k_mir = min(KNN_K, l_ids.size)
                # Mirror accumulators: running per-RIGHT-row top-k
                # (key, global left rank) merged across left strips.
                m_key = m_idx = None
                for s0 in range(0, l_ids.size, step):
                    sl = slice(s0, s0 + step)
                    ids_s = l_ids[sl]
                    sims = (l_mat[sl] @ r_mat.T) / np.outer(
                        l_norms[sl], r_norms
                    )
                    # Composite-key top-k per source row (_KEY_SHIFT):
                    # one argpartition per strip, no per-row Python.
                    cand = _sim_units(sims)
                    key = cand * _KEY_SHIFT - np.arange(
                        r_ids.size, dtype=np.int64
                    )
                    key[ids_s[:, None] == r_ids[None, :]] = _KEY_FLOOR
                    cols = _topk_cols(key, k_dir)
                    valid = (
                        np.take_along_axis(key, cols, axis=1)
                        > _KEY_PINNED_MAX  # self (floored) + pinned
                    ).ravel()
                    frames.append(
                        pd.DataFrame(
                            {
                                "src": np.repeat(ids_s, cols.shape[1])[
                                    valid
                                ],
                                "dst": r_ids[cols].ravel()[valid],
                                "sim": np.take_along_axis(
                                    cand, cols, axis=1
                                ).ravel()[valid]
                                / 1e4,
                            }
                        )
                    )
                    if mirror:
                        # Rank within the WHOLE left cell (global row
                        # offset) so cross-strip ties stay exact; no
                        # self cells off the diagonal.
                        key_t = np.ascontiguousarray(
                            cand.T
                        ) * _KEY_SHIFT - (
                            s0 + np.arange(ids_s.size, dtype=np.int64)
                        )
                        cols_t = _topk_cols(
                            key_t, min(k_mir, ids_s.size)
                        )
                        sk = np.take_along_axis(key_t, cols_t, axis=1)
                        si = cols_t + s0
                        if m_key is None:
                            m_key, m_idx = sk, si
                        else:
                            ck = np.concatenate([m_key, sk], axis=1)
                            ci = np.concatenate([m_idx, si], axis=1)
                            sel = _topk_cols(ck, k_mir)
                            m_key = np.take_along_axis(ck, sel, axis=1)
                            m_idx = np.take_along_axis(ci, sel, axis=1)
                if mirror and m_key is not None:
                    # key = cand*SHIFT - rank, rank == m_idx: exact
                    # quantized-sim decode.
                    okm = (m_key > _KEY_PINNED_MAX).ravel()  # no pinned
                    frames.append(
                        pd.DataFrame(
                            {
                                "src": np.repeat(r_ids, m_key.shape[1])[
                                    okm
                                ],
                                "dst": l_ids[m_idx.ravel()[okm]],
                                "sim": (
                                    (m_key + m_idx) // _KEY_SHIFT
                                ).ravel()[okm]
                                / 1e4,
                            }
                        )
                    )
            if frames:
                yield pd.concat(frames, ignore_index=True)

    cand = pairs.mapInPandas(
        knn_per_pair, schema="src long, dst long, sim double"
    )
    w = Window.partitionBy("src").orderBy(F.desc("sim"), F.asc("dst"))
    return (
        cand.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= KNN_K)
        .select("src", "rank", "dst", "sim")
    )


@register(
    "q_emb_knn_graph",
    oracle=f"""
    WITH pairs AS (
      SELECT a.vec_id AS src, b.vec_id AS dst,
             list_cosine_similarity(
               list_transform(a.embedding, x -> CAST(x AS DOUBLE)),
               list_transform(b.embedding, x -> CAST(x AS DOUBLE))
             ) AS sim
      FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id
    ),
    ranked AS (
      SELECT src, dst,
             floor(sim * 10000 + 0.5) / 10000 AS sim,
             row_number() OVER (
               PARTITION BY src
               ORDER BY floor(sim * 10000 + 0.5) DESC, dst
             ) AS rank
      FROM pairs
    )
    SELECT src, CAST(rank AS BIGINT) AS rank, dst, sim
    FROM ranked WHERE rank <= {KNN_K}
    """,
    tier="P1",
    doc="kNN-graph construction (top-5 cosine neighbors per vector) — "
    "the primitive under graph-based ANN indexes (HNSW/NSG layers "
    "are refined kNN graphs) and under semantic-dedup clustering "
    "(connected components over the kNN edges generalize "
    "q_dedup_components to embeddings). Same execution doctrine as "
    "q_sim_cosine_topk: per-partition numpy products against the "
    "gated broadcast matrix, rounding applied INSIDE numpy with the "
    "oracle's formula before ranking so ties resolve identically, "
    "ordered (rank is part of the output, making the graph edge "
    "list self-describing). 100 TB: above BROADCAST_MAX_ROWS the "
    "same per-row top-k runs against block-partitioned products, "
    "and an NN-descent refinement loop would iterate on this edge "
    "list — each round a join+groupBy over (src, dst) pairs.",
)
def q_emb_knn_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np

    n = _embeddings_count(spark, sf_dir)
    if n > BROADCAST_MAX_ROWS:
        return _knn_blocked(spark, sf_dir)
    ids, mat = _embeddings_matrix(spark, sf_dir)
    norms = np.sqrt((mat * mat).sum(axis=1))
    bc = spark.sparkContext.broadcast((ids, mat, norms))
    step = _sims_step(n)  # driver-side resolution (see q_sim_cosine_topk)

    def knn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        all_ids, all_mat, all_norms = bc.value
        n_all = all_ids.size
        col_rank = np.arange(n_all, dtype=np.int64)
        k_eff = min(KNN_K, max(n_all - 1, 1))
        for pdf in batches:
            if pdf.empty:
                continue
            batch_ids = pdf["vec_id"].to_numpy(dtype=np.int64)
            # Row-chunked product (SIMS_BUDGET_BYTES): chunk×n, never
            # batch×n — same per-row math, same output. Composite-key
            # top-k replaces the per-row lexsort (see _KEY_SHIFT).
            for cs in range(0, batch_ids.size, step):
                row_ids = batch_ids[cs : cs + step]
                idx = np.searchsorted(all_ids, row_ids)
                sims = (all_mat[idx] @ all_mat.T) / np.outer(
                    all_norms[idx], all_norms
                )
                cand = _sim_units(sims)
                key = cand * _KEY_SHIFT - col_rank[None, :]
                key[np.arange(row_ids.size), idx] = _KEY_FLOOR  # self
                cols = _topk_cols(key, k_eff)
                # Pinned degenerates sort last, so dropping them keeps
                # the surviving ranks contiguous from 1 (ADVICE r11).
                valid = (
                    np.take_along_axis(key, cols, axis=1) > _KEY_PINNED_MAX
                ).ravel()
                yield pd.DataFrame(
                    {
                        "src": np.repeat(row_ids, k_eff)[valid],
                        "rank": np.tile(
                            np.arange(1, k_eff + 1, dtype=np.int64),
                            row_ids.size,
                        )[valid],
                        "dst": all_ids[cols].ravel()[valid],
                        "sim": np.take_along_axis(cand, cols, axis=1).ravel()[
                            valid
                        ]
                        / 1e4,
                    }
                )

    src = _fanout(load_table(spark, sf_dir, "embeddings").select("vec_id"), n)
    return src.mapInPandas(
        knn, schema="src long, rank long, dst long, sim double"
    )


# --- NN-descent refinement over the SRP-seeded graph (round 6) ----------

NND_SEED_K = 3  # seed neighbors per vector (within SRP bucket)
NND_K = 3       # output neighbors per vector per descent round
NND_ROUNDS = 2  # bounded refinement rounds (r13: was 1)


def _score_pairs(spark: SparkSession, sf_dir: str, pairs: DataFrame) -> DataFrame:
    """(src, dst) candidate pairs -> (src, dst, sim_u) with sim_u the
    oracle's integer-quantized cosine floor(sim*1e4+0.5). Pair-based
    scoring: each side's embedding arrives via an equi-join on vec_id
    (the shuffle moves one vector per pair occurrence, never a matrix
    broadcast), and the cosine evaluates vectorized in numpy over each
    Arrow batch — the candidate set is graph-sparse (O(n·k²)), so this
    is the scale path NN-descent is famous for."""
    import numpy as np

    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    j = (
        pairs.join(
            e.select(
                F.col("vec_id").alias("src"), F.col("embedding").alias("emb_a")
            ),
            "src",
        )
        .join(
            e.select(
                F.col("vec_id").alias("dst"), F.col("embedding").alias("emb_b")
            ),
            "dst",
        )
        .select("src", "dst", "emb_a", "emb_b")
    )

    def score(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            a = np.array(pdf["emb_a"].tolist(), dtype=np.float64)
            b = np.array(pdf["emb_b"].tolist(), dtype=np.float64)
            s = (a * b).sum(axis=1) / (
                np.sqrt((a * a).sum(axis=1)) * np.sqrt((b * b).sum(axis=1))
            )
            su = _sim_units(s)
            real = su >= _UNITS_MIN  # pinned degenerates never score
            yield pd.DataFrame(
                {
                    "src": pdf["src"][real],
                    "dst": pdf["dst"][real],
                    "sim_u": su[real],
                }
            )

    return j.mapInPandas(score, schema="src long, dst long, sim_u long")


def _nnd_topk(scored: DataFrame, k: int) -> DataFrame:
    from pyspark.sql import Window

    w = Window.partitionBy("src").orderBy(F.desc("sim_u"), F.asc("dst"))
    return scored.withColumn("rank", F.row_number().over(w)).where(
        F.col("rank") <= k
    )


def _id_rank(e_ids: DataFrame) -> DataFrame:
    """(vec_id) -> (vec_id, r) with r the exact 0-based global rank of
    vec_id — DISTRIBUTED, never a single-task global sort (the window
    guard's textbook stall): 32 approx-percentile cuts broadcast to
    bucket every id (bucket index = count of cuts below, monotone in
    vec_id), per-bucket counts prefix-sum into offsets over the <= 33
    bucket rows (bounded by construction — allowlisted), and the exact
    rank is offset + row_number within the bucket partition. The
    q_crm_rfm_segments distributed-ntile recipe, applied to ids."""
    from pyspark.sql import Window

    n_b = 32
    pcts = [i / n_b for i in range(1, n_b)]
    cuts = e_ids.agg(
        F.percentile_approx("vec_id", pcts, 10000).alias("cuts")
    )
    b = e_ids.crossJoin(F.broadcast(cuts)).select(
        "vec_id",
        F.size(F.filter("cuts", lambda x: x < F.col("vec_id"))).alias("bkt"),
    )
    woff = Window.orderBy("bkt").rowsBetween(Window.unboundedPreceding, -1)
    offs = (
        b.groupBy("bkt")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(
            "bkt",
            F.coalesce(F.sum("cnt").over(woff), F.lit(0)).alias("off"),
        )
    )
    w = Window.partitionBy("bkt").orderBy("vec_id")
    return b.join(F.broadcast(offs), "bkt").select(
        "vec_id",
        (F.col("off") + F.row_number().over(w) - 1).cast("long").alias("r"),
    )



@register(
    "q_emb_nn_descent",
    oracle=f"""
    WITH qv AS (
      SELECT vec_id, {_sql_q_vec()} AS q
      FROM (
        SELECT vec_id, embedding,
               list_max(list_transform(embedding,
                 x -> abs(CAST(x AS DOUBLE)))) AS scale
        FROM embeddings
      )
    ),
    b AS (SELECT vec_id, {_sql_srp_bucket()} AS bucket FROM qv),
    ranked AS (
      SELECT vec_id, row_number() OVER (ORDER BY vec_id) - 1 AS r
      FROM embeddings
    ),
    nn AS (SELECT count(*) AS n FROM embeddings),
    rings AS (
      SELECT a.vec_id AS src, bb.vec_id AS dst
      FROM ranked a CROSS JOIN nn JOIN ranked bb
        ON bb.r = (a.r + n // 2) % n
        OR bb.r = (a.r + n // 4) % n
        OR bb.r = (a.r + n // 8) % n
      WHERE a.vec_id <> bb.vec_id
    ),
    seed_pairs AS (
      SELECT DISTINCT src, dst FROM (
        SELECT a.vec_id AS src, c.vec_id AS dst
        FROM b a JOIN b c ON a.bucket = c.bucket AND a.vec_id <> c.vec_id
        UNION ALL
        SELECT src, dst FROM rings
      )
    ),
    seed_scored AS (
      SELECT sp.src, sp.dst,
             floor(list_cosine_similarity(
               list_transform(ea.embedding, x -> CAST(x AS DOUBLE)),
               list_transform(eb.embedding, x -> CAST(x AS DOUBLE))
             ) * 10000 + 0.5) AS sim_u
      FROM seed_pairs sp
      JOIN embeddings ea ON ea.vec_id = sp.src
      JOIN embeddings eb ON eb.vec_id = sp.dst
    ),
    seed_topk AS (
      SELECT src, dst FROM (
        SELECT src, dst,
               row_number() OVER (PARTITION BY src
                                  ORDER BY sim_u DESC, dst) AS rn
        FROM seed_scored
      ) WHERE rn <= {NND_SEED_K}
    ),
    undirected1 AS (
      SELECT DISTINCT u, v FROM (
        SELECT src AS u, dst AS v FROM seed_topk
        UNION ALL SELECT dst, src FROM seed_topk
      )
    ),
    cand1 AS (
      SELECT DISTINCT src, dst FROM (
        SELECT e1.u AS src, e2.v AS dst
        FROM undirected1 e1 JOIN undirected1 e2 ON e2.u = e1.v
        WHERE e2.v <> e1.u
        UNION ALL
        SELECT u, v FROM undirected1
      )
    ),
    scored1 AS (
      SELECT c.src, c.dst,
             floor(list_cosine_similarity(
               list_transform(ea.embedding, x -> CAST(x AS DOUBLE)),
               list_transform(eb.embedding, x -> CAST(x AS DOUBLE))
             ) * 10000 + 0.5) AS sim_u
      FROM cand1 c
      JOIN embeddings ea ON ea.vec_id = c.src
      JOIN embeddings eb ON eb.vec_id = c.dst
    ),
    top1 AS (
      SELECT src, dst FROM (
        SELECT src, dst,
               row_number() OVER (PARTITION BY src
                                  ORDER BY sim_u DESC, dst) AS rn
        FROM scored1
      ) WHERE rn <= {NND_K}
    ),
    undirected2 AS (
      SELECT DISTINCT u, v FROM (
        SELECT src AS u, dst AS v FROM top1
        UNION ALL SELECT dst, src FROM top1
      )
    ),
    cand2 AS (
      SELECT DISTINCT src, dst FROM (
        SELECT e1.u AS src, e2.v AS dst
        FROM undirected2 e1 JOIN undirected2 e2 ON e2.u = e1.v
        WHERE e2.v <> e1.u
        UNION ALL
        SELECT u, v FROM undirected2
      )
    ),
    scored2 AS (
      SELECT c.src, c.dst,
             floor(list_cosine_similarity(
               list_transform(ea.embedding, x -> CAST(x AS DOUBLE)),
               list_transform(eb.embedding, x -> CAST(x AS DOUBLE))
             ) * 10000 + 0.5) AS sim_u
      FROM cand2 c
      JOIN embeddings ea ON ea.vec_id = c.src
      JOIN embeddings eb ON eb.vec_id = c.dst
    ),
    top2 AS (
      SELECT src, dst, sim_u,
             row_number() OVER (PARTITION BY src
                                ORDER BY sim_u DESC, dst) AS rank
      FROM scored2
    ),
    exact3 AS (
      SELECT src, dst FROM (
        SELECT a.vec_id AS src, b.vec_id AS dst,
               row_number() OVER (
                 PARTITION BY a.vec_id
                 ORDER BY floor(list_cosine_similarity(
                   list_transform(a.embedding, x -> CAST(x AS DOUBLE)),
                   list_transform(b.embedding, x -> CAST(x AS DOUBLE))
                 ) * 10000 + 0.5) DESC, b.vec_id) AS rn
        FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id
      ) WHERE rn <= {NND_K}
    ),
    h1 AS (
      SELECT t.src, count(*) AS hits_r1
      FROM top1 t JOIN exact3 e ON e.src = t.src AND e.dst = t.dst
      GROUP BY t.src
    ),
    h2 AS (
      SELECT t.src, count(*) AS hits_r2
      FROM top2 t JOIN exact3 e ON e.src = t.src AND e.dst = t.dst
      WHERE t.rank <= {NND_K}
      GROUP BY t.src
    )
    SELECT t.src, CAST(t.rank AS BIGINT) AS rank, t.dst,
           t.sim_u / 10000 AS sim,
           CAST(coalesce(h1.hits_r1, 0) AS BIGINT) AS hits_r1,
           CAST(coalesce(h2.hits_r2, 0) AS BIGINT) AS hits_r2
    FROM top2 t
    LEFT JOIN h1 ON h1.src = t.src
    LEFT JOIN h2 ON h2.src = t.src
    WHERE t.rank <= {NND_K}
    """,
    tier="P1",
    doc="Multi-round NN-descent (r13: VERDICT r12 item 4 extended the "
    "single refinement round to a bounded 2-round loop with a "
    "per-round exact-recall witness) — the graph-ANN construction "
    "loop (NN-descent / HNSW layer building) expressed relationally: "
    "seed each vector's neighbor list from its SRP LSH bucket "
    "(q_ann_srp_buckets' data-independent assignment, integer-exact "
    "cross-engine) PLUS three deterministic long-range ring edges "
    "(id-rank + n/2, n/4, n/8 mod n — classic NN-descent random "
    "init / NSW long links made deterministic; without them the "
    "tiny SRP components hit their fixed point before round 2), "
    "then per round apply the NN-descent step 'my "
    "neighbor's neighbors are my candidates' — symmetrize the "
    "current graph, propose all 2-hop endpoints plus the current "
    "edges, re-score with the quantized cosine, keep top-3 per "
    "vector. No all-pairs product ever forms in the descent: "
    "candidate volume is O(n*k^2) graph-sparse pairs per round, each "
    "scored by joining the two endpoint vectors (pair-based "
    "mapInPandas numpy, no matrix broadcast). The emitted rows are "
    "the final round's graph plus per-src EXACT recall companions "
    "hits_r1/hits_r2 = |round-k top-3 ∩ exact top-3| (ground truth = "
    "q_emb_knn_graph's all-pairs construction — at 100 TB that side "
    "is the sampled recall-monitoring job, not the build path). "
    "hits_r2 >= hits_r1 holds per src BY CONSTRUCTION: round r's "
    "top-k is a candidate subset of round r+1, and an exact-top-3 "
    "member can never be outranked by three others, so descent "
    "recall is monotone non-decreasing — pytest asserts it and the "
    "driver hashes the exact counts. Quantize-then-rank tie "
    "discipline as q_sim_cosine_topk; per round the shuffles are two "
    "edge-list self-joins and one groupBy(src) top-k, all keyed by "
    "vector id, and the LSH seed bounds round-0 candidate skew.",
)
def q_emb_nn_descent(spark: SparkSession, sf_dir: str) -> DataFrame:
    per = _srp_per_vec(spark, sf_dir)
    seed_srp = (
        per.alias("a")
        .join(per.alias("c"), F.col("a.srp_bucket") == F.col("c.srp_bucket"))
        .where(F.col("a.vec_id") != F.col("c.vec_id"))
        .select(
            F.col("a.vec_id").alias("src"), F.col("c.vec_id").alias("dst")
        )
    )
    # Deterministic long-range ring edges (r13): rank every vector by
    # vec_id and link each to the vectors n/2, n/4 and n/8 positions
    # ahead (mod n) — the descent-graph connector. SRP buckets alone
    # average ~2.3 vectors at sf0.01, so the seed graph's components
    # were too small for 2-hop proposals to reach anything new and
    # round 2 hit its fixed point immediately (measured: 24 -> 24
    # truth hits). The rings are classic NN-descent random init /
    # NSW long links made deterministic and SQL-expressible; with
    # them the measured curve is seed 31 -> r1 73 -> r2 115 hits.
    # The id rank comes from the DISTRIBUTED two-phase form (_id_rank)
    # — the window guard rightly rejected the naive global row_number
    # over vec_ids as a single-task sort at 100 TB.
    e_ids = load_table(spark, sf_dir, "embeddings").select("vec_id")
    ranked = _id_rank(
        e_ids
    ).localCheckpoint()  # joined three times; AQE sees the tiny size
    n = ranked.count()
    rings = None
    for off in (n // 2, n // 4, n // 8):
        ring = (
            ranked.alias("a")
            .join(
                ranked.alias("bb"),
                F.col("bb.r") == (F.col("a.r") + F.lit(off)) % F.lit(n),
            )
            .select(
                F.col("a.vec_id").alias("src"), F.col("bb.vec_id").alias("dst")
            )
        )
        rings = ring if rings is None else rings.unionAll(ring)
    seed_pairs = (
        seed_srp.unionAll(rings)
        .where(F.col("src") != F.col("dst"))
        .distinct()
    )
    # Checkpoint layout (re-measured r15, VERDICT r14 item 2): the
    # narrow-triple variant — checkpoint each round's (src, dst,
    # sim_u) top-k and the seed, drop the undirected checkpoints, so
    # every mapInPandas rescore executes exactly once — was built and
    # interleave-A/B'd (3 reps x min-of-2, fresh JVMs): after
    # 5.58-6.31 s vs shipped 5.04-5.90 s in the quiet runs — ~0.5 s
    # SLOWER, the same verdict as the r14 add-top-k-checkpoints
    # experiment from the other direction. At sf0.1 the re-executed
    # scoring subtree (bounded: cand is O(n*k^2) pairs from the
    # PREVIOUS round's checkpoint) is cheaper than the extra eager
    # materialization jobs. Shipped form stays: checkpoint the
    # undirected mirror (joined twice in-round), re-score per
    # companion.
    edges = _nnd_topk(
        _score_pairs(spark, sf_dir, seed_pairs), NND_SEED_K
    ).select("src", "dst")

    rounds: list[DataFrame] = []
    for _ in range(NND_ROUNDS):
        undirected = (
            edges.select(F.col("src").alias("u"), F.col("dst").alias("v"))
            .unionAll(
                edges.select(F.col("dst").alias("u"), F.col("src").alias("v"))
            )
            .distinct()
            .localCheckpoint()  # joined twice below; prior round runs once
        )
        two_hop = (
            undirected.alias("e1")
            .join(undirected.alias("e2"), F.col("e2.u") == F.col("e1.v"))
            .where(F.col("e2.v") != F.col("e1.u"))
            .select(F.col("e1.u").alias("src"), F.col("e2.v").alias("dst"))
        )
        cand = two_hop.unionAll(
            undirected.select(F.col("u").alias("src"), F.col("v").alias("dst"))
        ).distinct()
        topk = _nnd_topk(_score_pairs(spark, sf_dir, cand), NND_K)
        rounds.append(topk)
        edges = topk.select("src", "dst")

    # exact ground truth for the recall companions: the kNN graph's
    # top-NND_K edges (hash-proven construction, sampled at scale).
    # Checkpointed narrow (two longs/row): hits() joins it twice —
    # without this the whole kNN-graph construction ran twice per query.
    truth = (
        q_emb_knn_graph(spark, sf_dir)
        .where(F.col("rank") <= NND_K)
        .select("src", "dst")
        .localCheckpoint()
    )

    def hits(topk: DataFrame, col: str) -> DataFrame:
        return (
            topk.select("src", "dst")
            .join(truth, ["src", "dst"], "left_semi")
            .groupBy("src")
            .agg(F.count(F.lit(1)).alias(col))
        )

    final = rounds[-1]
    return (
        final.join(hits(rounds[0], "hits_r1"), "src", "left")
        .join(hits(final, "hits_r2"), "src", "left")
        .select(
            "src",
            F.col("rank").cast("long").alias("rank"),
            "dst",
            (F.col("sim_u") / 1e4).alias("sim"),
            F.coalesce(F.col("hits_r1"), F.lit(0))
            .cast("long")
            .alias("hits_r1"),
            F.coalesce(F.col("hits_r2"), F.lit(0))
            .cast("long")
            .alias("hits_r2"),
        )
    )


# --- PQ asymmetric-distance search (round 6) ----------------------------

ADC_K = 10          # neighbors per query
ADC_N_QUERIES = 20  # query set = the 20 lowest vec_ids (as q_ann_ivf_topk)


def _adc_codes_lut(
    spark: SparkSession, sf_dir: str, n_queries: int = ADC_N_QUERIES
) -> tuple[DataFrame, DataFrame]:
    """(codes, lut) — the shared ADC machinery of q_ann_pq_adc_topk
    and q_ann_ivfpq_topk: codes melts every vector's 4-byte PQ code to
    (vec_id, m, k) rows; lut is each query's (subspace x centroid)
    squared-distance table, built relationally (posexplode of the
    20 query vectors x the 16-vector codebook; no collect). The
    construction is byte-for-byte what q_ann_pq_adc_topk shipped in
    r6, so the refactor leaves its physical plan unchanged."""
    codes = q_emb_pq_encode(spark, sf_dir).select(
        "vec_id", F.expr("stack(4, 0, c0, 1, c1, 2, c2, 3, c3) AS (m, k)")
    )
    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    qids = (
        e.select("vec_id").orderBy("vec_id").limit(n_queries)
    ).select(F.col("vec_id").alias("query_id"))

    def flat(df: DataFrame, id_alias: str) -> DataFrame:
        return df.select(
            F.col("vec_id").alias(id_alias),
            F.posexplode("embedding").alias("i", "x"),
        ).select(
            id_alias,
            F.expr(f"i div {PQ_SUB}").alias("m"),
            (F.col("i") % PQ_SUB).alias("d"),
            F.floor(F.col("x").cast("double") * PCA_UNITS + F.lit(0.5))
            .cast("long")
            .alias("u"),
        )

    qflat = flat(
        e.join(F.broadcast(qids), e.vec_id == qids.query_id).select(
            "vec_id", "embedding"
        ),
        "qid",
    )
    centflat = flat(e.where(F.col("vec_id") < PQ_K), "k")
    lut = (
        qflat.join(
            centflat.select(
                F.col("k"), F.col("m").alias("cm"), F.col("d").alias("cd"),
                F.col("u").alias("cu"),
            ),
            (F.col("m") == F.col("cm")) & (F.col("d") == F.col("cd")),
        )
        .groupBy(F.col("qid").alias("query_id"), "m", "k")
        .agg(
            F.sum(
                (F.col("u") - F.col("cu")) * (F.col("u") - F.col("cu"))
            ).alias("d2")
        )
    )
    return codes, lut



@register(
    "q_ann_pq_adc_topk",
    oracle=f"""
    WITH q AS (
      SELECT vec_id, CAST(gs - 1 AS INTEGER) AS i,
             CAST(floor(CAST(e AS DOUBLE) * {PCA_UNITS} + 0.5) AS BIGINT)
               AS qv
      FROM (
        SELECT vec_id, unnest(embedding) AS e,
               generate_subscripts(embedding, 1) AS gs
        FROM embeddings
      )
    ),
    cent AS (
      SELECT vec_id AS k, i // {PQ_SUB} AS m, i % {PQ_SUB} AS d, qv AS cv
      FROM q WHERE vec_id < {PQ_K}
    ),
    dist AS (
      SELECT a.vec_id, c.m, c.k,
             sum((a.qv - c.cv) * (a.qv - c.cv)) AS d2
      FROM q a JOIN cent c
        ON c.m = a.i // {PQ_SUB} AND c.d = a.i % {PQ_SUB}
      GROUP BY a.vec_id, c.m, c.k
    ),
    codes AS (
      SELECT vec_id, m, k FROM (
        SELECT vec_id, m, k,
               row_number() OVER (PARTITION BY vec_id, m
                                  ORDER BY d2, k) AS rn
        FROM dist
      ) WHERE rn = 1
    ),
    queries AS (
      SELECT vec_id AS query_id FROM embeddings
      ORDER BY vec_id LIMIT {ADC_N_QUERIES}
    ),
    lut AS (
      SELECT d.vec_id AS query_id, d.m, d.k, d.d2
      FROM dist d JOIN queries ON d.vec_id = queries.query_id
    ),
    adc AS (
      SELECT l.query_id, co.vec_id, CAST(sum(l.d2) AS BIGINT) AS adc_d2
      FROM codes co JOIN lut l ON l.m = co.m AND l.k = co.k
      GROUP BY l.query_id, co.vec_id
    ),
    ranked AS (
      SELECT query_id, vec_id, adc_d2,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY adc_d2, vec_id) AS rn
      FROM adc WHERE vec_id <> query_id
    )
    SELECT query_id, CAST(rn AS BIGINT) AS rank, vec_id, adc_d2
    FROM ranked WHERE rn <= {ADC_K}
    """,
    tier="P1",
    doc="PQ asymmetric-distance search (ADC) — the step that makes "
    "billion-scale ANN memory-resident: queries are never quantized; "
    "each query precomputes a (subspace x centroid) distance lookup "
    "table against the PQ codebook, and every database vector's "
    "approximate distance is just 4 table lookups summed over its "
    "4-byte code (q_emb_pq_encode's output). Every quantity is exact "
    "int64 (1e-3-unit squared distances), so the hash check needs no "
    "witness — the full FAISS-style IVF+PQ stack is now covered "
    "end-to-end: cells (q_ann_ivf_topk), codes (q_emb_pq_encode), "
    "ADC scan (this). Spark plan: codes melt to (vec_id, m, k) rows, "
    "the 1 280-row LUT broadcasts, one equi-join + groupBy(query, "
    "vec) sums the 4 terms, row_number takes top-10 — the scan "
    "touches ONLY the code column, which is the entire point of PQ "
    "(64 floats -> 4 bytes, so a 100 TB vector corpus scans as "
    "~1.5 TB of codes, embarrassingly parallel, no vector data "
    "moving). LUT construction is itself relational (posexplode of "
    "the 20 query vectors x the 16-vector codebook), no collect.",
)
def q_ann_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    codes, lut = _adc_codes_lut(spark, sf_dir)
    adc = (
        codes.join(F.broadcast(lut), ["m", "k"])
        .groupBy("query_id", "vec_id")
        .agg(F.sum("d2").alias("adc_d2"))
    )
    w = Window.partitionBy("query_id").orderBy(F.asc("adc_d2"), F.asc("vec_id"))
    return (
        adc.where(F.col("vec_id") != F.col("query_id"))
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= ADC_K)
        .select("query_id", "rank", "vec_id", "adc_d2")
    )


IVFPQ_NPROBE = 4  # coarse cells probed per query (of PQ_K = 16)

# Shared CTE preamble of the ADC-family oracles: quantized flats,
# codebook distances, per-vector codes, the query set and its LUT —
# textually identical to q_ann_pq_adc_topk's oracle so the family
# stays provably the same machinery. Parameterized by the query-set
# size (q_ann_index_partitioned uses 3 so its probe union is a
# proper subset of the 16 cells and the partition pruning is real).
def _adc_oracle_preamble(n_queries: int = ADC_N_QUERIES) -> str:
    return f"""
    q AS (
      SELECT vec_id, CAST(gs - 1 AS INTEGER) AS i,
             CAST(floor(CAST(e AS DOUBLE) * {PCA_UNITS} + 0.5) AS BIGINT)
               AS qv
      FROM (
        SELECT vec_id, unnest(embedding) AS e,
               generate_subscripts(embedding, 1) AS gs
        FROM embeddings
      )
    ),
    cent AS (
      SELECT vec_id AS k, i // {PQ_SUB} AS m, i % {PQ_SUB} AS d, qv AS cv
      FROM q WHERE vec_id < {PQ_K}
    ),
    dist AS (
      SELECT a.vec_id, c.m, c.k,
             sum((a.qv - c.cv) * (a.qv - c.cv)) AS d2
      FROM q a JOIN cent c
        ON c.m = a.i // {PQ_SUB} AND c.d = a.i % {PQ_SUB}
      GROUP BY a.vec_id, c.m, c.k
    ),
    codes AS (
      SELECT vec_id, m, k FROM (
        SELECT vec_id, m, k,
               row_number() OVER (PARTITION BY vec_id, m
                                  ORDER BY d2, k) AS rn
        FROM dist
      ) WHERE rn = 1
    ),
    queries AS (
      SELECT vec_id AS query_id FROM embeddings
      ORDER BY vec_id LIMIT {n_queries}
    ),
    lut AS (
      SELECT d.vec_id AS query_id, d.m, d.k, d.d2
      FROM dist d JOIN queries ON d.vec_id = queries.query_id
    )
"""


_ADC_ORACLE_PREAMBLE = _adc_oracle_preamble()


@register(
    "q_ann_ivfpq_topk",
    oracle=f"""
    WITH {_ADC_ORACLE_PREAMBLE},
    probe AS (
      SELECT query_id, k AS cell FROM (
        SELECT query_id, k,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY d2, k) AS rn
        FROM lut WHERE m = 0
      ) WHERE rn <= {IVFPQ_NPROBE}
    ),
    cellmap AS (SELECT vec_id, k AS cell FROM codes WHERE m = 0),
    cand AS (
      SELECT p.query_id, cm.vec_id
      FROM probe p JOIN cellmap cm ON cm.cell = p.cell
      WHERE cm.vec_id <> p.query_id
    ),
    adc_full AS (
      SELECT l.query_id, co.vec_id, CAST(sum(l.d2) AS BIGINT) AS adc_d2
      FROM codes co JOIN lut l ON l.m = co.m AND l.k = co.k
      GROUP BY l.query_id, co.vec_id
    ),
    full10 AS (
      SELECT query_id, vec_id FROM (
        SELECT query_id, vec_id,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY adc_d2, vec_id) AS rn
        FROM adc_full WHERE vec_id <> query_id
      ) WHERE rn <= {ADC_K}
    ),
    probed AS (
      SELECT c.query_id, c.vec_id, af.adc_d2,
             row_number() OVER (PARTITION BY c.query_id
                                ORDER BY af.adc_d2, c.vec_id) AS rn
      FROM cand c
      JOIN adc_full af
        ON af.query_id = c.query_id AND af.vec_id = c.vec_id
    ),
    hits AS (
      SELECT p.query_id, count(*) AS hits10
      FROM probed p
      JOIN full10 f ON f.query_id = p.query_id AND f.vec_id = p.vec_id
      WHERE p.rn <= {ADC_K}
      GROUP BY p.query_id
    )
    SELECT p.query_id, CAST(p.rn AS BIGINT) AS rank, p.vec_id, p.adc_d2,
           CAST(coalesce(h.hits10, 0) AS BIGINT) AS hits10
    FROM probed p LEFT JOIN hits h ON h.query_id = p.query_id
    WHERE p.rn <= {ADC_K}
    """,
    tier="P2",
    doc="IVF+PQ end-to-end (VERDICT r12 item 3) — the FAISS-style "
    "composition: route each query to coarse cells, then ADC-scan "
    "ONLY the probed cells' PQ codes. The coarse quantizer is the PQ "
    "subspace-0 codebook itself (cell = c0; a query's probe list = "
    f"its {IVFPQ_NPROBE} lowest-d2 m=0 LUT entries), which keeps the "
    "WHOLE composition integer-deterministic and SQL-expressible, so "
    "— unlike the KMeans-celled q_ann_ivf_topk, which needs the "
    "witness pattern — the probed top-10 rows hash bit-exact. The "
    "recall companion is exact too: hits10 = |probed top-10 ∩ "
    "full-ADC top-10| per query rides as a hashed BIGINT (measured "
    "macro recall 0.76 at sf0.01 probing 4/16 cells = ~32% of "
    "codes; the SRP-cell router was measured first and REJECTED at "
    "0.245 — direction buckets don't route quantized-L2 ADC). At "
    "100 TB: cell is the code table's partition key, the probe "
    "filter is partition pruning, and the scan reads 4-byte codes "
    "only — query cost is nprobe/n_cells of a codes-only sweep, no "
    "embedding ever shuffles (the full-ADC companion is the sampled "
    "ground-truth job, exactly like q_ann_ivf_topk's exact side).",
)
def q_ann_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    codes, lut = _adc_codes_lut(spark, sf_dir)
    # lut is 20 queries x 4 subspaces x 16 centroids = 1 280 rows and
    # feeds three consumers (probe routing, probed ADC, full-ADC
    # companion): one eager materialization, then broadcast joins.
    lut = lut.localCheckpoint()
    cellmap = codes.where(F.col("m") == 0).select(
        "vec_id", F.col("k").alias("cell")
    )
    wc = Window.partitionBy("query_id").orderBy(F.asc("d2"), F.asc("k"))
    probe = (
        lut.where(F.col("m") == 0)
        .withColumn("rn", F.row_number().over(wc))
        .where(F.col("rn") <= IVFPQ_NPROBE)
        .select("query_id", F.col("k").alias("cell"))
    )
    cand = (
        F.broadcast(probe)
        .join(cellmap, "cell")
        .select("query_id", "vec_id")
        .where(F.col("query_id") != F.col("vec_id"))
    )
    adc_probed = (
        cand.join(codes, "vec_id")
        .join(F.broadcast(lut), ["query_id", "m", "k"])
        .groupBy("query_id", "vec_id")
        .agg(F.sum("d2").alias("adc_d2"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.asc("adc_d2"), F.asc("vec_id")
    )
    probed = (
        adc_probed.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= ADC_K)
    )
    full10 = (
        codes.join(F.broadcast(lut), ["m", "k"])
        .groupBy("query_id", "vec_id")
        .agg(F.sum("d2").alias("adc_d2"))
        .where(F.col("vec_id") != F.col("query_id"))
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= ADC_K)
        .select("query_id", "vec_id")
    )
    hits = (
        probed.join(full10, ["query_id", "vec_id"], "left_semi")
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("hits10"))
    )
    return (
        probed.join(F.broadcast(hits), "query_id", "left")
        .select(
            "query_id",
            "rank",
            "vec_id",
            "adc_d2",
            F.coalesce(F.col("hits10"), F.lit(0)).cast("long").alias("hits10"),
        )
    )


IDX_N_QUERIES = 3  # small probe set => probe union < 16 cells, so the
                   # stored-index query demonstrates REAL pruning
                   # (bounded: <= IDX_N_QUERIES * IVFPQ_NPROBE = 12)


@register(
    "q_ann_index_partitioned",
    oracle=f"""
    WITH {_adc_oracle_preamble(IDX_N_QUERIES)},
    probe AS (
      SELECT query_id, k AS cell FROM (
        SELECT query_id, k,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY d2, k) AS rn
        FROM lut WHERE m = 0
      ) WHERE rn <= {IVFPQ_NPROBE}
    ),
    cellmap AS (SELECT vec_id, k AS cell FROM codes WHERE m = 0),
    cand AS (
      SELECT p.query_id, cm.vec_id
      FROM probe p JOIN cellmap cm ON cm.cell = p.cell
      WHERE cm.vec_id <> p.query_id
    ),
    adc_full AS (
      SELECT l.query_id, co.vec_id, CAST(sum(l.d2) AS BIGINT) AS adc_d2
      FROM codes co JOIN lut l ON l.m = co.m AND l.k = co.k
      GROUP BY l.query_id, co.vec_id
    ),
    probed AS (
      SELECT c.query_id, c.vec_id, af.adc_d2,
             row_number() OVER (PARTITION BY c.query_id
                                ORDER BY af.adc_d2, c.vec_id) AS rn
      FROM cand c
      JOIN adc_full af
        ON af.query_id = c.query_id AND af.vec_id = c.vec_id
    )
    SELECT query_id, CAST(rn AS BIGINT) AS rank, vec_id, adc_d2
    FROM probed WHERE rn <= {ADC_K}
    """,
    tier="P2",
    doc="The STORED ANN index (r13): every docstring in this family "
    "claims 'at 100 TB, cell is the table's partition key and the "
    "probe filter is partition pruning' — this query DOES it instead "
    "of claiming it. The PQ code table is written hive-partitioned "
    "by coarse cell (partitionBy('cell'), 16 directories), read "
    "back, and the probe-cell restriction is applied as a static "
    "IN-filter on the partition column, so the FileScan's "
    "PartitionFilters prune to the probed directories — the scan "
    "reads nprobe/n_cells of the CODE table and zero embedding "
    "bytes (plan pinned in PLANS.md; tests/test_plans.py asserts "
    "PartitionFilters + the pruned in-memory partition count). The "
    "probed-cell list is collected driver-side: it is bounded by "
    "IDX_N_QUERIES x IVFPQ_NPROBE = 3 x 4 = 12 cell ids by "
    "construction (the "
    "q_ann_ivf_topk query-collect precedent), which is what makes "
    "the pruning static rather than DPP-dependent. ADC then runs "
    "over the pruned scan exactly as q_ann_ivfpq_topk's probed "
    "branch — same LUT, same integer math — and the oracle is that "
    "query's oracle minus the recall companions, so the top-10 rows "
    "hash bit-exact. Write-once-probe-many is the production "
    "lifecycle this models: the index build is one map-only pass "
    "plus a 16-way partitioned write; every later query is a pruned "
    "codes-only scan. When the query set is itself a table "
    "(thousands of queries) and the collect stops being "
    "constant-bounded, the stated scale path is ann_index_probe_dpp "
    "(below): the probe relation joins the partition column and "
    "Catalyst plants a dynamicpruningexpression subquery in the "
    "scan's PartitionFilters — same pruning, zero collects "
    "(plan-pinned in tests/test_plans.py::test_stored_index_dpp_"
    "variant).",
)
def q_ann_index_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from .scans import _scratch

    # index build: codes wide, hive-partitioned by coarse cell (= c0)
    path = _scratch(sf_dir, "pq_index_by_cell")
    q_emb_pq_encode(spark, sf_dir).select(
        "vec_id", "c0", "c1", "c2", "c3", F.col("c0").alias("cell")
    ).write.mode("overwrite").partitionBy("cell").parquet(path)
    index = spark.read.parquet(path)

    # codes side of the helper unused (lazy); 3-query LUT — see
    # IDX_N_QUERIES
    _, lut = _adc_codes_lut(spark, sf_dir, IDX_N_QUERIES)
    lut = lut.localCheckpoint()
    wc = Window.partitionBy("query_id").orderBy(F.asc("d2"), F.asc("k"))
    probe = (
        lut.where(F.col("m") == 0)
        .withColumn("rn", F.row_number().over(wc))
        .where(F.col("rn") <= IVFPQ_NPROBE)
        .select("query_id", F.col("k").alias("cell"))
        .localCheckpoint()
    )
    # bounded collect (<= n_queries * nprobe cell ids): a STATIC
    # partition filter, so pruning shows in PartitionFilters instead
    # of depending on runtime DPP
    cells = sorted({r["cell"] for r in probe.select("cell").collect()})
    pruned = index.where(F.col("cell").isin(cells))

    codes = pruned.select(
        "vec_id", "cell",
        F.expr("stack(4, 0, c0, 1, c1, 2, c2, 3, c3) AS (m, k)"),
    )
    cand = (
        F.broadcast(probe)
        .join(codes, "cell")
        .where(F.col("query_id") != F.col("vec_id"))
    )
    adc = (
        cand.join(F.broadcast(lut), ["query_id", "m", "k"])
        .groupBy("query_id", "vec_id")
        .agg(F.sum("d2").alias("adc_d2"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.asc("adc_d2"), F.asc("vec_id")
    )
    return (
        adc.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= ADC_K)
        .select("query_id", "rank", "vec_id", "adc_d2")
    )


def ann_index_probe_dpp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The NO-COLLECT probe variant of q_ann_index_partitioned, for
    when the query set is itself a table (thousands of queries) and a
    driver-side cell list is no longer constant-bounded: the probe-cell
    relation equi-joins the hive-partitioned code table on the
    partition column, and Catalyst's Dynamic Partition Pruning inserts
    a ``dynamicpruningexpression`` subquery into the FileScan's
    PartitionFilters — the same directory pruning as the static
    IN-filter, computed executor-side from the broadcast probe
    relation instead of a collect (pytest-pinned:
    tests/test_plans.py::test_stored_index_dpp_variant, which also
    proves this function's lineage contains no driver collect via the
    AST guard — it is NOT in test_no_driver_collect's allowlist).
    Registered-query semantics are unchanged: this returns the same
    probed ADC top-10 as q_ann_index_partitioned, so the trade is
    purely static-vs-dynamic pruning. Static wins while the probe set
    is tiny (no subquery stage, prunes at planning time); DPP wins as
    soon as the probe set is data-dependent — which is why both forms
    exist and the docstrings state the crossover."""
    from pyspark.sql import Window

    from .scans import _scratch

    path = _scratch(sf_dir, "pq_index_by_cell")
    q_emb_pq_encode(spark, sf_dir).select(
        "vec_id", "c0", "c1", "c2", "c3", F.col("c0").alias("cell")
    ).write.mode("overwrite").partitionBy("cell").parquet(path)
    index = spark.read.parquet(path)

    _, lut = _adc_codes_lut(spark, sf_dir, IDX_N_QUERIES)
    lut = lut.localCheckpoint()
    wc = Window.partitionBy("query_id").orderBy(F.asc("d2"), F.asc("k"))
    probe = (
        lut.where(F.col("m") == 0)
        .withColumn("rn", F.row_number().over(wc))
        .where(F.col("rn") <= IVFPQ_NPROBE)
        .select("query_id", F.col("k").alias("cell"))
        .localCheckpoint()
    )
    codes = index.select(
        "vec_id", "cell",
        F.expr("stack(4, 0, c0, 1, c1, 2, c2, 3, c3) AS (m, k)"),
    )
    # the pruning join: probe (small, broadcast) x the partitioned
    # index on its PARTITION column -> DPP subquery in the scan.
    # PartitionPruning only plants the subquery when the probe side
    # carries a selective-shaped predicate; the localCheckpoint above
    # cut the lineage of probe's real filters (m == 0, rn <= nprobe),
    # so restate one (cell >= 0 is a tautology over the codebook ids —
    # at production scale the probe relation arrives already filtered
    # and this restatement is unnecessary).
    cand = (
        F.broadcast(probe.where(F.col("cell") >= 0))
        .join(codes, "cell")
        .where(F.col("query_id") != F.col("vec_id"))
    )
    adc = (
        cand.join(F.broadcast(lut), ["query_id", "m", "k"])
        .groupBy("query_id", "vec_id")
        .agg(F.sum("d2").alias("adc_d2"))
    )
    w = Window.partitionBy("query_id").orderBy(F.asc("adc_d2"), F.asc("vec_id"))
    return (
        adc.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= ADC_K)
        .select("query_id", "rank", "vec_id", "adc_d2")
    )


IDX_DELTA_MOD = 4  # vec_id % 4 == 3 rows arrive as the delta batch (~25%)


def _index_probe_plan(spark: SparkSession, sf_dir: str):
    """(probe, lut, cells) — the shared probe machinery of the
    stored-index family (q_ann_index_partitioned / _append /
    _compact): the 3-query LUT, the nprobe-lowest-d2 probe cells, and
    the BOUNDED driver-side cell-id list (<= IDX_N_QUERIES *
    IVFPQ_NPROBE = 12 by construction — the static partition filter;
    the DPP variant ann_index_probe_dpp is the no-collect form)."""
    from pyspark.sql import Window

    _, lut = _adc_codes_lut(spark, sf_dir, IDX_N_QUERIES)
    lut = lut.localCheckpoint()
    wc = Window.partitionBy("query_id").orderBy(F.asc("d2"), F.asc("k"))
    probe = (
        lut.where(F.col("m") == 0)
        .withColumn("rn", F.row_number().over(wc))
        .where(F.col("rn") <= IVFPQ_NPROBE)
        .select("query_id", F.col("k").alias("cell"))
        .localCheckpoint()
    )
    cells = sorted({r["cell"] for r in probe.select("cell").collect()})
    return probe, lut, cells


def _probe_stored_index(
    spark: SparkSession, path: str, probe: DataFrame, lut: DataFrame,
    cells: list,
) -> DataFrame:
    """Probed ADC top-10 over a stored (hive-partitioned-by-cell) code
    table: static IN-filter on the partition column (PartitionFilters
    pruning), codes-only scan, broadcast LUT, one groupBy per
    (query, vec)."""
    from pyspark.sql import Window

    index = spark.read.parquet(path).where(F.col("cell").isin(cells))
    codes = index.select(
        "vec_id", "cell",
        F.expr("stack(4, 0, c0, 1, c1, 2, c2, 3, c3) AS (m, k)"),
    )
    cand = (
        F.broadcast(probe)
        .join(codes, "cell")
        .where(F.col("query_id") != F.col("vec_id"))
    )
    adc = (
        cand.join(F.broadcast(lut), ["query_id", "m", "k"])
        .groupBy("query_id", "vec_id")
        .agg(F.sum("d2").alias("adc_d2"))
    )
    w = Window.partitionBy("query_id").orderBy(F.asc("adc_d2"), F.asc("vec_id"))
    return (
        adc.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= ADC_K)
    )


@register(
    "q_ann_index_append",
    oracle=f"""
    WITH {_adc_oracle_preamble(IDX_N_QUERIES)},
    probe AS (
      SELECT query_id, k AS cell FROM (
        SELECT query_id, k,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY d2, k) AS rn
        FROM lut WHERE m = 0
      ) WHERE rn <= {IVFPQ_NPROBE}
    ),
    cellmap AS (SELECT vec_id, k AS cell FROM codes WHERE m = 0),
    cand AS (
      SELECT p.query_id, cm.vec_id
      FROM probe p JOIN cellmap cm ON cm.cell = p.cell
      WHERE cm.vec_id <> p.query_id
    ),
    adc_full AS (
      SELECT l.query_id, co.vec_id, CAST(sum(l.d2) AS BIGINT) AS adc_d2
      FROM codes co JOIN lut l ON l.m = co.m AND l.k = co.k
      GROUP BY l.query_id, co.vec_id
    ),
    probed AS (
      SELECT c.query_id, c.vec_id, af.adc_d2,
             row_number() OVER (PARTITION BY c.query_id
                                ORDER BY af.adc_d2, c.vec_id) AS rn
      FROM cand c
      JOIN adc_full af
        ON af.query_id = c.query_id AND af.vec_id = c.vec_id
    )
    SELECT query_id, CAST(rn AS BIGINT) AS rank, vec_id, adc_d2,
           vec_id AS vec_id_rebuild, adc_d2 AS adc_d2_rebuild
    FROM probed WHERE rn <= {ADC_K}
    """,
    tier="P2",
    doc="Incremental APPEND to the stored ANN index (VERDICT r13 "
    "item 3) — production indexes take deltas, and q_ann_index_"
    "partitioned was write-once. The base batch (vec_id % 4 != 3) is "
    "written hive-partitioned by coarse cell; the delta batch "
    "(vec_id % 4 == 3) is encoded with the FROZEN codebook (the "
    "deterministic vec_id < PQ_K centroids — per-vector encoding "
    "depends only on the vector and the codebook, so a delta encode "
    "is bit-identical to its slice of a full encode) and appended "
    "with mode('append') into the SAME partition directories. The "
    "equality witness is the q_etl_incremental_agg base⊕delta == "
    "recompute discipline lifted to the index lifecycle: the probed "
    "top-10 over the appended index FULL-OUTER-joins the probed "
    "top-10 over a from-scratch rebuild on (query_id, rank), and the "
    "oracle emits the rebuild columns as duplicates of the appended "
    "ones — any divergence (missing row, extra row, different "
    "neighbor or distance) surfaces as a NULL or value mismatch and "
    "fails the hash. Probe machinery is exactly the stored-index "
    "query's: bounded probe-cell collect (<= 12 ids), static "
    "IN-filter, PartitionFilters pruning, ADC over codes only. At "
    "100 TB: appends are map-only encode jobs landing new files in "
    "existing cell directories (no read-modify-write, no shuffle); "
    "probes never notice — which is what this query proves.",
)
def q_ann_index_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from .scans import _scratch

    # r15 (guide §5 — consumed-thrice): the three index writes below
    # (base overwrite, delta append, from-scratch rebuild) each
    # re-executed the full PQ-encode kernel over the embeddings scan.
    # The encode output is six longs per vector, so one localCheckpoint
    # materializes it once and all three writes read the narrow blocks
    # (interleaved stash-toggled A/B, fresh-JVM noop min over 6 runs:
    # 4.26 -> 3.73 s at sf0.1; at 100 TB this is two saved full passes
    # over the vector corpus).
    enc = (
        q_emb_pq_encode(spark, sf_dir)
        .select("vec_id", "c0", "c1", "c2", "c3", F.col("c0").alias("cell"))
        .localCheckpoint()
    )
    base = enc.where(F.col("vec_id") % IDX_DELTA_MOD != IDX_DELTA_MOD - 1)
    delta = enc.where(F.col("vec_id") % IDX_DELTA_MOD == IDX_DELTA_MOD - 1)

    apath = _scratch(sf_dir, "pq_index_appended")
    base.write.mode("overwrite").partitionBy("cell").parquet(apath)
    delta.write.mode("append").partitionBy("cell").parquet(apath)
    rpath = _scratch(sf_dir, "pq_index_rebuilt")
    enc.write.mode("overwrite").partitionBy("cell").parquet(rpath)

    probe, lut, cells = _index_probe_plan(spark, sf_dir)
    appended = _probe_stored_index(spark, apath, probe, lut, cells).select(
        "query_id", "rank", "vec_id", "adc_d2"
    )
    rebuilt = _probe_stored_index(spark, rpath, probe, lut, cells).select(
        "query_id", "rank",
        F.col("vec_id").alias("vec_id_rebuild"),
        F.col("adc_d2").alias("adc_d2_rebuild"),
    )
    return appended.join(rebuilt, ["query_id", "rank"], "full_outer").select(
        "query_id", "rank", "vec_id", "adc_d2",
        "vec_id_rebuild", "adc_d2_rebuild",
    )


@register(
    "q_ann_index_compact",
    oracle=f"""
    WITH {_adc_oracle_preamble(IDX_N_QUERIES)},
    probe AS (
      SELECT query_id, k AS cell FROM (
        SELECT query_id, k,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY d2, k) AS rn
        FROM lut WHERE m = 0
      ) WHERE rn <= {IVFPQ_NPROBE}
    ),
    cellmap AS (SELECT vec_id, k AS cell FROM codes WHERE m = 0),
    cand AS (
      SELECT p.query_id, cm.vec_id
      FROM probe p JOIN cellmap cm ON cm.cell = p.cell
      WHERE cm.vec_id <> p.query_id
    ),
    adc_full AS (
      SELECT l.query_id, co.vec_id, CAST(sum(l.d2) AS BIGINT) AS adc_d2
      FROM codes co JOIN lut l ON l.m = co.m AND l.k = co.k
      GROUP BY l.query_id, co.vec_id
    ),
    probed AS (
      SELECT c.query_id, c.vec_id, af.adc_d2,
             row_number() OVER (PARTITION BY c.query_id
                                ORDER BY af.adc_d2, c.vec_id) AS rn
      FROM cand c
      JOIN adc_full af
        ON af.query_id = c.query_id AND af.vec_id = c.vec_id
    )
    SELECT query_id, CAST(rn AS BIGINT) AS rank, vec_id, adc_d2,
           (SELECT CAST(count(*) AS BIGINT) FROM embeddings)
             AS codes_total
    FROM probed WHERE rn <= {ADC_K}
    """,
    tier="P2",
    doc="Stored-index COMPACTION — the third rung of the index "
    "lifecycle (build r13, append r14, compact r14): every "
    "mode('append') delta lands new small files in existing cell "
    "directories, and an append-heavy index degrades into the "
    "classic small-file problem (per-file open/footer cost dominates "
    "a 4-byte-per-vector scan). The compactor is q_maint_compact_"
    "files' discipline applied to the partitioned index: read the "
    "appended table, repartition BY THE PARTITION COLUMN (one "
    "shuffle of (id, 4-byte code) rows — never embeddings), rewrite "
    "partitionBy(cell) so every cell directory holds exactly one "
    "file (pytest-pinned: tests/test_plans.py::test_index_compact_"
    "merges_cell_files proves >1 file/cell before, ==1 after). "
    "Correctness witness: the probed top-10 over the COMPACTED index "
    "against the stored-index oracle (bit-exact — compaction must "
    "not lose, duplicate, or alter a code), plus a codes_total "
    "companion (count of code rows after compaction) that the "
    "oracle pins to count(*) of embeddings, so a dropped or doubled "
    "row fails the hash even outside the probed cells. At 100 TB "
    "this is the periodic maintenance job an append-only index "
    "schedules per cell partition — embarrassingly parallel across "
    "cells, reading and writing codes only.",
)
def q_ann_index_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .scans import _scratch

    # r15 (guide §5 — consumed-twice): base + delta writes shared one
    # encode subtree; checkpoint the six-long rows once (the append
    # query's rationale, minus the rebuild lane). Honest pricing: the
    # interleaved A/B read NEUTRAL at sf0.1 (min 2.81 vs 2.74 s,
    # spreads fully overlapping — compact's probe re-reads from disk,
    # so only one encode pass was redundant here); kept because the
    # saved pass is over the full vector corpus at 100 TB.
    enc = (
        q_emb_pq_encode(spark, sf_dir)
        .select("vec_id", "c0", "c1", "c2", "c3", F.col("c0").alias("cell"))
        .localCheckpoint()
    )
    base = enc.where(F.col("vec_id") % IDX_DELTA_MOD != IDX_DELTA_MOD - 1)
    delta = enc.where(F.col("vec_id") % IDX_DELTA_MOD == IDX_DELTA_MOD - 1)

    # the fragmented input: a base write plus an appended delta
    # (own scratch path — q_ann_index_append's fixture must stay
    # byte-stable for its equality witness)
    fpath = _scratch(sf_dir, "pq_index_fragmented")
    base.write.mode("overwrite").partitionBy("cell").parquet(fpath)
    delta.write.mode("append").partitionBy("cell").parquet(fpath)

    # compact: one (id, code) shuffle clustered on the partition
    # column, then a partitioned rewrite -> one file per cell dir
    cpath = _scratch(sf_dir, "pq_index_compacted")
    spark.read.parquet(fpath).repartition(PQ_K, "cell").write.mode(
        "overwrite"
    ).partitionBy("cell").parquet(cpath)

    probe, lut, cells = _index_probe_plan(spark, sf_dir)
    probed = _probe_stored_index(spark, cpath, probe, lut, cells)
    total = spark.read.parquet(cpath).agg(
        F.count(F.lit(1)).cast("long").alias("codes_total")
    )
    return probed.crossJoin(F.broadcast(total)).select(
        "query_id", "rank", "vec_id", "adc_d2", "codes_total"
    )


IVFPQ_SWEEP = (2, 4, 8, 16)  # nprobe ladder (of PQ_K = 16 coarse cells)


# The recall-curve construction as reusable CTEs ending in `curve`
# (nprobe, cand_rows, hits_total, recall_at10): shared verbatim by
# q_ann_ivfpq_recall_curve's oracle and the q_ann_nprobe_choose
# selection over it, so the chooser provably reads THE tuning table.
_IVFPQ_CURVE_CTES = f"""
    WITH {_ADC_ORACLE_PREAMBLE},
    cell_rank AS (
      SELECT query_id, k AS cell,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY d2, k) AS crank
      FROM lut WHERE m = 0
    ),
    cellmap AS (SELECT vec_id, k AS cell FROM codes WHERE m = 0),
    cand AS (
      SELECT cr.query_id, cm.vec_id, cr.crank
      FROM cell_rank cr JOIN cellmap cm ON cm.cell = cr.cell
      WHERE cm.vec_id <> cr.query_id
    ),
    adc_full AS (
      SELECT l.query_id, co.vec_id, CAST(sum(l.d2) AS BIGINT) AS adc_d2
      FROM codes co JOIN lut l ON l.m = co.m AND l.k = co.k
      GROUP BY l.query_id, co.vec_id
    ),
    full10 AS (
      SELECT query_id, vec_id FROM (
        SELECT query_id, vec_id,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY adc_d2, vec_id) AS rn
        FROM adc_full WHERE vec_id <> query_id
      ) WHERE rn <= {ADC_K}
    ),
    sweep AS (
      SELECT CAST(unnest([{", ".join(str(n) for n in IVFPQ_SWEEP)}])
                  AS BIGINT) AS nprobe
    ),
    swept_cand AS (
      SELECT s.nprobe, c.query_id, c.vec_id
      FROM sweep s JOIN cand c ON c.crank <= s.nprobe
    ),
    scanned AS (
      SELECT nprobe, CAST(count(*) AS BIGINT) AS cand_rows
      FROM swept_cand GROUP BY nprobe
    ),
    swept AS (
      SELECT sc.nprobe, sc.query_id, sc.vec_id,
             row_number() OVER (PARTITION BY sc.nprobe, sc.query_id
                                ORDER BY af.adc_d2, sc.vec_id) AS rn
      FROM swept_cand sc
      JOIN adc_full af
        ON af.query_id = sc.query_id AND af.vec_id = sc.vec_id
    ),
    hits AS (
      SELECT sw.nprobe, CAST(count(*) AS BIGINT) AS hits_total
      FROM swept sw
      JOIN full10 f ON f.query_id = sw.query_id AND f.vec_id = sw.vec_id
      WHERE sw.rn <= {ADC_K}
      GROUP BY sw.nprobe
    ),
    curve AS (
      SELECT sc.nprobe, sc.cand_rows,
             CAST(coalesce(h.hits_total, 0) AS BIGINT) AS hits_total,
             floor(CAST(coalesce(h.hits_total, 0) AS DOUBLE)
                   / {ADC_N_QUERIES * ADC_K} * 10000 + 0.5) / 10000
               AS recall_at10
      FROM scanned sc LEFT JOIN hits h ON h.nprobe = sc.nprobe
    )
"""


@register(
    "q_ann_ivfpq_recall_curve",
    oracle=_IVFPQ_CURVE_CTES + """
    SELECT nprobe, cand_rows, hits_total, recall_at10
    FROM curve ORDER BY nprobe
    """,
    tier="P2",
    doc="IVF+PQ recall ladder (VERDICT r13 item 4) — the tuning table "
    "that turns q_ann_ivfpq_topk's single recorded recall (0.76 at "
    "nprobe=4) into a curve: for nprobe in {2,4,8,16}, emit the "
    "candidate-codes-scanned count and recall@10 against the exact "
    "full-ADC top-10 (the q_dedup_minhash_estimate precedent — the "
    "bands x rows calibration table, here cells-probed x recall). "
    "Every quantity is exact: candidates and hits are integer counts, "
    "and recall = hits_total * 50 / 1e4 is an exact dyadic rational, "
    "so the whole curve hash-matches with no witness. One pass "
    "computes all four rungs: the per-query cell ranking (crank) is "
    "computed once, a 4-row broadcast sweep table theta-joins "
    "crank <= nprobe, and one window per (nprobe, query) ranks the "
    "united candidate sets — no per-rung re-scan of the codes. At "
    "100 TB this is the sampled tuning job you run BEFORE fixing "
    "nprobe in the stored index's probe path: the adc_full companion "
    "is the expensive exact side, so production runs it over a query "
    "sample (here the standard 20-query set) against the full code "
    "table, which stays a codes-only scan — 4 B/vector, no "
    "embeddings move.",
)
def q_ann_ivfpq_recall_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    codes, lut = _adc_codes_lut(spark, sf_dir)
    # r15 (guide §5): the melted code rows ((vec_id, m, k) — three
    # longs, 4 rows/vector) feed adc_full AND cellmap, and cellmap's
    # candidate frame is itself consumed twice (scanned + swept), so
    # the PQ-encode kernel executed 3x per run (the before-plan shows
    # 4 MapInPandas nodes). One narrow checkpoint runs it once;
    # checkpointed HERE rather than inside _adc_codes_lut because
    # q_ann_pq_adc_topk consumes codes once and its r6 plan is pinned.
    codes = codes.localCheckpoint()
    lut = lut.localCheckpoint()
    cellmap = codes.where(F.col("m") == 0).select(
        "vec_id", F.col("k").alias("cell")
    )
    wc = Window.partitionBy("query_id").orderBy(F.asc("d2"), F.asc("k"))
    cell_rank = (
        lut.where(F.col("m") == 0)
        .withColumn("crank", F.row_number().over(wc))
        .select("query_id", F.col("k").alias("cell"), "crank")
    )
    cand = (
        F.broadcast(cell_rank)
        .join(cellmap, "cell")
        .where(F.col("query_id") != F.col("vec_id"))
        .select("query_id", "vec_id", "crank")
    )
    # the exact side, shared by full10 (ground truth) and the swept
    # ranking; one aggregation, two consumers
    adc_full = (
        codes.join(F.broadcast(lut), ["m", "k"])
        .groupBy("query_id", "vec_id")
        .agg(F.sum("d2").alias("adc_d2"))
        .localCheckpoint()
    )
    w = Window.partitionBy("query_id").orderBy(F.asc("adc_d2"), F.asc("vec_id"))
    full10 = (
        adc_full.where(F.col("vec_id") != F.col("query_id"))
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= ADC_K)
        .select("query_id", "vec_id")
    )
    sweep = spark.createDataFrame(
        [(n,) for n in IVFPQ_SWEEP], "nprobe long"
    )
    swept_cand = F.broadcast(sweep).join(
        cand, F.col("crank") <= F.col("nprobe")
    ).select("nprobe", "query_id", "vec_id")
    scanned = swept_cand.groupBy("nprobe").agg(
        F.count(F.lit(1)).alias("cand_rows")
    )
    ws = Window.partitionBy("nprobe", "query_id").orderBy(
        F.asc("adc_d2"), F.asc("vec_id")
    )
    swept = (
        swept_cand.join(adc_full, ["query_id", "vec_id"])
        .withColumn("rn", F.row_number().over(ws))
        .where(F.col("rn") <= ADC_K)
    )
    hits = (
        swept.join(full10, ["query_id", "vec_id"], "left_semi")
        .groupBy("nprobe")
        .agg(F.count(F.lit(1)).alias("hits_total"))
    )
    denom = float(ADC_N_QUERIES * ADC_K)
    return (
        scanned.join(hits, "nprobe", "left")
        .select(
            "nprobe",
            "cand_rows",
            F.coalesce(F.col("hits_total"), F.lit(0))
            .cast("long")
            .alias("hits_total"),
            (
                F.floor(
                    F.coalesce(F.col("hits_total"), F.lit(0)).cast("double")
                    / F.lit(denom)
                    * F.lit(10000.0)
                    + F.lit(0.5)
                )
                / F.lit(10000.0)
            ).alias("recall_at10"),
        )
        .orderBy("nprobe")
    )


NPROBE_RECALL_TARGET = 0.9  # deployment floor for recall@10


@register(
    "q_ann_nprobe_choose",
    oracle=_IVFPQ_CURVE_CTES + f""",
    best AS (
      SELECT * FROM curve
      WHERE recall_at10 >= {NPROBE_RECALL_TARGET}
      ORDER BY nprobe LIMIT 1
    ),
    fullscan AS (
      SELECT cand_rows AS cand_full FROM curve WHERE nprobe = {PQ_K}
    )
    SELECT b.nprobe, b.cand_rows, b.hits_total, b.recall_at10,
           floor(CAST(b.cand_rows AS DOUBLE) / f.cand_full
                 * 10000 + 0.5) / 10000 AS scan_fraction
    FROM best b CROSS JOIN fullscan f
    """,
    tier="P2",
    doc="Operate the tuning table — the decision a deployment actually "
    "makes from q_ann_ivfpq_recall_curve: the SMALLEST nprobe whose "
    f"measured recall@10 meets the {NPROBE_RECALL_TARGET} floor, with "
    "its cost expressed as scan_fraction = candidates at the chosen "
    "rung / candidates at the exhaustive rung (nprobe = n_cells, "
    "where the probed branch degenerates to full ADC and recall is "
    "1.0 by construction — so the selection always has a feasible "
    "fallback and the query can never return empty). The oracle is "
    "the SAME curve CTE text as the curve query's plus a 1-row "
    "selection, so the chooser provably decides from the table it "
    "claims to. Spark side: the 4-row curve localCheckpoints once "
    "and feeds both the selection and the exhaustive-rung baseline "
    "(two consumers, one curve evaluation). At 100 TB the choice "
    "runs on the sampled tuning job's output and the chosen nprobe "
    "parameterizes the stored index's static probe filter — this is "
    "the missing arrow from calibration to the probe path.",
)
def q_ann_nprobe_choose(spark: SparkSession, sf_dir: str) -> DataFrame:
    curve = q_ann_ivfpq_recall_curve(spark, sf_dir).localCheckpoint()
    best = (
        curve.where(F.col("recall_at10") >= NPROBE_RECALL_TARGET)
        .orderBy("nprobe")
        .limit(1)
    )
    full = curve.where(F.col("nprobe") == PQ_K).select(
        F.col("cand_rows").alias("cand_full")
    )
    return best.crossJoin(F.broadcast(full)).select(
        "nprobe",
        "cand_rows",
        "hits_total",
        "recall_at10",
        (
            F.floor(
                F.col("cand_rows").cast("double") / F.col("cand_full")
                * F.lit(10000.0)
                + F.lit(0.5)
            )
            / F.lit(10000.0)
        ).alias("scan_fraction"),
    )


@register(
    "q_train_hard_negatives",
    oracle=f"""
    WITH pairs AS (
      SELECT a.vec_id AS src, b.vec_id AS dst,
             list_cosine_similarity(
               list_transform(a.embedding, x -> CAST(x AS DOUBLE)),
               list_transform(b.embedding, x -> CAST(x AS DOUBLE))
             ) AS sim
      FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id
    ),
    ranked AS (
      SELECT src, dst,
             floor(sim * 10000 + 0.5) / 10000 AS sim,
             row_number() OVER (
               PARTITION BY src
               ORDER BY floor(sim * 10000 + 0.5) DESC, dst
             ) AS rank
      FROM pairs
    ),
    edges AS (
      SELECT src, rank, dst, sim FROM ranked WHERE rank <= {KNN_K}
    ),
    crossl AS (
      SELECT e.src, ls.label AS src_label, e.dst, ld.label AS neg_label,
             e.sim, e.rank,
             row_number() OVER (PARTITION BY e.src
                                ORDER BY e.rank) AS rn
      FROM edges e
      JOIN embeddings ls ON ls.vec_id = e.src
      JOIN embeddings ld ON ld.vec_id = e.dst
      WHERE ls.label <> ld.label
    )
    SELECT src, src_label, dst AS hard_negative, neg_label, sim,
           CAST(rank AS BIGINT) AS knn_rank
    FROM crossl WHERE rn = 1
    """,
    tier="P1",
    doc="Hard-negative mining — the contrastive-training companion of "
    "q_train_negative_samples: instead of random ring negatives, "
    "take each vector's HIGHEST-SIMILARITY neighbor with a "
    "DIFFERENT label from the kNN graph (q_emb_knn_graph's edges + "
    "one label join per endpoint) — the 'confusable' example that "
    "makes metric-learning losses actually move. A vector whose "
    f"whole top-{KNN_K} list is same-label emits nothing (those "
    "anchors have no near-confusion to mine — itself a useful "
    "signal). Composes relationally: the edge list is the already-"
    "gated kNN construction, labels arrive by two equi-joins on "
    "vec_id, the pick is one row_number per src over at most "
    f"{KNN_K} rows. At 100 TB the mining step is O(edges) whatever "
    "the corpus size — the expensive part (graph construction) is "
    "shared with every other kNN consumer, which is exactly why "
    "production pipelines persist the graph and mine from it.",
)
def q_train_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    edges = q_emb_knn_graph(spark, sf_dir)
    labels = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "label"
    )
    crossl = (
        edges.join(
            labels.select(
                F.col("vec_id").alias("src"),
                F.col("label").alias("src_label"),
            ),
            "src",
        )
        .join(
            labels.select(
                F.col("vec_id").alias("dst"),
                F.col("label").alias("neg_label"),
            ),
            "dst",
        )
        .where(F.col("src_label") != F.col("neg_label"))
    )
    w = Window.partitionBy("src").orderBy("rank")
    return (
        crossl.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            "src",
            "src_label",
            F.col("dst").alias("hard_negative"),
            "neg_label",
            "sim",
            F.col("rank").alias("knn_rank"),
        )
    )


@register(
    "q_emb_dedup_pipeline",
    oracle=f"""
    WITH RECURSIVE pairs AS (
      SELECT a.vec_id AS id_lo, b.vec_id AS id_hi
      FROM embeddings a JOIN embeddings b
        ON a.label = b.label AND a.vec_id < b.vec_id
      WHERE floor(list_cosine_similarity(
              list_transform(a.embedding, x -> CAST(x AS DOUBLE)),
              list_transform(b.embedding, x -> CAST(x AS DOUBLE))
            ) * 10000 + 0.5) >= {RANGE_TAU_1E4}
    ),
    edges AS (
      SELECT id_lo AS src, id_hi AS dst FROM pairs
      UNION ALL SELECT id_hi, id_lo FROM pairs
    ),
    reach(src, dst) AS (
      SELECT vec_id, vec_id FROM embeddings
      UNION
      SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
    ),
    comp AS (
      SELECT src AS vec_id, min(dst) AS component_id
      FROM reach GROUP BY src
    )
    SELECT c.component_id,
           CAST(min(e.label) AS BIGINT) AS label,
           CAST(count(*) AS BIGINT) AS n_vecs,
           CAST(count(*) - 1 AS BIGINT) AS n_dropped
    FROM comp c JOIN embeddings e ON e.vec_id = c.vec_id
    GROUP BY c.component_id
    HAVING count(*) >= 2
    """,
    tier="P1",
    doc="Semantic (embedding-space) dedup end-to-end — the third "
    "pipeline of the trio (text: q_llm_corpus_pipeline, multimodal: "
    "q_mm_corpus_pipeline): the sub-blocked cosine range search "
    "(q_sim_range_search, sim >= 0.30 within label blocks) supplies "
    "candidate pairs, distributed min-label propagation with "
    "pointer jumping groups them into duplicate clusters (the "
    "q_dedup_components algorithm on embedding edges), and each "
    "multi-member cluster elects its minimum vec_id as survivor, "
    "emitting the per-cluster drop ledger (n_dropped = cluster size "
    "- 1) — SemDeDup's shape: bucket, compare-within-bucket, "
    "cluster, keep one. Shuffles carry (node, label) longs in the "
    "loop and (vec_id, sb) cells in the search; the driver sees "
    "only the convergence sum. The DuckDB oracle recomputes the "
    "whole pipeline (pairs -> recursive closure -> cluster rollup), "
    "so the hash proves three composed operators at once. At "
    "100 TB every stage is the already-audited scale path: "
    "sub-blocked gram, O(log n) pointer-jumping rounds, one "
    "groupBy(component).",
)
def q_emb_dedup_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    nodes = load_table(spark, sf_dir, "embeddings").select(
        F.col("vec_id").alias("node"), "label"
    )
    pairs = q_sim_range_search(spark, sf_dir).select("id_lo", "id_hi")
    comp = min_label_fixpoint(nodes.select("node"), pairs).select(
        "node", F.col("label").alias("component_id")
    )
    return (
        comp.join(nodes, "node")
        .groupBy("component_id")
        .agg(
            F.min("label").cast("long").alias("label"),
            F.count(F.lit(1)).alias("n_vecs"),
            (F.count(F.lit(1)) - 1).alias("n_dropped"),
        )
        .where(F.col("n_vecs") >= 2)
    )


@register(
    "q_emb_silhouette",
    oracle="""
    WITH q AS (
      SELECT vec_id, label,
             list_transform(embedding,
               x -> CAST(floor(CAST(x AS DOUBLE) * 10000 + 0.5)
                         AS BIGINT)) AS xi
      FROM embeddings
    ),
    t AS (
      SELECT vec_id, label, unnest(xi) AS e,
             generate_subscripts(xi, 1) AS gs
      FROM q
    ),
    sums AS (
      SELECT label AS clabel, gs AS dim, CAST(sum(e) AS BIGINT) AS s
      FROM t GROUP BY label, gs
    ),
    nl AS (
      SELECT label AS clabel, CAST(count(*) AS BIGINT) AS n_l
      FROM q GROUP BY label
    ),
    pairs AS (
      SELECT t.vec_id, t.label AS own, s.clabel,
             CAST(sum((n.n_l * t.e - s.s) * (n.n_l * t.e - s.s))
                  AS BIGINT) AS num,
             any_value(n.n_l) AS n_l
      FROM t
      JOIN sums s ON s.dim = t.gs
      JOIN nl n ON n.clabel = s.clabel
      GROUP BY t.vec_id, t.label, s.clabel
    ),
    d AS (
      SELECT vec_id, own, clabel,
             CAST(num AS DOUBLE) / (n_l * n_l) AS d2
      FROM pairs
    ),
    ab AS (
      SELECT vec_id, own,
             max(CASE WHEN clabel = own THEN d2 END) AS a2,
             min(CASE WHEN clabel <> own THEN d2 END) AS b2
      FROM d GROUP BY vec_id, own
    ),
    sil AS (
      SELECT own,
             CAST(floor((sqrt(b2) - sqrt(a2))
                        / greatest(sqrt(a2), sqrt(b2))
                        * 1000000 + 0.5) AS BIGINT) AS s_int
      FROM ab
    )
    SELECT CAST(own AS BIGINT) AS label,
           CAST(count(*) AS BIGINT) AS n_vecs,
           CAST(sum(s_int) AS BIGINT) AS sum_s_x1e6,
           CAST(floor(CAST(sum(s_int) AS DOUBLE) / count(*) + 0.5)
                AS BIGINT) AS mean_s_x1e6
    FROM sil GROUP BY own ORDER BY label
    """,
    tier="P1",
    doc="Centroid silhouette — the cluster-quality score a semantic-"
    "dedup/clustering pipeline reports per label: for each vector, "
    "a = distance to its own label centroid, b = distance to the "
    "nearest other centroid, s = (b-a)/max(a,b); emitted as "
    "per-label counts and exact micro-unit sums. Determinism "
    "recipe: embeddings quantize to 1e-4 integer units, so each "
    "per-dim centroid is the exact rational S_d/n_l and every "
    "squared distance is the EXACT int64 sum over dims of "
    "(n_l*x_d - S_d)^2 / n_l^2 — no cross-row float summation "
    "anywhere (the only float ops are the per-row sqrt/divide "
    "chain, identical IEEE both engines, then a per-row 1e6 "
    "quantization BEFORE the cross-row sum, which is again exact "
    "int64). int64 headroom: sum over 64 dims of (n_l*|x|*1e4)^2 "
    "holds to n_l ~ 65 000 per cluster (MEASURED: 1e-6 units "
    "overflow ANSI-loudly at n_l ~ 700, which is why the unit "
    "scale is 1e-4); beyond that, block-partial the cluster sums "
    "— documented, not silent. Spark "
    "plan: per-(label,dim) exact sums roll up map-side, rebuild "
    "into a 10-row (n_l, S-array) table broadcast to every "
    "vector; the per-vector distance to all 10 centroids is a "
    "zip_with/aggregate fold INSIDE the row (JVM higher-order "
    "functions, fixed dim order) — vectors never shuffle, no "
    "explode-by-label blowup, output is |labels|-sized.",
)
def q_emb_silhouette(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    q = e.select(
        "vec_id",
        "label",
        F.transform(
            "embedding",
            lambda x: F.floor(x.cast("double") * F.lit(10000) + F.lit(0.5))
            .cast("long"),
        ).alias("xi"),
    )
    t = q.select("label", F.posexplode("xi").alias("dim", "e"))
    sums = t.groupBy(F.col("label").alias("clabel"), "dim").agg(
        F.sum("e").alias("s")
    )
    nl = q.groupBy(F.col("label").alias("clabel")).agg(
        F.count(F.lit(1)).alias("n_l")
    )
    cent = (
        sums.groupBy("clabel")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("dim", "s"))
            ).alias("ds")
        )
        .select(
            "clabel", F.col("ds.s").alias("sarr")
        )
        .join(nl, "clabel")
    )
    pairs = q.crossJoin(F.broadcast(cent)).select(
        "vec_id",
        F.col("label").alias("own"),
        "clabel",
        (
            F.aggregate(
                F.zip_with(
                    "xi",
                    "sarr",
                    lambda x, s: (F.col("n_l") * x - s)
                    * (F.col("n_l") * x - s),
                ),
                F.lit(0).cast("long"),
                lambda acc, v: acc + v,
            ).cast("double")
            / (F.col("n_l") * F.col("n_l"))
        ).alias("d2"),
    )
    ab = pairs.groupBy("vec_id", "own").agg(
        F.max(F.when(F.col("clabel") == F.col("own"), F.col("d2"))).alias(
            "a2"
        ),
        F.min(F.when(F.col("clabel") != F.col("own"), F.col("d2"))).alias(
            "b2"
        ),
    )
    sil = ab.select(
        "own",
        F.floor(
            (F.sqrt("b2") - F.sqrt("a2"))
            / F.greatest(F.sqrt("a2"), F.sqrt("b2"))
            * F.lit(1000000)
            + F.lit(0.5)
        )
        .cast("long")
        .alias("s_int"),
    )
    return (
        sil.groupBy(F.col("own").cast("long").alias("label"))
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.sum("s_int").alias("sum_s_x1e6"),
            F.floor(
                F.sum("s_int").cast("double") / F.count(F.lit(1)) + F.lit(0.5)
            )
            .cast("long")
            .alias("mean_s_x1e6"),
        )
        .orderBy("label")
    )


@register(
    "q_emb_outlier_distance",
    oracle="""
    WITH q AS (
      SELECT vec_id, label,
             list_transform(embedding,
               x -> CAST(floor(CAST(x AS DOUBLE) * 10000 + 0.5)
                         AS BIGINT)) AS xi
      FROM embeddings
    ),
    t AS (
      SELECT vec_id, label, unnest(xi) AS e,
             generate_subscripts(xi, 1) AS gs
      FROM q
    ),
    sums AS (
      SELECT label, gs AS dim, CAST(sum(e) AS BIGINT) AS s
      FROM t GROUP BY label, gs
    ),
    nl AS (
      SELECT label, CAST(count(*) AS BIGINT) AS n_l FROM q GROUP BY label
    ),
    d AS (
      SELECT t.vec_id, t.label,
             CAST(sum((n.n_l * t.e - s.s) * (n.n_l * t.e - s.s))
                  AS BIGINT) AS d2_num,
             any_value(n.n_l) AS n_l
      FROM t
      JOIN sums s ON s.label = t.label AND s.dim = t.gs
      JOIN nl n ON n.label = t.label
      GROUP BY t.vec_id, t.label
    )
    SELECT CAST(label AS BIGINT) AS label,
           CAST(vec_id AS BIGINT) AS vec_id,
           d2_num, CAST(n_l AS BIGINT) AS n_l,
           CAST(rnk AS BIGINT) AS rnk
    FROM (
      SELECT label, vec_id, d2_num, n_l,
             row_number() OVER (PARTITION BY label
                                ORDER BY d2_num DESC, vec_id) AS rnk
      FROM d
    )
    WHERE rnk <= 5
    ORDER BY label, rnk
    """,
    tier="P1",
    doc="Embedding outlier mining — the top-5 farthest-from-centroid "
    "vectors per label, the mislabeled-example / anomaly candidate "
    "list a curation pipeline reviews (the distance-argmax "
    "companion to q_emb_silhouette, sharing its exact-integer "
    "construction): d2_num = sum_d (n_l*x_d - S_d)^2 is EXACT "
    "int64 (scaled squared distance to the label centroid "
    "S_d/n_l), so the per-label top-5 ranking involves NO floats "
    "at all — cross-engine determinism is structural, ties broken "
    "by vec_id. Spark plan: the per-(label,dim) exact sums rebuild "
    "into a broadcast |labels|-row table, the per-vector distance "
    "folds inside the row (zip_with/aggregate), and the ranked "
    "window is per-label partitioned — WindowGroupLimit prunes to "
    "5 rows per label before any full sort.",
)
def q_emb_outlier_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "embeddings")
    q = e.select(
        "vec_id",
        "label",
        F.transform(
            "embedding",
            lambda x: F.floor(x.cast("double") * F.lit(10000) + F.lit(0.5))
            .cast("long"),
        ).alias("xi"),
    )
    t = q.select("label", F.posexplode("xi").alias("dim", "e"))
    sums = t.groupBy("label", "dim").agg(F.sum("e").alias("s"))
    nl = q.groupBy("label").agg(F.count(F.lit(1)).alias("n_l"))
    cent = (
        sums.groupBy("label")
        .agg(F.array_sort(F.collect_list(F.struct("dim", "s"))).alias("ds"))
        .select("label", F.col("ds.s").alias("sarr"))
        .join(nl, "label")
        .withColumnRenamed("label", "clabel")
    )
    d = (
        q.join(
            F.broadcast(cent), F.col("label") == F.col("clabel")
        )
        .select(
            "vec_id",
            "label",
            F.aggregate(
                F.zip_with(
                    "xi",
                    "sarr",
                    lambda x, s: (F.col("n_l") * x - s)
                    * (F.col("n_l") * x - s),
                ),
                F.lit(0).cast("long"),
                lambda acc, v: acc + v,
            ).alias("d2_num"),
            "n_l",
        )
    )
    w = Window.partitionBy("label").orderBy(
        F.desc("d2_num"), F.asc("vec_id")
    )
    return (
        d.withColumn("rnk", F.row_number().over(w).cast("long"))
        .where(F.col("rnk") <= 5)
        .select(
            F.col("label").cast("long").alias("label"),
            F.col("vec_id").cast("long").alias("vec_id"),
            "d2_num",
            "n_l",
            "rnk",
        )
        .orderBy("label", "rnk")
    )


# DCG@10 weights floor(1e6/log2(i+1)+0.5) and their prefix sums, baked
# as integer literals so ranking quality is exact-int on both engines
# (never an engine log2).
NDCG_W_PPM = [1000000, 630930, 500000, 430677, 386853,
              356207, 333333, 315465, 301030, 289065]
NDCG_CUMW_PPM = [1000000, 1630930, 2130930, 2561607, 2948460,
                 3304667, 3638000, 3953465, 4254495, 4543560]


@register(
    "q_emb_ndcg_at10",
    oracle=f"""
    WITH q8 AS (
      SELECT vec_id, label, {_sql_q_vec()} AS q
      FROM (
        SELECT vec_id, label, embedding,
               list_max(list_transform(embedding,
                 x -> abs(CAST(x AS DOUBLE)))) AS scale
        FROM embeddings
      )
    ),
    qry AS (SELECT * FROM q8 WHERE vec_id % 100 = 0),
    pairs AS (
      SELECT a.vec_id AS qid, a.label AS qlabel,
             b.vec_id AS nid, b.label AS nlabel,
             CAST(list_sum(list_transform(generate_series(1, {EMB_DIM}),
                  i -> a.q[i] * b.q[i])) AS BIGINT) AS dot
      FROM qry a JOIN q8 b ON b.vec_id <> a.vec_id
    ),
    ranked AS (
      SELECT qid, qlabel, nlabel,
             row_number() OVER (PARTITION BY qid
                                ORDER BY dot DESC, nid) AS rnk
      FROM pairs
    ),
    rtot AS (
      SELECT qid,
             CAST(sum(CASE WHEN nlabel = qlabel THEN 1 ELSE 0 END)
                  AS BIGINT) AS r_total
      FROM ranked GROUP BY qid
    ),
    dcg AS (
      SELECT qid,
             CAST(sum(CASE WHEN nlabel = qlabel
                  THEN ([{", ".join(str(w) for w in NDCG_W_PPM)}]::BIGINT[])[rnk]
                  ELSE 0 END) AS BIGINT) AS dcg_ppm,
             CAST(sum(CASE WHEN nlabel = qlabel THEN 1 ELSE 0 END)
                  AS BIGINT) AS hits10
      FROM ranked WHERE rnk <= 10 GROUP BY qid
    )
    SELECT CAST(d.qid AS BIGINT) AS qid, r.r_total, d.hits10, d.dcg_ppm,
           CASE WHEN r.r_total > 0 THEN
             ([{", ".join(str(c) for c in NDCG_CUMW_PPM)}]::BIGINT[])
               [least(r.r_total, 10)]
           ELSE NULL END AS idcg_ppm,
           CASE WHEN r.r_total > 0 THEN
             floor(CAST(d.dcg_ppm AS DOUBLE)
                   / ([{", ".join(str(c) for c in NDCG_CUMW_PPM)}]::BIGINT[])
                       [least(r.r_total, 10)]
                   * 1000000 + 0.5) / 1000000
           ELSE NULL END AS ndcg10
    FROM dcg d JOIN rtot r ON r.qid = d.qid
    ORDER BY qid
    """,
    tier="P1",
    doc="NDCG@10 of the int8-ANN ranking — the ranking-quality metric "
    "for the similarity stack: for each probe query (vec_id%100=0, "
    "the sanctioned bounded query set), neighbors are ranked by the "
    "EXACT INTEGER int8-quantized dot product (the ranking an int8 "
    "ANN index actually serves, deterministic on both engines with "
    "nid tiebreak), relevance = same label, and DCG/IDCG use "
    "1/log2(i+1) weights BAKED as ppm integer literals (never an "
    "engine log2) — so DCG, IDCG, and the argsort are all exact "
    "int64, with one final divide per query. At 100 TB the probe "
    "set stays fixed-size and the per-query candidate scan is the "
    "ANN index's own retrieval path; this operator is the offline "
    "quality gate run after each index build "
    "(q_emb_quantize_int8 -> index -> this). A probe whose label "
    "has no other members (r_total=0, IDCG undefined) emits NULL "
    "idcg/ndcg on BOTH engines — never element_at(arr, 0).",
)
def q_emb_ndcg_at10(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "embeddings")
    scale, q = _quant_cols()
    q8 = e.select("vec_id", "label", q.alias("q"))
    qry = q8.where(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("qid"),
        F.col("label").alias("qlabel"),
        F.col("q").alias("qq"),
    )
    pairs = (
        q8.join(F.broadcast(qry), F.col("vec_id") != F.col("qid"))
        .select(
            "qid",
            "qlabel",
            F.col("vec_id").alias("nid"),
            F.col("label").alias("nlabel"),
            F.aggregate(
                F.zip_with("qq", "q", lambda a, b: a * b),
                F.lit(0).cast("long"),
                lambda acc, v: acc + v,
            ).alias("dot"),
        )
    )
    w = Window.partitionBy("qid").orderBy(F.desc("dot"), F.asc("nid"))
    ranked = pairs.withColumn("rnk", F.row_number().over(w))
    rel = F.when(F.col("nlabel") == F.col("qlabel"), 1).otherwise(0)
    warr = F.array(*[F.lit(x) for x in NDCG_W_PPM])
    carr = F.array(*[F.lit(x) for x in NDCG_CUMW_PPM])
    rtot = ranked.groupBy("qid").agg(
        F.sum(rel).cast("long").alias("r_total")
    )
    dcg = (
        ranked.where(F.col("rnk") <= 10)
        .groupBy("qid")
        .agg(
            F.sum(
                F.when(
                    F.col("nlabel") == F.col("qlabel"),
                    F.element_at(warr, F.col("rnk").cast("int")),
                ).otherwise(0)
            )
            .cast("long")
            .alias("dcg_ppm"),
            F.sum(rel).cast("long").alias("hits10"),
        )
    )
    # r_total=0 (a label with no other members) would make the index
    # element_at(carr, 0) — a runtime error under Spark's 1-based array
    # indexing while DuckDB's [0] silently yields NULL.  Guard the index
    # and emit an explicit NULL ndcg for degenerate probes (documented,
    # not silent — mirrored by the CASE in the oracle).
    idcg = F.when(
        F.col("r_total") > 0,
        F.element_at(
            carr, F.least(F.col("r_total"), F.lit(10)).cast("int")
        ),
    )
    return (
        dcg.join(rtot, "qid")
        .select(
            F.col("qid").cast("long").alias("qid"),
            "r_total",
            "hits10",
            "dcg_ppm",
            idcg.alias("idcg_ppm"),
            (
                F.floor(
                    F.col("dcg_ppm").cast("double")
                    / idcg
                    * F.lit(1000000)
                    + F.lit(0.5)
                )
                / F.lit(1000000)
            ).alias("ndcg10"),
        )
        .orderBy("qid")
    )
