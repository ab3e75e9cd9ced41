"""Reusable column-expression helpers shared across operators.

All helpers return Column expressions (JVM-side, codegen-friendly) —
never Python UDFs. They encode the cross-engine determinism rules from
SURVEY §5.3 so individual operators don't re-derive them.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _round_halfup(col: Column | str, scale: int) -> Column:
    """Deterministic cross-engine rounding: floor(x*10^s + 0.5)/10^s.

    Built-in round() differs between engines in the last ulp (Spark uses
    BigDecimal HALF_UP on the exact decimal expansion; DuckDB rounds in
    float arithmetic), which produced observed 0.1%-of-rows hash
    mismatches at 4dp. This explicit formula is pure IEEE double ops, so
    both engines compute bit-identical results from bit-identical
    inputs. Oracle SQL uses the literal same formula.
    """
    c = F.col(col) if isinstance(col, str) else col
    p = 10**scale
    return F.floor(c * p + 0.5) / p


def r4(col: Column | str) -> Column:
    """Round a float expression to 4dp (cross-engine hash stability)."""
    return _round_halfup(col, 4)


def r6(col: Column | str) -> Column:
    """Round a float expression to 6dp."""
    return _round_halfup(col, 6)


def sql_r(expr: str, scale: int = 4) -> str:
    """Oracle-side twin of :func:`_round_halfup` for DuckDB SQL strings."""
    p = 10**scale
    return f"floor(({expr}) * {p} + 0.5) / {p}"


def epoch_seconds(ts: Column | str) -> Column:
    """Timestamp -> whole epoch seconds as BIGINT (never emit raw ts)."""
    c = F.col(ts) if isinstance(ts, str) else ts
    return c.cast("long")


def well_label(rank0: Column) -> Column:
    """0-based rank -> plate well label 'A1'..'H12' (row-major 8x12).

    The signature plate-layout computation of the reference pipeline
    (rank -> row letter + column number), as a pure Column expression.
    """
    row_letter = F.char(F.lit(65) + (rank0 / F.lit(12)).cast("int"))
    col_number = (rank0 % F.lit(12) + F.lit(1)).cast("string")
    return F.concat(row_letter, col_number)


def int_units(col: Column | str, scale: int = 4) -> Column:
    """Per-row exact integer units: floor(x*10^s + 0.5) as BIGINT.

    The scale-proof aggregation recipe (SURVEY §5.3 extension, found at
    the sf0.1 sweep): a SUM of doubles depends on reduction order, and
    once group sums reach ~1e10 the associativity noise crosses the 4dp
    rounding boundary — fixed-decimal rounding AFTER a float sum only
    holds at small scale. Converting each row to integer units first is
    a deterministic single-expression double op (identical on both
    engines for identical inputs); the int64 sum is then exact and
    order-independent at ANY scale, and one final divide is a single
    IEEE op. Headroom: 1e14 units stay far below 2^53.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.floor(c * 10**scale + 0.5).cast("long")


def sql_units(expr: str, scale: int = 4) -> str:
    """Oracle-side twin of :func:`int_units` for DuckDB SQL strings."""
    return f"CAST(floor(({expr}) * {10 ** scale} + 0.5) AS BIGINT)"


def exact_sum(col: Column | str, scale: int = 4) -> Column:
    """Exact SUM for rounded-DOUBLE money/measure OUTPUT columns whose
    group count is BOUNDED while rows are not (the r10 x128 replication
    study's finding): a float64 sum carries couple-ulp noise, and once
    the group sum's magnitude reaches ~5e11 one ulp exceeds the 1e-4
    rounding step — q_agg_groupby_q1's sum_charge differed from DuckDB
    in the 4th decimal at a 128x corpus with an identical plan. Recipe:
    per-row exact integer units (:func:`int_units`, a deterministic
    single-expression double op), summed in decimal(38,0) — NOT int64,
    which itself overflows at extreme scale (the Q9 lesson) — then ONE
    double cast + ONE division by 10^scale. DuckDB's twin
    (:func:`sql_exact_sum`) performs the same two IEEE roundings over
    its HUGEINT sum, so the doubles are bit-identical at ANY scale.
    Callers keep their final ``r4(...)`` display rounding (needed when
    ``scale > 4``, harmless at 4). NULL semantics match SQL: all-NULL
    or empty groups stay NULL."""
    c = F.col(col) if isinstance(col, str) else col
    return F.sum(int_units(c, scale).cast("decimal(38,0)")).cast(
        "double"
    ) / float(10**scale)


def sql_exact_sum(expr: str, scale: int = 4) -> str:
    """Oracle-side twin of :func:`exact_sum` for DuckDB SQL strings
    (sum(BIGINT) widens to HUGEINT, i.e. exact, before the double
    cast)."""
    return (
        f"(CAST(sum({sql_units(expr, scale)}) AS DOUBLE) "
        f"/ {float(10 ** scale)})"
    )


def sql_sum_units(expr: str, scale: int = 4) -> str:
    """``CAST(sum(<units>) AS BIGINT)`` — the only safe shape for an
    integer-sum ORACLE OUTPUT column (determinism rule #11, SURVEY §5.3).

    DuckDB widens ``sum(BIGINT)`` to HUGEINT; pandas (the driver's hash
    medium) has no 128-bit int dtype, so a HUGEINT result column
    materializes as float64 (``12056.0``) while Spark's stays int64
    (``12056``) — a guaranteed hash-fail whenever that oracle is sampled
    (VERDICT r4: both r3/r4 hash failures, 42 affected oracles).  The
    outer cast restores BIGINT before pandas ever sees the column.
    Intermediate (CTE-internal) HUGEINTs are harmless; only result
    columns must be cast — ``tests/test_oracle_types.py`` enforces this
    statically for every registered oracle.
    """
    return f"CAST(sum({sql_units(expr, scale)}) AS BIGINT)"


# --- persist lifecycle (ADVICE r7/r8) ---------------------------------
# A registered query that persist()s a reused intermediate cannot
# unpersist it itself: the caller materializes the returned DataFrame
# AFTER the query function returns, and the cache must be live for
# that collect/hash. Tracking persisted frames here lets harnesses
# (bench.py, tools/verify_local.py, and the __spark_entry__ query
# wrapper the external driver calls) release them BETWEEN queries, so
# repeated invocations in one session don't accumulate cached
# partitions in executor memory.
#
# Threading contract (ADVICE r8): tracked_persist/release_persisted
# assume the SINGLE-THREADED harness every consumer in this repo is —
# one query materializes fully before the next starts, and
# release_persisted() runs between queries, never concurrently with a
# materialization. A multi-threaded harness must scope releases with
# the ``session`` argument (entries are keyed by each frame's owning
# SparkSession), and must still serialize release against that
# session's in-flight queries. Sessions that never drain their
# entries fall back to MEMORY_AND_DISK LRU eviction — bounded, just
# less deliberate.
#
# Generation scoping (ADVICE r9 low): the external driver's query
# wrapper cannot see when the driver materializes the DataFrame it
# returned, so "release everything on entry to the next query" would
# drop a not-yet-collected query's cache if the driver ever built
# several DataFrames before collecting them. Each tracked frame is
# stamped with the harness generation current at persist time;
# ``advance_persist_generation()`` marks a query boundary, and
# ``release_persisted(before_generation=g)`` drops only frames
# stamped OLDER than g — the __spark_entry__ wrapper passes the
# previous boundary, giving every cache one full run()-boundary of
# grace (at most two queries' caches live at once; results stay
# correct either way — an early unpersist only degrades to
# recomputation).
_TRACKED_PERSISTS: list = []
_PERSIST_GEN: dict[int, int] = {}  # id(df) -> generation at persist time
_GENERATION = 0


def advance_persist_generation() -> int:
    """Mark a harness query boundary; returns the NEW generation.
    Frames persisted from now on are stamped with this generation."""
    global _GENERATION
    _GENERATION += 1
    return _GENERATION


def tracked_persist(df):
    """``df.persist()`` + registration for :func:`release_persisted`."""
    df = df.persist()
    _TRACKED_PERSISTS.append(df)
    _PERSIST_GEN[id(df)] = _GENERATION
    return df


def touch_persisted(df) -> bool:
    """Re-stamp a tracked frame with the CURRENT generation; returns
    False when the frame is no longer tracked (already released), in
    which case the caller must rebuild. This is how a cache shared
    ACROSS queries (the graph family's near-dup edge build, r12)
    composes with the generation contract: each reuse renews the
    one-boundary grace, so the cache lives exactly as long as
    consecutive queries keep consuming it, and an idle cache still
    ages out on schedule."""
    if any(d is df for d in _TRACKED_PERSISTS):
        _PERSIST_GEN[id(df)] = _GENERATION
        return True
    return False


def track_materialized(df):
    """Register an ALREADY-materialized frame (localCheckpoint) with
    the release/touch/generation lifecycle WITHOUT adding a persist
    layer on top. Used by shared builds whose consumers are iterative
    (graph.bipartite_edges): the r11/r13 variant studies both measured
    recompute-from-checkpointed-RDD beating a columnar persist for
    per-iteration scans (r13 at sf0.1: pagerank 3.6 s ckpt vs 6.2 s
    persist), so the shared frame is a localCheckpoint — release via
    this tracker unregisters it (so touch_persisted returns False and
    consumers rebuild, keeping bench's pay-the-build-every-run
    contract); the checkpoint BLOCKS are freed by the ContextCleaner
    once the last reference drops, same as the pre-r13 per-query
    localCheckpoints."""
    _TRACKED_PERSISTS.append(df)
    _PERSIST_GEN[id(df)] = _GENERATION
    return df


def release_tracked(df) -> bool:
    """Immediately unpersist ONE tracked frame — the cache-eviction
    path (ADVICE r12): when a shared build is superseded (e.g. a
    corpus mtime bump keys a fresh edge build), the evictor must
    release the old frame explicitly instead of dropping its dict
    handle and leaving it occupying executor storage until the next
    release_persisted() boundary. Returns False (no-op) when the frame
    was already released by a harness sweep."""
    for i, d in enumerate(_TRACKED_PERSISTS):
        if d is df:
            del _TRACKED_PERSISTS[i]
            _PERSIST_GEN.pop(id(d), None)
            d.unpersist()
            return True
    return False


def release_persisted(session=None, before_generation=None) -> int:
    """Unpersist tracked intermediates; returns the count released.

    With ``session`` (a SparkSession), only frames owned by that
    session are released — entries registered by other sessions stay
    tracked instead of being yanked out from under a concurrent
    harness (ADVICE r8). With ``before_generation``, only frames
    persisted BEFORE that harness generation are released (ADVICE r9
    low — see the generation-scoping note above). Default releases
    everything (the single-threaded-harness fast path: bench.py and
    verify_local materialize each query before the next builds).
    """

    def _droppable(d) -> bool:
        if session is not None and d.sparkSession is not session:
            return False
        if (
            before_generation is not None
            and _PERSIST_GEN.get(id(d), 0) >= before_generation
        ):
            return False
        return True

    drop = [d for d in _TRACKED_PERSISTS if _droppable(d)]
    keep = [d for d in _TRACKED_PERSISTS if not _droppable(d)]
    _TRACKED_PERSISTS[:] = keep
    for d in drop:
        _PERSIST_GEN.pop(id(d), None)
        d.unpersist()
    return len(drop)
