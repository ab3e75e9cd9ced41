"""Dedup-ladder scaling study — candidate growth vs corpus growth.

The generic scale study (tools/scale_study.py) replicates FACT tables;
it deliberately copies documents unscaled because replicating identical
texts k-fold turns every document into a (k-1)-way exact duplicate and
inflates every near-dup pair count quadratically — a different
workload, not a bigger one (VERDICT r4 item 7 asks for the
documents-side ladder done right).

This tool grows the corpus with DISTINCT texts: replica r of doc d gets
every token suffixed with ``_r<r>`` (and doc_id shifted by a stride),
so each replica preserves the original corpus's internal near-dup
structure exactly while sharing ZERO tokens/shingles across replicas.
The honest scaling claim for a blocked/bucketed dedup operator is then:

    corpus k×  =>  pairs/candidates k× (linear), wall-clock ~k×.

Anything super-linear in OUTPUT ROWS means the blocking broke (e.g. a
hot bucket spanning replicas); anything super-linear in TIME beyond
sort costs means a shuffle or candidate set is growing quadratically.

    python tools/dedup_scale_study.py [--reps 4 16] [--verify]
    python tools/dedup_scale_study.py --boilerplate [--reps 4 16]

``--verify`` DuckDB-checks the two cheapest hash rungs at the largest
scale, so correctness at scale is proven, not assumed.

``--boilerplate`` (VERDICT r7 item 2) measures the stop-bucket cap
under the adversarial input the organic replicas cannot produce: a
shared 64-token header is prepended to EVERY document (unsuffixed, so
it is identical across replicas), which makes each of the header's
winnowing fingerprints a bucket holding the whole corpus — the
uncapped r7 bucket form would generate |corpus|² pairs inside one
task there. With the cap the run must stay near the organic wall-clock
and the audited drop counters (n_stop_fps / n_buckets_dropped) must be
NONZERO; the x1 build is also DuckDB-hash-verified so the capped
semantics are proven identical across engines on a corpus where the
cap actually fires.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

sys.path.insert(0, ".")

from pyspark.sql import functions as F  # noqa: E402

from sd2_drp_experimentgen_spark.plans import all_specs  # noqa: E402
from sd2_drp_experimentgen_spark.schemas import TABLE_NAMES  # noqa: E402
from sd2_drp_experimentgen_spark.session import get_spark  # noqa: E402

BASE_SF = "/root/testdata/sf0.1"
DOC_STRIDE = 10**7

# The dedup ladder, cheap-to-expensive. Output rows are the measured
# "candidate/pair set": minhash_bands emits banded bucket candidates,
# lsh_refine the exact-verified survivors, winnow_pairs fingerprint
# co-occurrence pairs, jaccard/containment the exact ppjoin-verified
# pair sets.
LADDER = [
    "q_dedup_minhash_bands",
    "q_dedup_lsh_refine",
    "q_text_winnow_fingerprints",
    "q_dedup_winnow_pairs",
    "q_neardup_jaccard",
    "q_neardup_containment",
    # round-5 rungs
    "q_dedup_threshold_curve",
    "q_mm_phash_dedup",
]

# Hash-verified at the largest built corpus (VERDICT r5 next-round #5
# extended the set beyond the two cheapest rungs: containment,
# lsh_refine and the fixed-cardinality threshold curve are cheap to
# oracle because their outputs stay pair- or curve-sized).
VERIFY_AT_MAX = [
    "q_dedup_minhash_bands",
    "q_dedup_winnow_pairs",
    "q_neardup_containment",
    "q_dedup_lsh_refine",
    "q_dedup_threshold_curve",
]

# Each rung verifies at the LARGEST rep where the full-result
# cross-engine compare stays driver-tractable: compare() collects BOTH
# engines' complete outputs into pandas for the order-insensitive hash,
# so rungs whose output is pair-enumeration-sized cap out — at x64
# q_neardup_containment emits ~36M pair rows (563k per corpus-x1,
# linear as designed) and the toPandas collect alone crosses
# spark.driver.maxResultSize. This bounds the VERIFY HARNESS, not the
# engine: the Spark side computes and counts the x64 pair sets fine in
# the timed rungs above; only the hash compare is driver-bound, by its
# own design. Bounded-output rungs (capped LSH candidates, winnow
# pairs, 20-row curve) verify at the study's true max.
VERIFY_REP_CAP = {"q_neardup_containment": 16, "q_neardup_jaccard": 16}


# Deterministic 64-token shared header: long enough that every doc
# emits several header-only winnowing fingerprints (w=4 over 3-gram
# hashes) and a meaningful share of header shingles for the minhash
# side — the worst-case boilerplate a web corpus carries.
BP_HEADER = " ".join(f"bptok{i:02d}" for i in range(64))


def scaled_dir(
    rep: int, boilerplate: bool = False, capped_vocab: bool = False
) -> str:
    assert not (boilerplate and capped_vocab), (
        "boilerplate and capped_vocab are mutually exclusive modes"
    )
    root = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "..", ".scratch",
        "scale_docs",
    )
    suffix = "bp" if boilerplate else "cv" if capped_vocab else ""
    return os.path.abspath(os.path.join(root, f"x{rep}{suffix}"))


def replicate_documents(
    spark, docs, rep: int, boilerplate: bool = False,
    capped_vocab: bool = False,
):
    """THE replica transform — rep copies with replica-distinct bodies
    (every token suffixed ``_r<r>``, doc_id shifted by DOC_STRIDE) and,
    with ``boilerplate``, the UNsuffixed shared 64-token header
    prepended so one fingerprint/band bucket spans the whole corpus.
    Shared by :func:`build` and the CI cap smoke
    (tests/test_boilerplate_cap_smoke.py), so the corpus shape the
    round reports measure is BY CONSTRUCTION the one CI checks.

    ``capped_vocab`` (VERDICT r12 item 8): suffix the SOURCE instead of
    the tokens. Mutually exclusive with ``boilerplate`` (asserted —
    the two modes resolve their cache-directory suffix in different
    orders, so a combined call would stamp one mode's corpus into the
    other's cache). The near-dup pair definition is same-source, so
    source-distinct replicas contribute zero cross-replica pairs —
    exactly like token suffixing — while the GLOBAL vocabulary stays
    the base corpus's, keeping the int64-bitset gate
    (ND_BITSET_VOCAB_MAX) open at every replica factor. This is the
    corpus shape that gives the mask path its own decade curve (token
    suffixing pushed vocab past 63 from x4 up, SCALE.md r12)."""
    assert not (boilerplate and capped_vocab), (
        "boilerplate and capped_vocab are mutually exclusive modes"
    )
    reps = spark.range(rep).select(F.col("id").alias("rep"))
    if capped_vocab:
        return (
            docs.crossJoin(F.broadcast(reps))
            .withColumn("doc_id", F.col("doc_id") + F.col("rep") * DOC_STRIDE)
            .withColumn(
                "source", F.concat(F.col("source"), F.lit("_r"), F.col("rep"))
            )
            .drop("rep")
        )
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
        docs.crossJoin(F.broadcast(reps))
        .withColumn("doc_id", F.col("doc_id") + F.col("rep") * DOC_STRIDE)
        .withColumn("text", suffixed)
        .withColumn("n_chars", F.length("text"))
        .drop("rep")
    )


def build(
    spark, rep: int, boilerplate: bool = False, capped_vocab: bool = False
) -> str:
    """Replicate documents rep-fold with DISTINCT texts; copy the other
    tables unscaled so loaders and preflight see a complete fixture."""
    out = scaled_dir(rep, boilerplate, capped_vocab)
    marker = os.path.join(out, "_BUILT")
    if os.path.exists(marker):
        return out
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    for t in TABLE_NAMES:
        src = f"{BASE_SF}/{t}.parquet"
        dst = os.path.join(out, f"{t}.parquet")
        df = spark.read.parquet(src)
        if t == "documents":
            df = replicate_documents(spark, df, rep, boilerplate, capped_vocab)
        df.write.mode("overwrite").parquet(dst)
    open(marker, "w").write("ok")
    return out


def run_query(spark, name: str, sf_dir: str, runs: int = 2):
    from sd2_drp_experimentgen_spark.functions.helpers import (
        release_persisted,
    )

    fn = all_specs()[name].fn
    rows = fn(spark, sf_dir).count()  # warm-up + candidate/pair count
    release_persisted()
    best = float("inf")
    for _ in range(runs):
        t0 = time.perf_counter()
        fn(spark, sf_dir).count()
        # every timed run pays the full bucket-table build (same
        # accounting as bench.py) — never a cache read
        best = min(best, time.perf_counter() - t0)
        release_persisted()
    return round(best, 3), rows


def _bp_audit_count(spark, q: str, sf_dir: str) -> int:
    """Drop counter for a capped rung, read from the DEDICATED 1-row
    audit aggregate over the bucket table (ADVICE r8 #2) — never from
    the pair output, whose audit column has no row to ride on when no
    pair survives (the documented edge case). Releases the bucket
    table it builds."""
    from sd2_drp_experimentgen_spark.functions.helpers import (
        release_persisted,
    )
    from sd2_drp_experimentgen_spark.operators.llmtext import (
        _band_buckets,
        _band_drop_audit,
        _band_frame,
        _minhash_signatures,
        _winnow_buckets,
        _winnow_stop_audit,
    )
    from sd2_drp_experimentgen_spark.sources.tables import (
        fan_out,
        load_table,
    )

    if q == "q_dedup_winnow_pairs":
        audit = _winnow_stop_audit(_winnow_buckets(spark, sf_dir))
    elif q == "q_dedup_lsh_refine":
        d = fan_out(load_table(spark, sf_dir, "documents"), spark, sf_dir)
        audit = _band_drop_audit(
            _band_buckets(_band_frame(_minhash_signatures(d)))
        )
    else:  # pragma: no cover - guarded by BP_RUNGS keys
        raise ValueError(q)
    n = audit.first()[0]
    release_persisted()
    return int(n)


# The rungs whose stop-bucket cap the boilerplate mode exercises, with
# the audit column each carries in its output.
BP_RUNGS = {
    "q_dedup_winnow_pairs": "n_stop_fps",
    "q_dedup_lsh_refine": "n_buckets_dropped",
}


def run_boilerplate(spark, reps: list[int]) -> int:
    """Boilerplate-injection mode: bounded wall-clock + nonzero audited
    drops on a corpus where every doc shares a 64-token header."""
    result: dict = {"mode": "boilerplate", "header_tokens": 64, "scales": {}}
    for rep in [1] + [r for r in reps if r != 1]:
        d = build(spark, rep, boilerplate=True)
        row = {}
        for q, audit_col in BP_RUNGS.items():
            t, n = run_query(spark, q, d)
            dropped = _bp_audit_count(spark, q, d)
            row[q] = {"sec": t, "rows": n, audit_col: dropped}
            print(
                f"BP x{rep:<3} {q}: {t}s, {n} rows, {audit_col}={dropped}"
                + (" (no surviving pairs)" if n == 0 else ""),
                flush=True,
            )
            if not dropped:
                print(
                    f"FAIL: {q}: the dedicated bucket audit reports zero "
                    "dropped buckets on the boilerplate corpus — the cap "
                    "did not fire (distinct from the no-surviving-pairs "
                    "edge case, which this counter is immune to)",
                    flush=True,
                )
                return 1
        result["scales"][rep] = row

        if rep == 1:
            # hash-verify the capped semantics vs DuckDB exactly where
            # the cap fires (x1 keeps the oracle's self-join bounded)
            from tools.verify_local import compare, duck_connect

            con = duck_connect(d)
            for q in BP_RUNGS:
                spec = all_specs()[q]
                ok, msg = compare(q, spec.fn(spark, d), con.sql(spec.oracle))
                print(
                    f"VERIFY bp-x1 {q}: {'PASS' if ok else 'FAIL'} {msg}",
                    flush=True,
                )
                if not ok:
                    return 1
    print(json.dumps(result))
    return 0


def run_capped_vocab(spark, reps: list[int]) -> int:
    """Capped-vocabulary decade study (VERDICT r12 item 8): source-
    suffixed replicas keep the global vocabulary at the base corpus's,
    so the int64-bitset mask path stays gated IN at every replica
    factor. Per rung: vocab size, mask-path wall, forced-ppjoin wall
    on the SAME corpus (gate monkeypatched to -1), and a pair-count
    equality check between the two paths."""
    from sd2_drp_experimentgen_spark.functions.helpers import (
        release_persisted,
    )
    from sd2_drp_experimentgen_spark.operators import text as text_mod

    result: dict = {"mode": "capped_vocab", "scales": {}}
    for rep in [1] + [r for r in reps if r != 1]:
        d = BASE_SF if rep == 1 else build(spark, rep, capped_vocab=True)
        docs = spark.read.parquet(f"{d}/documents.parquet")
        vocab = (
            docs.select(F.explode(F.split(F.col("text"), " ")).alias("t"))
            .distinct()
            .count()
        )
        assert vocab <= text_mod.ND_BITSET_VOCAB_MAX, (
            f"capped-vocab build leaked vocabulary: {vocab}"
        )
        t_mask, n_mask = run_query(spark, "q_neardup_jaccard", d)
        orig = text_mod.ND_BITSET_VOCAB_MAX
        try:
            text_mod.ND_BITSET_VOCAB_MAX = -1  # force the ppjoin path
            t_pp, n_pp = run_query(spark, "q_neardup_jaccard", d)
        finally:
            text_mod.ND_BITSET_VOCAB_MAX = orig
        release_persisted()
        row = {
            "vocab": vocab,
            "mask_sec": t_mask,
            "ppjoin_sec": t_pp,
            "rows": n_mask,
            "speedup": round(t_pp / max(t_mask, 1e-9), 2),
        }
        if n_mask != n_pp:
            print(f"FAIL x{rep}: mask {n_mask} rows != ppjoin {n_pp} rows")
            return 1
        result["scales"][rep] = row
        print(
            f"CV x{rep:<3} vocab={vocab} mask={t_mask}s ppjoin={t_pp}s "
            f"({row['speedup']}x) rows={n_mask} (paths agree)",
            flush=True,
        )
    print(json.dumps(result))
    return 0


# The two signature pipelines (VERDICT r12 item 5) and the waypoint
# sub-jobs that decompose the LLM pipeline's wall: each waypoint times
# a PREFIX of the pipeline (waypoint deltas ≈ stage costs; shared
# subtree recomputation makes them approximate, which the SCALE.md
# section states).
def run_pipelines(spark, reps: list[int]) -> int:
    from sd2_drp_experimentgen_spark.functions.helpers import (
        release_persisted,
    )
    from sd2_drp_experimentgen_spark.operators.text import (
        exact_dedup_losers,
    )
    from sd2_drp_experimentgen_spark.sources.tables import (
        fan_out,
        load_table,
    )

    def llm_waypoints(sf_dir: str) -> dict:
        """Prefix jobs of q_llm_corpus_pipeline: quality gate ->
        dedup losers -> (timed inside the full query) the rest."""
        out = {}
        t0 = time.perf_counter()
        d = fan_out(load_table(spark, sf_dir, "documents"), spark, sf_dir)
        toks = F.split(F.col("text"), " ")
        gated = d.select(
            "doc_id", "text", "lang", "n_chars",
            F.size(toks).alias("n_tok"),
        ).where((F.col("n_tok") >= 20) & F.col("n_chars").between(100, 1000))
        out["gate_rows"] = gated.count()
        out["gate_sec"] = round(time.perf_counter() - t0, 3)
        t0 = time.perf_counter()
        out["loser_rows"] = exact_dedup_losers(gated).count()
        out["dedup_sec"] = round(time.perf_counter() - t0, 3)
        release_persisted()
        return out

    result: dict = {"mode": "pipelines", "scales": {}}
    for rep in [1] + [r for r in reps if r != 1]:
        d = BASE_SF if rep == 1 else build(spark, rep)
        row: dict = {}
        for q in ("q_llm_corpus_pipeline", "q_mm_corpus_pipeline"):
            t, n = run_query(spark, q, d)
            row[q] = {"sec": t, "rows": n}
            print(f"PIPE x{rep:<3} {q}: {t}s, {n} rows", flush=True)
        row["llm_waypoints"] = llm_waypoints(d)
        print(f"PIPE x{rep:<3} waypoints: {row['llm_waypoints']}", flush=True)
        result["scales"][rep] = row
    print(json.dumps(result))
    return 0


def run_lsh_curve(spark, reps: list[int]) -> int:
    """VERDICT r13 item 5: the x8->x128 decade curve for the SHIPPED
    capped q_dedup_lsh_refine — r7/r8 measured pre-cap forms, and the
    only published cap-firing evidence is the injected-boilerplate
    mode; this measures the cap's behavior at ORGANIC scale. Per
    scale: wall time (min-of-2, full bucket-table rebuild each run),
    refined-pair count, candidate-pair count, bucket-table stats
    (count, max size) and the n_buckets_dropped audit. Expected shape:
    pairs/candidates exactly linear (replicas share zero shingles),
    drops 0 at every rung (organic buckets stay far under
    LSH_BUCKET_CAP=64) — a nonzero drop or super-linear candidate
    count here is a blocking defect."""
    from sd2_drp_experimentgen_spark.functions.helpers import (
        release_persisted,
    )
    from sd2_drp_experimentgen_spark.operators.llmtext import (
        LSH_BUCKET_CAP,
        _band_buckets,
        _band_candidates,
        _band_frame,
        _minhash_signatures,
    )
    from sd2_drp_experimentgen_spark.sources.tables import (
        fan_out,
        load_table,
    )

    out: dict = {}
    base: dict | None = None
    for rep in [1] + reps:
        d = BASE_SF if rep == 1 else build(spark, rep)
        t, n_pairs = run_query(spark, "q_dedup_lsh_refine", d)
        docs = fan_out(load_table(spark, d, "documents"), spark, d)
        buckets = _band_buckets(_band_frame(_minhash_signatures(docs)))
        stats = buckets.agg(
            F.count(F.lit(1)).alias("n_buckets"),
            F.max(F.size("ids")).alias("max_bucket"),
            F.count_if(F.size("ids") > LSH_BUCKET_CAP)
            .cast("long")
            .alias("n_dropped"),
        ).first()
        n_cand = _band_candidates(buckets).count()
        release_persisted()
        row = {
            "sec": t,
            "pairs": n_pairs,
            "candidates": n_cand,
            "buckets": stats["n_buckets"],
            "max_bucket": stats["max_bucket"],
            "n_buckets_dropped": stats["n_dropped"],
        }
        if base is None:
            base = row
        row["time_ratio"] = round(t / max(base["sec"], 1e-9), 1)
        row["pairs_ratio"] = round(n_pairs / max(base["pairs"], 1), 2)
        row["cand_ratio"] = round(n_cand / max(base["candidates"], 1), 2)
        out[rep] = row
        print(
            f"x{rep:<4} lsh_refine: {t}s ({row['time_ratio']}x), "
            f"pairs {n_pairs} ({row['pairs_ratio']}x), "
            f"cand {n_cand} ({row['cand_ratio']}x), "
            f"max_bucket {stats['max_bucket']}, "
            f"dropped {stats['n_dropped']}",
            flush=True,
        )
    print(json.dumps({"lsh_curve": out}))
    return 0


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--reps", nargs="*", type=int, default=[4, 16])
    ap.add_argument("--verify", action="store_true")
    ap.add_argument("--boilerplate", action="store_true")
    ap.add_argument("--capped-vocab", action="store_true")
    ap.add_argument("--pipelines", action="store_true")
    ap.add_argument("--lsh-curve", action="store_true")
    args = ap.parse_args()

    spark = get_spark(app_name="sd2drp-dedup-scale", shuffle_partitions=32)
    if args.boilerplate:
        return run_boilerplate(spark, args.reps)
    if args.capped_vocab:
        return run_capped_vocab(spark, args.reps)
    if args.pipelines:
        return run_pipelines(spark, args.reps)
    if args.lsh_curve:
        return run_lsh_curve(spark, args.reps)
    result: dict = {"base": {}, "scales": {}}
    for q in LADDER:
        t, n = run_query(spark, q, BASE_SF)
        result["base"][q] = {"sec": t, "rows": n}
        print(f"x1   {q}: {t}s, {n} rows", flush=True)

    for rep in args.reps:
        d = build(spark, rep)
        row = {}
        for q in LADDER:
            t, n = run_query(spark, q, d)
            base = result["base"][q]
            row[q] = {
                "sec": t,
                "rows": n,
                "time_ratio": round(t / max(base["sec"], 1e-9), 1),
                "rows_ratio": round(n / max(base["rows"], 1), 2),
            }
            print(
                f"x{rep:<3} {q}: {t}s ({row[q]['time_ratio']}x time), "
                f"{n} rows ({row[q]['rows_ratio']}x rows at {rep}x corpus)",
                flush=True,
            )
        result["scales"][rep] = row

        if args.verify:
            # verify q at the LARGEST requested rep within its cap
            # (fallback: the smallest rep, so every rung verifies
            # somewhere even under --reps beyond all caps) — each q
            # matches exactly one rep of the loop
            def _verify_rep(q: str) -> int:
                cap = VERIFY_REP_CAP.get(q, 10**9)
                within = [r for r in args.reps if r <= cap]
                return max(within) if within else min(args.reps)

            to_verify = [q for q in VERIFY_AT_MAX if rep == _verify_rep(q)]
            if to_verify:
                from tools.verify_local import compare, duck_connect

                con = duck_connect(d)
                for q in to_verify:
                    spec = all_specs()[q]
                    ok, msg = compare(
                        q, spec.fn(spark, d), con.sql(spec.oracle)
                    )
                    print(
                        f"VERIFY x{rep} {q}: {'PASS' if ok else 'FAIL'} {msg}",
                        flush=True,
                    )
                    if not ok:
                        return 1

    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
