"""Bench harness — times the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line the driver records as BENCH_r{N}.json.

Protocol mirrors BASELINE.md: warm SparkSession (cold start excluded),
one warm-up run per query, then the MIN of three timed runs with the
result fully materialized via collect(). Min-of-N is the noise-robust
estimator for a shared machine — r1 showed ±3× swings in single timed
runs under co-tenant load with an identical plan; the min converges to
the true cost of the plan, which is what the gate grades.
(VERDICT r9 item 5: min-of-2 → min-of-3, and the JSON line now stamps
os.getloadavg() before and after the run plus the cpu count, so a
uniform drift across queries self-documents as ambient co-tenant load
instead of burning a verdict cycle distinguishing noise from
regression.)

JVM recycling (VERDICT r13 item 1): the r13 session documented
same-code drift 23.4 s → 29.4 s across a long-lived JVM — block-manager
and code-cache residue accumulating over a build session's hundreds of
plans inflated untouched queries' timings uniformly. The sweep now runs
in SEGMENTS of $SPARK_GRAFT_JVM_RECYCLE queries (default 9), each in a
FRESH subprocess JVM: residue can accumulate across at most one
segment, and a segment's cold start stays excluded because timing
begins after each query's own warm-up run. Set
SPARK_GRAFT_JVM_RECYCLE=0 for the old single-JVM sweep (the scale
studies keep their own protocol).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

# Headline set: the shapes BASELINE.md records probe numbers for, plus
# flagship extensions as they land.
HEADLINE = [
    "q_agg_groupby_q1",
    "q_join_multiway_topk",
    "q_filter_pred_q6",
    "q_win_rank_topn",
    "q_stream_tumbling_1h",
    "q_text_tokenize_counts",
    "q_mix_weighted_avg",
    "q_dedup_exact_docs",
    "q_sim_cosine_topk",
    "q_join_interval",
    "q_stream_session_30m",
    "q_join_asof",
    "q_train_features_wide",
    "q_tfidf_top_terms",
    "q_dedup_embedding_nn",
    # LLM-data-pipeline headliners (VERDICT r6 item 6): the signature
    # compositions and the post-gate kNN graph get a per-round
    # regression tripwire of their own — the original 15 predate the
    # whole LLM layer.
    "q_llm_corpus_pipeline",
    "q_dedup_lsh_refine",
    "q_mm_corpus_pipeline",
    "q_emb_knn_graph",
    "q_ml_auc_rank",
    # r7 headline rewrite: winnowing match pairs (bucket form + fan_out,
    # 8.2 s -> 1.4 s at sf0.1) — tripwired so the rewrite can't silently
    # regress.
    "q_dedup_winnow_pairs",
    # r9: the derived-partsupp TPC-H completions — Q9 is the heaviest
    # join tree in the registry (6 tables incl. a fact-fact pair),
    # tripwired from birth; Q2/Q11 ride along as the correlated-min
    # and threshold-subquery archetypes.
    "q_tpch_q2_min_cost_supplier",
    "q_tpch_q9_product_profit",
    "q_tpch_q11_important_stock",
    # r12 (VERDICT r11 item 3): iterative-graph tripwires — the family
    # had 5 plans rewritten in r11 and was the only scale-studied
    # family with no per-round regression check. PageRank and BFS are
    # the two cheap-at-sf0.1 rungs (the components/triangle rungs stay
    # SCALE.md-only at 10-15 s each); recorded-number targets in
    # BASELINE.md per the r7 precedent for shapes without probe rows.
    "q_graph_pagerank",
    "q_graph_bfs_hops",
]


# The driver records only the LAST ~2 KB of stdout and structurally
# parses the final JSON line (BENCH_r10's line outgrew that window once
# the per-run spreads landed, degrading the round's record to
# parsed:null — VERDICT r10 item 2). The final line therefore carries
# ONLY the compact summary (per-query mins + load stamps), hard-capped
# by tests/test_bench_line.py, while the full three-run spreads are
# emitted as a separate PRECEDING line and mirrored to a sidecar file.
DRIVER_TAIL_BYTES = 2000
RUNS_SIDECAR = "BENCH_RUNS_LATEST.json"


def build_summary(
    timings: dict[str, float],
    sf: float,
    load_before: tuple[float, ...],
    load_after: tuple[float, ...],
    jvm_recycle: int = 0,
    cpus: int | None = None,
) -> dict:
    """The compact final-line payload. Everything the gate and the
    noise-band protocol need; nothing that grows with run count."""
    return {
        "metric": "headline_total_warm",
        "value": round(sum(timings.values()), 4),
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        # Ambient-load context (VERDICT r9 item 5): 1/5/15-min load
        # averages straddling the run + the cpu count the local[]
        # master actually got (the live session's defaultParallelism,
        # not the host's core count). BASELINE.md's noise-band protocol
        # reads these before calling a drift a riser.
        "loadavg_before": load_before,
        "loadavg_after": load_after,
        "cpus": cpus,
        "timed_runs": 3,
        # queries per fresh JVM (0 = whole sweep in one JVM)
        "jvm_recycle": jvm_recycle,
    }


def segments(names: list[str], size: int) -> list[list[str]]:
    """Chunk the headline set; size <= 0 means one single-JVM segment."""
    if size <= 0:
        return [names]
    return [names[i : i + size] for i in range(0, len(names), size)]


def run_queries(
    names: list[str], sf_dir: str
) -> tuple[dict[str, float], dict[str, list[float]], int]:
    """Warm-up + min-of-3 timing for the given queries in THIS
    process's SparkSession (created on first use). Also returns the
    session's defaultParallelism: the N of the local[N] that ran."""
    from sd2_drp_experimentgen_spark.functions.helpers import (
        release_persisted,
    )
    from sd2_drp_experimentgen_spark.plans import all_specs
    from sd2_drp_experimentgen_spark.session import get_spark

    spark = get_spark(app_name="sd2drp-bench", shuffle_partitions=32)
    specs = all_specs()
    timings: dict[str, float] = {}
    runs_all: dict[str, list[float]] = {}

    # NO forced GC anywhere in the sweep — a MEASURED decision, twice
    # (r12, when the iterative-graph tripwires brought localCheckpoint
    # blocks into the headline set): the study-style _drop_checkpoints
    # (gc.collect + System.gc) was tried BETWEEN TIMED RUNS (sweep
    # 20.5 s -> 28.4 s; pagerank's own min 2.65 -> 3.34 s) and AT
    # QUERY BOUNDARIES (sweep -> 24.6 s; the collector's background
    # phase bleeds into the NEXT query's timed runs) — both REJECTED.
    # The carryover it would cure is unmeasurable at sf0.1 (graph-rung
    # runs DECREASE across the three timings, [4.08, 3.87, 3.60]);
    # cross-SEGMENT residue is instead bounded by the subprocess
    # recycle (module docstring), which resets the JVM without a
    # collector phase bleeding into any timed run.
    for name in names:
        fn = specs[name].fn
        fn(spark, sf_dir).collect()  # warm-up (JIT, file listing, broadcast)
        release_persisted()
        runs: list[float] = []
        for _ in range(3):
            t0 = time.perf_counter()
            fn(spark, sf_dir).collect()
            # drop tracked caches INSIDE the timing loop: a query that
            # persists its bucket/index table must pay the full build
            # in every timed run, or the tripwire would measure cache
            # reads and hide pipeline regressions behind the warm-up
            runs.append(round(time.perf_counter() - t0, 4))
            release_persisted()
        timings[name] = min(runs)
        runs_all[name] = runs
    return timings, runs_all, spark.sparkContext.defaultParallelism


SEGMENT_ENV = "SPARK_GRAFT_BENCH_SEGMENT"


def child_main(sf_dir: str) -> None:
    """Segment subprocess: time the env-given queries, emit ONE line."""
    names = json.loads(os.environ[SEGMENT_ENV])
    timings, runs_all, cpus = run_queries(names, sf_dir)
    print(json.dumps({"timings": timings, "runs": runs_all, "cpus": cpus}))


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    if os.environ.get(SEGMENT_ENV):
        child_main(sf_dir)
        return
    sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1]) if "sf" in sf_dir else -1.0

    # Fixture-drift tripwire (VERDICT r3): fail with ONE clear message
    # if the driver regenerated the parquet with an unexpected schema,
    # instead of crashing mid-bench with an opaque analysis error.
    from sd2_drp_experimentgen_spark.sources.preflight import (
        assert_fixture_schemas,
    )

    assert_fixture_schemas(sf_dir)

    from sd2_drp_experimentgen_spark.plans import all_specs

    load_before = tuple(round(x, 2) for x in os.getloadavg())
    names = [n for n in HEADLINE if n in all_specs()]
    recycle = int(os.environ.get("SPARK_GRAFT_JVM_RECYCLE", "9"))

    timings: dict[str, float] = {}
    runs_all: dict[str, list[float]] = {}
    cpus = None
    if recycle <= 0:
        timings, runs_all, cpus = run_queries(names, sf_dir)
    else:
        for seg in segments(names, recycle):
            env = dict(os.environ, **{SEGMENT_ENV: json.dumps(seg)})
            proc = subprocess.run(
                [sys.executable, os.path.abspath(__file__)],
                env=env,
                capture_output=True,
                text=True,
            )
            if proc.returncode != 0:
                sys.stderr.write(proc.stderr[-4000:])
                raise SystemExit(
                    f"bench segment {seg[0]}..{seg[-1]} failed "
                    f"(exit {proc.returncode}); child stderr above"
                )
            payload = json.loads(proc.stdout.strip().splitlines()[-1])
            timings.update(payload["timings"])
            runs_all.update(payload["runs"])
            cpus = payload["cpus"]

    # All three timed runs per query: the in-file variance evidence
    # BASELINE.md's noise-band protocol reads when deciding whether a
    # riser is ambient load (wide spread, uniform across queries) or a
    # plan change (tight spread at a new level). Emitted BEFORE the
    # summary so the driver's tail capture never truncates the parsed
    # line, and mirrored to a sidecar file for post-hoc reads.
    detail = json.dumps({"detail": "bench_runs", "runs": runs_all})
    print(detail)
    try:
        with open(
            os.path.join(os.path.dirname(os.path.abspath(__file__)), RUNS_SIDECAR),
            "w",
        ) as f:
            f.write(detail + "\n")
    except OSError:
        pass  # a read-only checkout still gets the stdout copy

    summary = build_summary(
        timings,
        sf,
        load_before,
        tuple(round(x, 2) for x in os.getloadavg()),
        jvm_recycle=recycle,
        cpus=cpus,
    )
    print(json.dumps(summary))


if __name__ == "__main__":
    main()
