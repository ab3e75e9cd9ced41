"""Generate PLANS.md — formatted physical plans for representative
queries, with the scale-relevant properties called out. Regenerate after
plan-affecting changes:

    python tools/plan_report.py [--sf-dir /root/testdata/sf0.01]
    python tools/plan_report.py --check   # exit 1 if PLANS.md is stale

The report is evidence for the claims in SCALE.md: pushdown reaching the
scan, broadcasts on dimension sides, partial aggregation below the
exchange, TakeOrdered for top-k, WindowGroupLimit for ranked windows,
and the absence of driver-side materialization in distributed paths.

``--check`` (ADVICE r9 medium): regenerates the report in memory and
diffs it against the committed PLANS.md, so pinned evidence cannot
silently drift from the shipped plans again (the r9 Q2/Q9/Q11 sections
described plans the same round's optimization pass had already
rewritten). Spark expression IDs (``#123L``) renumber freely across
code versions without changing the plan shape, so the diff normalizes
them before comparing — a drift report names real operator/exchange
changes, not ID churn.
"""

from __future__ import annotations

import argparse
import io
import re
import sys
from contextlib import redirect_stdout

sys.path.insert(0, ".")

from sd2_drp_experimentgen_spark.plans import all_specs  # noqa: E402
from sd2_drp_experimentgen_spark.session import get_spark  # noqa: E402

# (query, what the plan must show)
REPORT = [
    ("q_scan_prune_filter", "PushedFilters + minimal ReadSchema at the parquet scan"),
    ("q_agg_groupby_q1", "partial HashAggregate (map-side combine) below the Exchange"),
    ("q_join_multiway_topk", "BroadcastHashJoin dimensions + TakeOrderedAndProject top-k"),
    ("q_join_bucketed", "bucket-to-bucket join: single Exchange in the whole plan"),
    ("q_join_asof", "union-sort as-of: one shuffle, no candidate explosion"),
    ("q_win_rank_topn", "WindowGroupLimit pushes rank<=3 below the shuffle"),
    ("q_agg_window_distinct", "two-phase distinct: partial dedup on (window,user)"),
    ("q_text_ngram_profile", "partial WindowGroupLimit + map-side partial counts"),
    ("q_sim_cosine_topk", "mapInPandas numpy product + global TakeOrdered merge"),
    ("q_graph_pagerank", "per-round join+groupBy over (node, rank) pairs"),
    ("q_source_python_ds", "Python Data Source scan: BatchScanExec over 8 InputPartitions"),
    ("q_udf_cogrouped", "FlatMapCoGroupsInPandas: one co-partitioned shuffle for both inputs"),
    ("q_dedup_minhash_bands", "map-only signatures; the groupBy shuffles 16-byte band sigs only"),
    ("q_ann_srp_buckets", "integer SRP projections fully inside the projection — one 1-byte-key shuffle"),
    ("q_ann_ivfpq_topk", "composed IVF+PQ: probe cells broadcast into the code scan, every Exchange carries (id, m, k, d2) integers — no embedding bytes cross an exchange; LUT broadcast on both ADC branches"),
    ("q_ann_index_partitioned", "stored ANN index: FileScan over the hive-partitioned code table with static PartitionFilters on the probed cells (directory pruning, <= 12 of 16 dirs by the probe-union bound); codes-only ReadSchema"),
    ("q_time_downsample_ohlc", "window + groupBy share one (user,hour) shuffle"),
    ("q_scd2_dimension", "lag/lead windows reuse a single custkey sort"),
    ("q_histogram_fixed_bins", "1-row extent aggregate broadcast into the binning scan"),
    ("q_sql_q3_shipping", "both date predicates pushed to scans; TakeOrderedAndProject top-10"),
    ("q_dedup_exact_docs", "hash-first exact dedup: the full-corpus Exchange partitions on xxhash64(text) (8-byte keys, bodies projected out); the only text-keyed Exchange sits above the LeftSemi restriction to multi-member buckets"),
    ("q_dedup_lsh_refine", "persisted band-bucket table (one signature evaluation, no self-join); buckets capped at LSH_BUCKET_CAP with audited drops; Jaccard refine joins texts solely for candidate pairs"),
    ("q_interval_sweepline", "union of boundary points + one per-user window sort — no interval self-join"),
    ("q_layout_zorder", "z-value projection + RangePartitioning exchange + per-partition sort before the write"),
    ("q_decontaminate_ngrams", "train side dedupes to distinct shingles; LeftSemi join on 16-byte hashes"),
    ("q_text_pii_redact", "shuffle-free projection reading only (doc_id, text)"),
    ("q_mix_temperature", "1-row totals broadcast to the per-language rows"),
    ("q_sample_exact_k", "TakeOrderedAndProject: k rows per partition move, never the table"),
    ("q_udf_apply_in_arrow", "salted FlatMapGroupsInArrow partials + JVM-side final combine"),
    ("q_text_bigram_lm_score", "ONE Generate (single tokenize); corpus counts as a window over bigram partitions"),
    ("q_agg_weighted_percentile", "both windows + final aggregate share one returnflag shuffle"),
    ("q_dq_expectations", "map-side column checks + broadcast/anti referential joins"),
    ("q_agg_theta_sketch_ops", "two-level sketch rollup: day sketches union-merged, set ops on 1-row broadcast"),
    ("q_udtf_arrow_tokens", "ArrowEvalPythonUDTF fan-out feeding an ordinary partial-agg + TakeOrdered"),
    ("q_event_journey_pipeline", "sessionize + funnel + attribution share ONE user_id exchange"),
    ("q_join_spatial_grid", "3x3 cell-neighborhood explode + cell equi-join; no all-pairs compare"),
    ("q_etl_snapshot_diff", "one full-outer join on the key; null/changed filter derives the change set"),
    ("q_tpch_q4_order_priority", "EXISTS as LEFT SEMI hash join; quarter predicates pushed to the orders scan"),
    ("q_tpch_q15_top_supplier", "1-row max broadcast-equality, no unpartitioned Window"),
    ("q_tpch_q19_disjunctive_rev", "three-branch OR: per-side conjuncts extracted and pushed to BOTH scans"),
    ("q_tpch_q21_waiting_supplier", "EXISTS/NOT-EXISTS pair as two same-key rollups, no fact self-joins"),
    ("q_tpch_q2_min_cost_supplier", "correlated min as ONE part-key-partitioned window over the join's own partitioning; region dims broadcast"),
    ("q_tpch_q9_product_profit", "derived partsupp join: dims broadcast, profit partial_sums map-side, one fact-fact shuffle"),
    ("q_tpch_q11_important_stock", "persisted dual-consumer rollup (InMemoryTableScan x2); 1-row total broadcasts back"),
    ("q_join_dynamic_partition_pruning", "dynamicpruningexpression in the fact scan PartitionFilters"),
    ("q_join_skew_salted", "ShuffledHashJoin on (key, salt); no broadcast"),
    ("q_sim_range_search", "ONE exchange on the label block key into FlatMapGroupsInPandas; no join"),
    ("q_mm_phash_dedup", "mapInPandas emits (doc_id, phash) only — payload bytes never reach the exchange"),
    ("q_neardup_containment", "r12 vocabulary gate: bit_count mask scan on this corpus (<= 63 tokens); the forced ppjoin path keeps the prefix window + array_intersect verify"),
    ("q_corpus_upsample_epochs", "5-row epochs table broadcast onto documents; explode stays narrow"),
    ("q_emb_pca_power", "per-partition int64 gram tiles combine map-side (partial_sum); iterations are 64-row joins"),
    ("q_emb_pq_encode", "zero exchanges: the PQ encode is a bare MapInPandas projection"),
    ("q_join_lateral_api", "correlated LIMIT decorrelated to WindowGroupLimit + row_number; no nested loop"),
    ("q_graph_bfs_hops", "frontier rounds are equi-join + partial_min aggregates; (node,dist) pairs only"),
    ("q_emb_knn_graph", "per-partition numpy top-k against the gated broadcast matrix; edge rows only"),
    ("q_etl_incremental_agg", "delta partials fold via full-outer join on the group key; no history re-scan"),
    ("q_mm_corpus_pipeline", "one plan: decode mapInPandas -> (lang,phash) windows -> rollup; payloads never shuffle"),
    ("q_dedup_threshold_curve", "r12 vocabulary gate: mask-pair scan on this corpus; four conditional counts in the shared rollup (ppjoin path: one candidate generation at the loosest threshold)"),
    # --- round 6 additions ---
    ("q_sim_range_search", "payload shuffles once keyed (label, sb); pair enumeration joins collapsed cells, never rows"),
    ("q_graph_triangle_count", "one kernel: each edge equi-joins the checkpointed out-list table (Scan ExistingRDD) on id_lo and on id_hi, both broadcast sides the same table (AQE reuses one exchange at run time), then array_intersect and one explode; zero wedge rows, no cartesian"),
    ("q_emb_nn_descent", "graph-sparse candidates scored by pair joins + MapInPandas; no matrix broadcast"),
    ("q_etl_incremental_join", "all four part-joins share the o_orderkey=l_orderkey key; no theta/cross join"),
    ("q_agg_bloom_membership", "4096-row bit table broadcasts to the probe side (the runtime-filter shape)"),
    ("q_sort_pareto_frontier", "local skyline MapInPandas pre-filter; RANGE-frame merge only over candidates"),
    ("q_ann_pq_adc_topk", "scan touches only the 4-byte code columns; 1280-row LUT broadcasts"),
    ("q_dedup_url_canonical", "pure projection until the single groupBy(curl) exchange"),
    ("q_ts_seasonality_profile", "48-cell rollup + 1-row global broadcast; no row-level window"),
    ("q_ml_auc_rank", "score-histogram partial+final agg below the single-partition prefix window"),
    ("q_ml_target_encoding", "category rollup map-side combined; 1-row global broadcast for smoothing"),
    ("q_ts_changepoint_cusum", "daily rollup below the |days|-sized CUSUM window; raw events touched once"),
    ("q_ts_autocorrelation", "hourly rollup + gap-fill sequence; integer lag equi-join over |hours| rows"),
    ("q_graph_common_neighbors", "r14 single-pass form: bounded checkpointed pair counts; KB degree tables broadcast twice"),
    ("q_ml_calibration_bins", "broadcast [min,max] extent; exact integer-div binning in one 10-group rollup"),
    ("q_dq_benford", "9-group digit rollup + 1-row total broadcast; chi2 from literals, no engine log10"),
    ("q_emb_silhouette", "10-row centroid table broadcast; distance folds inside the row — vectors never shuffle"),
    ("q_emb_outlier_distance", "exact-int distance ranking; WindowGroupLimit prunes to 5 per label"),
    ("q_ml_gini_stump", "all thresholds scored from one histogram window; TakeOrdered(1) argmin"),
    ("q_ml_pr_curve_points", "descending prefix window over the histogram; |scores| output rows"),
    ("q_ml_ks_statistic", "exact integer cross-product argmax; TakeOrdered(1) over the bounded histogram"),
    ("q_ml_lift_gains", "integer-div decile assignment; 10-group rollup over the prefix-summed histogram"),
    ("q_stat_spearman", "hourly rollup then integer doubled-ranks; moments over |hours| rows"),
    ("q_stat_welch_ttest", "one-pass moment sums; 1-row conditional pivot, no join"),
    ("q_etl_incremental_auc", "delta histogram folds via one full-outer coalesce-sum join; no history re-scan"),
    ("q_stream_eval_auc", "stateful complete-mode histogram on a live stream; batch epilogue finalizes AUC"),
    ("q_ts_stl_residuals", "hourly rollup + 48-cell broadcast; exact-int residual ranking, TakeOrdered(5)"),
    ("q_sql_unpivot_clause", "native UNPIVOT plans as Expand feeding a map-side partial aggregate"),
    ("q_ml_auc_by_group", "group-partitioned prefix window — zero SinglePartition exchanges"),
    ("q_corpus_overlap_matrix", "r14 single-pass form: bounded checkpointed pair counts; broadcast-only joins, no shuffled merge"),
    ("q_text_vocab_growth", "single tokenize explode; first-seen min-agg + 10-row prefix rollup"),
    ("q_stream_drift_monitor", "live 2xK contingency state; chi2 epilogue over the K-row sink"),
    # --- round 7 additions ---
    ("q_dedup_winnow_pairs", "bucket form + stop-fingerprint cap: persisted fingerprint-bucket table (one pipeline evaluation, InMemoryTableScan in pair + audit branches), capped in-bucket pair explode, pair-sized count; only join = 1-row audit broadcast"),
    ("q_crm_rfm_segments", "distributed exact ntile: cutpoint broadcast + bucket-partitioned row_number; every Window partitioned"),
    # --- round 14 additions ---
    ("q_ann_index_append", "append lifecycle: BOTH stored-index scans (appended + rebuilt) keep static PartitionFilters directory pruning and codes-only ReadSchema; the equality witness is one full-outer join on (query_id, rank)"),
    ("q_ann_ivfpq_recall_curve", "one-pass nprobe sweep: per-query cell ranks computed once, 4-row sweep table broadcast into a theta-join, per-rung windows over the shared exact-ADC aggregate — no per-rung code re-scan"),
    ("q_ann_index_compact", "compaction: one (id, code) shuffle clustered on the partition column + partitioned rewrite; probe scan keeps static PartitionFilters over the compacted dirs; 1-row codes_total broadcast"),
]


# The committed PLANS.md was built on local[32] (get_spark's default when
# SPARK_GRAFT_CPUS is unset). The default parallelism shows in some plans
# (a range source's splits, the Exchanges that repartition to it), so the
# report pins it instead of following the caller's environment.
MASTER = "local[32]"


def render(sf_dir: str) -> str:
    spark = get_spark(app_name="sd2drp-plans", master=MASTER, shuffle_partitions=8)
    specs = all_specs()

    lines = [
        "# PLANS — physical-plan evidence for SCALE.md claims",
        "",
        f"Generated by `python tools/plan_report.py` at sf-dir `{sf_dir}`.",
        "Each section shows `explain('simple')` for one representative query",
        "and names the property the plan must exhibit.",
        "",
    ]
    for name, claim in REPORT:
        df = specs[name].fn(spark, sf_dir)
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("simple")
        lines += [
            f"## {name}",
            "",
            f"**Must show:** {claim}",
            "",
            "```",
            buf.getvalue().rstrip(),
            "```",
            "",
        ]
    return "\n".join(lines)


# Expression IDs (#123L / #123), cached-plan object addresses, and
# Spark's auto-generated CTE/subquery numbering renumber between runs
# of identical code — strip them so --check flags plan-shape drift only.
_ID = re.compile(r"#\d+L?|@[0-9a-f]{6,}|subquery#\d+|cte\d+|plan_id=\d+")
# Tables the queries stage under the checkout's .scratch/ are scanned by
# absolute path, so the checkout root shows in their plans; strip it so a
# copy of the checkout elsewhere renders the same report.
_CHECKOUT = re.compile(r"file:\S*?/\.scratch/")


def _normalize(text: str) -> str:
    return _ID.sub("#x", _CHECKOUT.sub("file:<checkout>/.scratch/", text))


def check(sf_dir: str, out: str) -> int:
    try:
        committed = open(out).read()
    except FileNotFoundError:
        print(f"plan_report: {out} missing — run python tools/plan_report.py")
        return 1
    fresh = render(sf_dir)
    if _normalize(fresh) == _normalize(committed):
        print(f"plan_report: {out} is current ({len(REPORT)} plans)")
        return 0
    # Name the drifted sections so the failure is actionable.
    def sections(text: str) -> dict[str, str]:
        parts = re.split(r"^## ", text, flags=re.M)[1:]
        out_d: dict[str, str] = {}
        for p in parts:
            name = p.split("\n", 1)[0].strip()
            # a query may legitimately appear twice in REPORT; concat
            out_d[name] = out_d.get(name, "") + _normalize(p)
        return out_d

    old_s, new_s = sections(committed), sections(fresh)
    drifted = sorted(
        set(old_s) ^ set(new_s)
        | {n for n in set(old_s) & set(new_s) if old_s[n] != new_s[n]}
    )
    print(
        f"plan_report: {out} is STALE — run python tools/plan_report.py; "
        f"drifted sections: {drifted}"
    )
    return 1


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    ap.add_argument("--out", default="PLANS.md")
    ap.add_argument("--check", action="store_true")
    args = ap.parse_args()

    if args.check:
        return check(args.sf_dir, args.out)
    with open(args.out, "w") as f:
        f.write(render(args.sf_dir))
    print(f"wrote {args.out} ({len(REPORT)} plans)")
    return 0


if __name__ == "__main__":
    sys.exit(main())
