"""Physical-plan assertions — the 100 TB posture checks (SURVEY §4).

Correctness tests prove the operators compute the right answer; these
prove they compute it with the plan that survives a 1000-executor,
100 TB deployment: filters reach the parquet scan, projections prune
the read schema, small dimensions broadcast instead of shuffling, and
aggregates combine map-side before exchanging. A regression here is a
performance bug even when every value still hash-matches.
"""

from __future__ import annotations

import io
from contextlib import redirect_stdout

from conftest import SF_T2

from sd2_drp_experimentgen_spark.plans import all_specs


def plan(df, mode: str = "formatted") -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain(mode)
    return buf.getvalue()


def test_filter_pushed_to_parquet_scan(spark):
    df = all_specs()["q_scan_prune_filter"].fn(spark, SF_T2)
    p = plan(df)
    assert "PushedFilters" in p
    assert "GreaterThan(p_size,25)" in p, p
    # column pruning: the scan must read ONLY the projected columns
    read_schema = next(l for l in p.splitlines() if "ReadSchema" in l)
    assert "p_partkey" in read_schema and "p_size" in read_schema
    assert "p_retailprice" not in read_schema and "p_brand" not in read_schema


def test_q6_range_predicates_pushed(spark):
    p = plan(all_specs()["q_filter_pred_q6"].fn(spark, SF_T2))
    assert "PushedFilters" in p
    assert "GreaterThanOrEqual(l_discount" in p
    assert "LessThan(l_quantity" in p


def test_dimension_join_broadcasts(spark):
    p = plan(all_specs()["q_join_broadcast"].fn(spark, SF_T2))
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p


def test_groupby_agg_is_partial_then_final(spark):
    """Map-side combine: two HashAggregate nodes (partial + final)
    around one Exchange — the shape that keeps the Q1 shuffle tiny."""
    df = all_specs()["q_agg_groupby_q1"].fn(spark, SF_T2)
    p = plan(df, "simple")
    assert p.count("HashAggregate") >= 2
    assert "partial_sum" in p  # map-side combine before the Exchange
    assert p.index("partial_sum") > p.index("Exchange")  # partial below it


def test_topk_uses_take_ordered(spark):
    """Global top-25 must plan TakeOrderedAndProject (per-partition
    heap + tiny driver merge), never a full global sort."""
    p = plan(all_specs()["q_topk_orders"].fn(spark, SF_T2))
    assert "TakeOrderedAndProject" in p
    assert "Sort " not in p  # no full-sort operator node


def test_semi_anti_joins_do_not_materialize_right_columns(spark):
    """Semi/anti joins must keep only left-side output columns."""
    specs = all_specs()
    for name in ("q_join_semi", "q_join_anti"):
        df = specs[name].fn(spark, SF_T2)
        assert all(c.startswith("c_") or c.startswith("n_") for c in df.columns)


def test_bucketed_join_has_no_join_shuffle(spark):
    """Both sides bucketed on the join key -> the sort-merge join must
    read bucket-to-bucket with NO Exchange; the only shuffle left is
    the tiny post-join aggregation."""
    p = plan(all_specs()["q_join_bucketed"].fn(spark, SF_T2), "simple")
    assert "SortMergeJoin" in p
    assert p.count("Bucketed: true") == 2
    assert p.count("Exchange") == 1, p  # the group-by only


def test_partitioned_layout_prunes_partitions(spark):
    """A filter on the partition column of the hive-style sink must
    become a PartitionFilter (directory pruning), not a data filter —
    at 100 TB this is the difference between scanning one directory
    and the whole table."""
    from pyspark.sql import functions as F

    specs = all_specs()
    specs["q_sink_parquet_partitioned"].fn(spark, SF_T2).collect()  # write
    from sd2_drp_experimentgen_spark.operators.scans import _scratch

    path = _scratch(SF_T2, "parquet_by_flag")
    back = spark.read.parquet(path).where(F.col("l_returnflag") == "R")
    p = plan(back)
    part_line = next(l for l in p.splitlines() if "PartitionFilters" in l)
    assert "l_returnflag" in part_line  # pruned at the directory level
    # and no residual Filter node re-checks the partition column
    assert "Filter (" not in p or "l_returnflag" not in p.split("Filter (")[1]


def test_ann_index_scan_prunes_to_probed_cells(spark):
    """r13 stored-index query: the probe-cell restriction must reach
    the hive-partitioned code table as a STATIC PartitionFilter
    (directory pruning over the 16 cell dirs), and the pruned scan
    must read only code columns — never embedding bytes."""
    p = plan(all_specs()["q_ann_index_partitioned"].fn(spark, SF_T2))
    lines = p.splitlines()
    # formatted mode: the scan's attributes (Location, PartitionFilters,
    # ReadSchema) are separate lines within the node's detail block —
    # find the index table's block via its Location line
    loc = next(
        i for i, l in enumerate(lines)
        if "Location" in l and "pq_index_by_cell" in l
    )
    block = lines[max(0, loc - 6): loc + 6]
    part_line = next(l for l in block if "PartitionFilters" in l)
    # static IN pruning present (Spark renders small sets as
    # "cell#N IN (...)", larger ones as "cell#N INSET ...")
    if " INSET " in part_line:
        members = part_line.split(" INSET ", 1)[1].split(")")[0]
    else:
        assert " IN (" in part_line, part_line
        members = part_line.split(" IN (", 1)[1].split(")")[0]
    n_cells = len(members.split(","))
    # probe union bounded by IDX_N_QUERIES * IVFPQ_NPROBE = 12 < 16:
    # the pruning is real, not a full-table IN-list
    assert 1 <= n_cells <= 12, part_line
    read_schema = next(l for l in block if "ReadSchema" in l)
    assert "embedding" not in read_schema
    assert "c0" in read_schema and "c3" in read_schema


def test_ann_index_append_prunes_both_scans(spark):
    """r14 append query: BOTH stored-index scans (appended + rebuilt)
    must keep the static PartitionFilters pruning — the append
    lifecycle must not cost the probe path its directory pruning."""
    p = plan(all_specs()["q_ann_index_append"].fn(spark, SF_T2))
    lines = p.splitlines()
    for tag in ("pq_index_appended", "pq_index_rebuilt"):
        loc = next(
            i for i, l in enumerate(lines) if "Location" in l and tag in l
        )
        block = lines[max(0, loc - 6): loc + 6]
        part_line = next(l for l in block if "PartitionFilters" in l)
        assert " IN (" in part_line or " INSET " in part_line, (tag, part_line)
        read_schema = next(l for l in block if "ReadSchema" in l)
        assert "embedding" not in read_schema, tag


def test_index_compact_merges_cell_files(spark):
    """r14 compaction rung: the appended (fragmented) index must hold
    MORE THAN ONE file in at least one cell directory (base write +
    appended delta), and the compacted rewrite must hold EXACTLY one
    parquet file per cell directory — the small-file merge is the
    entire point of the operator. The probe-correctness side is the
    driver's hash check; this pins the physical layout claim."""
    import glob
    import os

    from sd2_drp_experimentgen_spark.operators.scans import _scratch

    all_specs()["q_ann_index_compact"].fn(spark, SF_T2).collect()

    def files_per_cell(path):
        out = {}
        for cell_dir in glob.glob(os.path.join(path, "cell=*")):
            out[os.path.basename(cell_dir)] = len(
                glob.glob(os.path.join(cell_dir, "*.parquet"))
            )
        return out

    frag = files_per_cell(_scratch(SF_T2, "pq_index_fragmented"))
    comp = files_per_cell(_scratch(SF_T2, "pq_index_compacted"))
    assert frag and comp
    assert max(frag.values()) > 1, frag  # fragmentation is real
    assert set(comp) == set(frag)  # no cell lost
    assert all(n == 1 for n in comp.values()), comp  # fully compacted


def test_stored_index_dpp_variant(spark):
    """r14 (VERDICT r13 item 7): the stated no-collect scale path for
    the stored-index probe — when the query set is a table, the probe
    relation joins the partition column and Catalyst must plant a
    dynamicpruningexpression subquery in the scan's PartitionFilters
    (runtime directory pruning replacing the static IN-filter). The
    helper is deliberately NOT in test_no_driver_collect's allowlist,
    so the zero-collect property is AST-enforced too."""
    from sd2_drp_experimentgen_spark.operators.vectors import (
        ann_index_probe_dpp,
    )

    df = ann_index_probe_dpp(spark, SF_T2)
    p = plan(df)
    part_lines = [l for l in p.splitlines() if "PartitionFilters" in l]
    assert any("dynamicpruningexpression" in l for l in part_lines), part_lines
    # and the variant computes the same probed top-10 as the
    # registered static-filter query (materialize the variant FIRST —
    # the static query rewrites the same index path, invalidating the
    # variant's file listing)
    variant_rows = sorted(map(tuple, df.collect()))
    static = all_specs()["q_ann_index_partitioned"].fn(spark, SF_T2)
    assert variant_rows == sorted(map(tuple, static.collect()))


def test_bloom_runtime_filter_injected(spark):
    """r13: with broadcast off, Catalyst must plant the runtime Bloom
    filter — a bloom_filter_agg over the selective orders side and a
    might_contain probe filter on the lineitem side — so fact rows
    drop BEFORE the join exchange."""
    df = all_specs()["q_join_bloom_runtime"].fn(spark, SF_T2)
    p = df._jdf.queryExecution().optimizedPlan().toString()
    assert "bloom_filter_agg" in p, p[:2000]
    assert "might_contain" in p
    # the probe filter sits over the lineitem relation, keyed on the
    # join key's hash
    probe = next(
        l for l in p.splitlines() if "might_contain" in l
    )
    assert "l_orderkey" in probe


def test_events_scan_prunes_unused_columns(spark):
    """The tumbling-window query needs ts/event_type/value only — the
    props JSON blob (the widest column) must not be read."""
    p = plan(all_specs()["q_stream_tumbling_1h"].fn(spark, SF_T2))
    read_schema = next(l for l in p.splitlines() if "ReadSchema" in l)
    assert "props" not in read_schema


def test_window_distinct_is_two_phase(spark):
    """countDistinct per window must plan as the two-phase distinct:
    partial dedup on (window, user) before the final count, so the
    second Exchange moves one row per distinct pair, never per event."""
    df = all_specs()["q_agg_window_distinct"].fn(spark, SF_T2)
    p = plan(df, "simple")
    assert "partial_count(distinct" in p, p
    # the pre-dedup aggregate on (window, user_id) exists below it
    assert "user_id" in p[p.index("partial_count(1)"):], p


def test_ngram_topk_limit_pushed_below_shuffle(spark):
    """Top-10-per-lang must apply WindowGroupLimit PARTIALLY before the
    Exchange — each task forwards at most 10 rows per lang instead of
    its whole gram histogram."""
    df = all_specs()["q_text_ngram_profile"].fn(spark, SF_T2)
    p = plan(df, "simple")
    assert "WindowGroupLimit" in p, p
    assert "Partial" in p.split("Exchange hashpartitioning(lang")[1], p
    # counts combine map-side before the first shuffle too — r14: the
    # kernel emits batch-local partial counts (pn) and the JVM adds a
    # partial_sum combine on top, so the exchange still moves at most
    # one row per (task, lang, gram)
    assert "MapInArrow" in p, p
    assert "partial_sum(pn" in p, p


def test_blocked_nn_plan_shape(spark):
    """The >BROADCAST_MAX_ROWS fallback must plan as: two collect_list
    block aggregates (partial+final), a broadcast nested-loop cross of
    the tiny block frames (B rows - never a shuffle of n x B rows), and
    a partial WindowGroupLimit before the single per-vector Exchange."""
    from sd2_drp_experimentgen_spark.operators import vectors

    p = plan(vectors._nn_blocked(spark, SF_T2), "simple")
    assert "BroadcastNestedLoopJoin" in p, p
    assert "partial_collect_list" in p, p
    assert "MapInPandas" in p, p
    assert "WindowGroupLimit" in p, p
    assert "CartesianProduct" not in p, p


def test_q3_sql_pushes_both_date_predicates(spark):
    """The SQL-surface Q3 must push the order-date and ship-date
    predicates into their respective parquet scans and plan the top-10
    as TakeOrderedAndProject."""
    p = plan(all_specs()["q_sql_q3_shipping"].fn(spark, SF_T2))
    assert "TakeOrderedAndProject" in p
    assert "LessThan(o_orderdate" in p, p
    assert "GreaterThan(l_shipdate" in p, p


def test_histogram_extent_is_broadcast_not_collected(spark):
    """The global [min,max] extent must reach the binning scan as a
    broadcast of the 1-row aggregate — never via a driver collect."""
    p = plan(all_specs()["q_histogram_fixed_bins"].fn(spark, SF_T2), "simple")
    assert "BroadcastNestedLoopJoin" in p, p
    assert "BroadcastExchange" in p, p
    # single-column read on both scans of lineitem
    assert p.count("ReadSchema: struct<l_extendedprice:double>") == 2, p


def test_minhash_bands_shuffles_signatures_only(spark):
    """The LSH groupBy must exchange only (band_idx, band_sig) plus
    partial aggregates — the partial HashAggregate sits below the
    Exchange (map-side combine) and its keys are the band signature,
    so shuffled rows carry 16-byte sigs, never text or shingles."""
    df = all_specs()["q_dedup_minhash_bands"].fn(spark, SF_T2)
    p = plan(df, "simple")
    assert "Exchange hashpartitioning(band_idx" in p, p
    partial_line = next(l for l in p.splitlines() if "partial_count(1)" in l)
    assert "band_sig" in partial_line, p
    assert p.index("partial_count(1)") > p.index("Exchange hashpartitioning"), p


def test_lsh_refine_bucket_form_no_band_self_join(spark):
    """r7 rewrite pin: LSH candidates come from the groupBy-collect
    bucket form — one (band_idx, band_sig) shuffle with a map-side
    partial_collect_list, in-bucket pair combinatorics via explode —
    NOT a band-key self-join (which evaluates the signature pipeline
    once per side and needs a data-sized broadcast at scale). Text
    rejoins happen only for candidate pairs, keyed by doc id."""
    p = plan(all_specs()["q_dedup_lsh_refine"].fn(spark, SF_T2), "simple")
    assert "partial_collect_list" in p, p
    assert p.index("partial_collect_list") > p.index(
        "Exchange hashpartitioning(band_idx"
    ), p
    # no Join condition may involve the band signature (the only
    # non-key join is the 1-row audit broadcast cross join)
    for line in p.splitlines():
        if "Join" in line:
            assert "band_sig" not in line, line
    # r8 stop-bucket cap pinned in-plan: buckets over LSH_BUCKET_CAP
    # are filtered out before pair generation
    from sd2_drp_experimentgen_spark.operators.llmtext import LSH_BUCKET_CAP

    assert f"<= {LSH_BUCKET_CAP})" in p, p


def test_winnow_pairs_bucket_form_no_fingerprint_self_join(spark):
    """r7 rewrite pin: winnowing match pairs come from the
    groupBy-collect bucket form — one fingerprint-keyed shuffle with a
    map-side partial_collect_list, in-bucket ordered-pair combinatorics
    via explode, then a pair-sized count — NOT a fingerprint self-join
    (which evaluates the md5/window-minima subtree once per side and
    shuffles the exploded table twice; measured 15.2x wall-clock at a
    16x corpus in the SCALE.md round-7 study). The plan must contain
    no Join node at all."""
    p = plan(all_specs()["q_dedup_winnow_pairs"].fn(spark, SF_T2), "simple")
    assert "partial_collect_list" in p, p
    assert p.index("partial_collect_list") > p.index(
        "Exchange hashpartitioning(f#"
    ), p
    # the ONLY join allowed is the 1-row audit broadcast cross join
    # (r8 stop-fingerprint audit column); any shuffle/hash join would
    # mean the fingerprint self-join crept back
    for line in p.splitlines():
        if "Join" in line:
            assert "BroadcastNestedLoopJoin" in line, line
    assert "SortMergeJoin" not in p and "ShuffledHashJoin" not in p, p
    # semantic shuffles: fingerprint buckets + pair counts (the
    # fan_out doc_id rebalance additionally appears while the fixture
    # is under FAN_OUT_MAX_BYTES — don't pin its presence, ADVICE r7)
    assert "Exchange hashpartitioning(f#" in p, p
    assert "Exchange hashpartitioning(_groupingexpression" in p, p
    # r8 stop-fingerprint cap pinned in-plan
    from sd2_drp_experimentgen_spark.operators.llmtext import (
        WINNOW_STOP_FP_CAP,
    )

    assert f"<= {WINNOW_STOP_FP_CAP})" in p, p


def test_scd2_windows_share_one_sort(spark):
    """lag and lead both partition by custkey — the plan must contain
    exactly one Exchange (the custkey shuffle), with both Window nodes
    above it."""
    p = plan(all_specs()["q_scd2_dimension"].fn(spark, SF_T2), "simple")
    assert p.count("Exchange") == 1, p
    assert p.count("Window") >= 2, p


def test_runtime_bloom_filter_injects_on_selective_join(spark):
    """Spark's runtime row-level bloom filter: a selective dimension
    filter spawns a bloom_filter_agg on the creation side and a
    might_contain probe pushed into the big side's scan — the runtime
    semi-join reduction that saves most of the fact-table shuffle at
    100 TB. Locally the 10 GB application-side threshold can't be met,
    so the test lowers it to prove the optimizer path end-to-end; on a
    real deployment the defaults fire exactly here."""
    from pyspark.sql import functions as F

    from conftest import SF_T2

    s = spark.newSession()
    for k, v in {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter."
        "applicationSideScanSizeThreshold": "0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }.items():
        s.conf.set(k, v)
    o = s.read.parquet(f"{SF_T2}/orders.parquet").where(
        F.col("o_orderpriority") == "1-URGENT"
    )
    li = s.read.parquet(f"{SF_T2}/lineitem.parquet")
    j = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("o_orderpriority")
        .count()
    )
    p = plan(j, "simple")
    assert "bloom_filter_agg" in p, p
    assert "might_contain" in p, p
    # and the result is still correct
    rows = j.collect()
    assert len(rows) == 1 and rows[0]["o_orderpriority"] == "1-URGENT"


def test_file_metadata_columns_accessible(spark):
    """The hidden _metadata struct on file sources (file-level lineage:
    which physical file each row came from) — per-file row counts must
    sum to the table total, and the column stays hidden from SELECT *."""
    from pyspark.sql import functions as F

    df = spark.read.parquet(f"{SF_T2}/orders.parquet")
    assert "_metadata" not in df.columns
    per_file = (
        df.select(F.col("_metadata.file_name").alias("f"))
        .groupBy("f")
        .count()
        .collect()
    )
    assert per_file and all(r["f"].endswith(".parquet") for r in per_file)
    assert sum(r["count"] for r in per_file) == df.count()


def test_rebalance_hint_plans_aqe_shuffle(spark):
    """The REBALANCE hint must inject an AQE-rebalanced exchange
    (RebalancePartitions) — the skew-smoothing pre-write shuffle."""
    spark.read.parquet(f"{SF_T2}/orders.parquet").createOrReplaceTempView(
        "v_orders_rb"
    )
    df = spark.sql(
        "SELECT /*+ REBALANCE(o_orderpriority) */ * FROM v_orders_rb"
    )
    p = plan(df, "extended")
    assert "rebalance" in p.lower(), p


def test_neardup_token_join_is_prefix_bounded(spark, monkeypatch):
    """The exact-Jaccard candidate self-join must consume PREFIX-FILTERED
    inputs on BOTH sides (VERDICT r2 item 5): a `rn <= n_tok - ceil(0.6
    n_tok) + 1` Filter above each Window, so a hot stopword (highest df,
    sorts last) never enters the join and the old O(df^2) fan-out is
    gone. The integer prefix bound shows up as `div 5` in the plan.
    Since r12 this is the ABOVE-GATE path (vocab > ND_BITSET_VOCAB_MAX)
    — forced here; the default small-vocab plan is pinned separately."""
    from sd2_drp_experimentgen_spark.operators import text as text_mod

    monkeypatch.setattr(text_mod, "ND_BITSET_VOCAB_MAX", -1)
    p = plan(all_specs()["q_neardup_jaccard"].fn(spark, SF_T2), "simple")
    assert p.count("div 5") >= 2, p  # prefix Filter on both join inputs
    # the doc<doc candidate join keys on token (+ source block), not on
    # the full token table
    joins = [
        l
        for l in p.splitlines()
        if "Join [token" in l and "doc_id" in l and "<" in l
    ]
    assert joins, p


def test_neardup_bitset_plan_is_mask_scan(spark):
    """The r12 default path on this corpus (31-token vocab): per-doc
    int64 masks, bit_count verify, and the pair join keyed on the
    source BLOCK — never on token (no token self-join exists in the
    plan at all), so payloads are 8-byte masks instead of string
    arrays."""
    p = plan(all_specs()["q_neardup_jaccard"].fn(spark, SF_T2), "simple")
    assert "bit_count" in p, p
    assert "array_intersect" not in p, p
    # every token-keyed join is the BROADCAST vocabulary-index attach;
    # docs never shuffle-join on token in this path
    token_joins = [l for l in p.splitlines() if "Join [token" in l]
    assert token_joins and all(
        "BroadcastHashJoin" in l for l in token_joins
    ), p
    assert "CartesianProduct" not in p and "NestedLoop" not in p, p


def test_pii_redact_scan_prunes_and_stays_shuffle_free(spark):
    """Per-doc PII work is a pure projection: the documents scan must
    read only (doc_id, text) and the plan must contain no Exchange —
    at 100 TB this runs as one embarrassingly-parallel pass."""
    p = plan(all_specs()["q_text_pii_redact"].fn(spark, SF_T2), "formatted")
    assert "Exchange" not in p, p
    scan_lines = [l for l in p.splitlines() if "ReadSchema" in l]
    assert scan_lines and "doc_id" in scan_lines[0] and "text" in scan_lines[0]
    for unused in ("lang:", "source:", "n_chars:"):
        assert unused not in scan_lines[0], scan_lines[0]


def test_mix_temperature_broadcasts_scalar_totals(spark):
    """The totals side is a 1-row aggregate: it must reach the
    per-language rows via a broadcast join, never a shuffle of the
    counts table against a 1-row frame."""
    p = plan(all_specs()["q_mix_temperature"].fn(spark, SF_T2), "simple")
    assert "BroadcastNestedLoopJoin" in p or "BroadcastExchange" in p, p
    assert "SortMergeJoin" not in p, p


def test_cache_reuse_reads_inmemory_scan(spark):
    """The second consumer of the persisted midframe must read the
    columnar cache, not re-scan parquet."""
    df = all_specs()["q_cache_reuse"].fn(spark, SF_T2)
    assert df.count() == 5  # localCheckpoint already materialized it


def test_join_hints_select_their_physical_join(spark):
    """Each strategy hint must actually pick its join operator."""
    from pyspark.sql import functions as F

    from sd2_drp_experimentgen_spark.sources.tables import load_table

    c = load_table(spark, SF_T2, "customer")
    n = load_table(spark, SF_T2, "nation")
    expect = {
        "broadcast": "BroadcastHashJoin",
        "shuffle_merge": "SortMergeJoin",
        "shuffle_hash": "ShuffledHashJoin",
    }
    for hint, op in expect.items():
        p = plan(
            c.join(n.hint(hint), c.c_nationkey == n.n_nationkey).groupBy(
                "n_name"
            ).agg(F.count(F.lit(1)).alias("n")),
            "simple",
        )
        assert op in p, f"{hint}: {op} not in plan\n{p}"


def test_bigram_lm_single_tokenize(spark):
    """The corpus-count branch must ride a window over the per-doc
    partials — a join against a separately-aggregated model would
    re-scan and re-tokenize the corpus. r14: the single pass is the
    _bigram_count_kernel MapInArrow node (it also emits per-(doc,
    bigram) counts, replacing the old Generate + groupBy pair) —
    still exactly one, never a duplicated corpus subtree."""
    p = plan(all_specs()["q_text_bigram_lm_score"].fn(spark, SF_T2), "simple")
    assert p.count("MapInArrow") == 1, p
    assert p.count("Generate") == 0, p


def test_span_dup_single_explode(spark):
    """Same invariant for the duplicated-span filter: ONE pass over
    the corpus feeds both the position counts and the distinct-doc
    window. r14: the pass is the _span_count_kernel MapInArrow node
    (which also emits the per-(doc, h) counts, replacing the old
    Generate + groupBy pair) — still exactly one, never a duplicated
    corpus subtree."""
    p = plan(all_specs()["q_text_span_dup"].fn(spark, SF_T2), "simple")
    assert p.count("MapInArrow") == 1, p
    assert p.count("Generate") == 0, p


def test_weighted_percentile_single_shuffle(spark):
    """Both window frames and the final aggregate must share the one
    returnflag exchange."""
    p = plan(all_specs()["q_agg_weighted_percentile"].fn(spark, SF_T2), "simple")
    n_exchanges = p.count("Exchange hashpartitioning")
    assert n_exchanges == 1, f"expected 1 data exchange, saw {n_exchanges}\n{p}"


def test_dq_referential_checks_are_anti_joins(spark):
    """The referential-integrity expectations must plan as anti joins,
    not materialized outer joins."""
    p = plan(all_specs()["q_dq_expectations"].fn(spark, SF_T2), "simple")
    assert "LeftAnti" in p, p


def test_journey_pipeline_single_shuffle(spark):
    """Sessionization windows, attribution window, and the final
    per-user aggregate must all share one user_id exchange."""
    p = plan(all_specs()["q_event_journey_pipeline"].fn(spark, SF_T2), "simple")
    n = p.count("Exchange hashpartitioning")
    assert n == 1, f"expected 1 data exchange, saw {n}\n{p}"


def test_tpch_q4_exists_is_semi_join_with_pushed_dates(spark):
    """The EXISTS must plan as a LEFT SEMI hash join (one probe per
    order, no distinct step) and both quarter predicates must reach
    the orders parquet scan."""
    p = plan(all_specs()["q_tpch_q4_order_priority"].fn(spark, SF_T2))
    assert "LeftSemi" in p, p
    assert "GreaterThanOrEqual(o_orderdate" in p
    assert "LessThan(o_orderdate" in p


def test_tpch_q15_max_is_broadcast_not_window(spark):
    """The max-revenue selection must be a 1-row broadcast equality,
    never an unpartitioned Window (which funnels every supplier
    through one task at scale)."""
    p = plan(all_specs()["q_tpch_q15_top_supplier"].fn(spark, SF_T2), "simple")
    assert "Window" not in p, p
    assert "BroadcastExchange" in p


def test_tpch_q16_blacklist_is_anti_join(spark):
    """NOT IN over the non-null supplier key must plan as LEFT ANTI,
    and the exact distinct as the two-phase expand/re-aggregate."""
    p = plan(all_specs()["q_tpch_q16_supplier_cnt"].fn(spark, SF_T2), "simple")
    assert "LeftAnti" in p, p
    assert p.count("HashAggregate") >= 4  # expand + partial/final distinct


def test_tpch_q19_disjunction_pushes_common_conjuncts(spark):
    """Catalyst must extract per-side conjuncts from the three-branch
    OR: the quantity ranges reach the lineitem scan and the
    brand/size ranges reach the part scan as pushed filters — the OR
    must not defeat pushdown."""
    p = plan(all_specs()["q_tpch_q19_disjunctive_rev"].fn(spark, SF_T2))
    scans = [l for l in p.splitlines() if "PushedFilters" in l]
    li_scan = next(l for l in scans if "l_quantity" in l)
    assert "Or(Or(And(GreaterThanOrEqual(l_quantity" in li_scan, li_scan
    part_scan = next(l for l in scans if "p_brand" in l)
    assert "Or(" in part_scan and "p_brand" in part_scan, part_scan


def test_skew_salted_join_is_shuffled_hash_on_composite_key(spark):
    """The salting demo must actually run the shuffled-hash join on
    (key, salt) — a broadcast would make the salt columns dead code."""
    p = plan(all_specs()["q_join_skew_salted"].fn(spark, SF_T2), "simple")
    assert "ShuffledHashJoin" in p, p
    assert "salt" in p.split("ShuffledHashJoin")[1][:120]
    assert "BroadcastHashJoin" not in p


def test_csv_codec_is_single_scan_single_shuffle(spark):
    """to_csv -> from_csv must stay a projection over ONE scan with
    only the final rollup exchange — a codec that re-reads or
    shuffles per field is wrong at any scale."""
    p = plan(all_specs()["q_codec_csv_column"].fn(spark, SF_T2), "simple")
    assert p.count("FileScan") == 1, p
    assert p.count("Exchange") == 1, p
    assert "from_csv" in p and "to_csv" in p


def test_nested_roundtrip_collects_map_side(spark):
    """collect_list must show a partial (map-side) aggregate below its
    exchange and exactly one Generate (the inline flatten)."""
    p = plan(all_specs()["q_nested_collect_inline"].fn(spark, SF_T2), "simple")
    assert "partial_collect_list" in p, p
    assert p.count("Generate") == 1, p


def test_dpp_prunes_fact_partitions_at_runtime(spark):
    """The star join must derive the fact-side partition filter from
    the dimension at runtime — dynamicpruningexpression in the fact
    scan's PartitionFilters is the 100 TB scan lever."""
    df = all_specs()["q_join_dynamic_partition_pruning"].fn(spark, SF_T2)
    p = plan(df, "extended")
    assert "dynamicpruning" in p, p[:2000]


def test_range_search_sub_blocked_cells(spark):
    """Sub-blocked range search (r6 skew guard, VERDICT r5 wrong-#3):
    row-level payload must shuffle exactly on the (label, sb) CELL key
    into collect_list — bounding every task's gram at SUB_BLOCK_ROWS²
    even under label skew — and the pair enumeration must join
    collapsed cells, never row-level vectors (a row-level pair join
    would materialize n² rows). The gram itself runs in MapInPandas
    over cell pairs."""
    import re

    p = plan(all_specs()["q_sim_range_search"].fn(spark, SF_T2), "simple")
    assert "MapInPandas" in p and "pairs_in_cell" in p, p
    # payload exchange keyed by the composite cell key, not label alone
    assert re.search(r"hashpartitioning\(label#\d+, sb#\d+", p), p
    assert "collect_list" in p, p
    assert "FlatMapGroupsInPandas" not in p, p


def test_phash_dedup_shuffles_hashes_not_payloads(spark):
    """q_mm_phash_dedup's exchange must carry only (doc_id, phash) —
    the binary payload column dies at the mapInPandas boundary. A
    payload column in the exchange would shuffle the whole corpus's
    image bytes at 100 TB."""
    import re

    p = plan(all_specs()["q_mm_phash_dedup"].fn(spark, SF_T2), "simple")
    assert "hashpartitioning(phash" in p, p
    # the mapInPandas OUTPUT schema (the columns that reach the
    # exchange) must be exactly (doc_id, phash) — payload stays input-only
    m = re.search(r"MapInPandas .*?, \[([^\]]*)\],", p)
    assert m and "payload" not in m.group(1), p


def test_containment_prefix_filter_bounds_the_join(spark, monkeypatch):
    """The containment candidate join must sit on top of the prefix
    row-number filter (a window below the join), not a raw token
    self-join: the window's rn <= prefix bound is what keeps hot
    stopwords out of the join keys. Since r12 this is the ABOVE-GATE
    path (vocab > ND_BITSET_VOCAB_MAX) — forced here; the default
    small-vocab mask plan is pinned below."""
    from sd2_drp_experimentgen_spark.operators import text as text_mod

    monkeypatch.setattr(text_mod, "ND_BITSET_VOCAB_MAX", -1)
    df = all_specs()["q_neardup_containment"].fn(spark, SF_T2)
    p = plan(df, "simple")
    assert "row_number" in p, p
    # verify step intersects bounded per-doc token sets AFTER the
    # prefix-filtered candidate join (broadcast at toy scale, SMJ at 100 TB)
    assert "array_intersect" in p, p


def test_containment_bitset_plan_is_mask_scan(spark):
    """r12 default path on this corpus: bit_count verify over int64
    masks, broadcast-only token joins, no array_intersect."""
    p = plan(all_specs()["q_neardup_containment"].fn(spark, SF_T2), "simple")
    assert "bit_count" in p, p
    assert "array_intersect" not in p, p
    token_joins = [l for l in p.splitlines() if "Join [token" in l]
    assert token_joins and all(
        "BroadcastHashJoin" in l for l in token_joins
    ), p


def test_upsample_epochs_broadcasts_plan_table(spark):
    """The 5-row epochs table must broadcast onto documents; the only
    exchanges are aggregate rollups (no shuffle of the exploded
    corpus on a join key)."""
    p = plan(all_specs()["q_corpus_upsample_epochs"].fn(spark, SF_T2), "simple")
    assert "BroadcastHashJoin" in p, p
    assert "Generate explode" in p, p


def test_pq_encode_is_zero_shuffle_projection(spark):
    """PQ encode must be a bare MapInPandas over the scan — zero
    exchanges. Any shuffle would mean the encode stopped being a
    projection (the property that makes it free at 100 TB)."""
    p = plan(all_specs()["q_emb_pq_encode"].fn(spark, SF_T2), "simple")
    assert "MapInPandas" in p, p
    assert "Exchange" not in p, p


def test_lateral_join_decorrelates_to_window_group_limit(spark):
    """DataFrame.lateralJoin's correlated per-row LIMIT must be
    decorrelated by Catalyst into the ranked-window shape
    (WindowGroupLimit + row_number) — NOT executed as a per-row
    rescan or nested loop."""
    p = plan(all_specs()["q_join_lateral_api"].fn(spark, SF_T2), "simple")
    assert "WindowGroupLimit" in p, p
    assert "row_number" in p, p
    assert "BroadcastNestedLoopJoin" not in p, p


def test_pipe_syntax_pushes_filter_and_partial_aggregates(spark):
    """The pipe dialect must plan exactly like the classic form:
    shipdate range pushed to the parquet scan, partial (map-side)
    aggregation below the exchange."""
    p = plan(all_specs()["q_sql_pipe_syntax"].fn(spark, SF_T2))
    assert "PushedFilters" in p and "l_shipdate" in p.split("PushedFilters")[1][:200], p
    assert "partial_count" in p or "partial" in p, p


def test_pca_gram_partials_combine_map_side(spark):
    """The PCA gram aggregation must show partial_sum below its
    exchange: each partition's 64x64 tile combines map-side, so the
    shuffle is O(d^2 x partitions) regardless of row count. r14: the
    power iteration moved to the driver (the gram is dimension-bounded),
    so the pin targets _pca_gram_frame — the one pass that scales with
    rows and the only distributed plan the operator executes."""
    from sd2_drp_experimentgen_spark.operators.vectors import (
        _pca_gram_frame,
    )

    p = plan(_pca_gram_frame(spark, SF_T2), "simple")
    assert "MapInPandas" in p, p
    assert "partial_sum" in p, p


def test_bfs_rounds_are_min_aggregates_not_nested_loops(spark):
    """Every BFS frontier round must be an equi-join + min-groupBy
    (partial_min map-side); a nested-loop expansion would explode at
    any scale."""
    p = plan(all_specs()["q_graph_bfs_hops"].fn(spark, SF_T2), "simple")
    assert "partial_min" in p, p
    assert "BroadcastNestedLoopJoin" not in p, p


def test_incremental_join_shares_one_key(spark):
    """q_etl_incremental_join's four part-joins must all be equi-joins
    on the SAME key (o_orderkey = l_orderkey) — that key sharing is
    what lets bucketed base tables absorb deltas without re-shuffling
    history. Any theta/cross join here is a decomposition bug."""
    p = plan(all_specs()["q_etl_incremental_join"].fn(spark, SF_T2), "simple")
    assert "NestedLoop" not in p and "CartesianProduct" not in p, p
    assert "o_orderkey" in p and "l_orderkey" in p, p


def test_bloom_bits_broadcast_not_shuffled(spark):
    """q_agg_bloom_membership must broadcast the KB-sized bit table to
    the probe side — shuffling probes against a 4096-row relation
    would invert the runtime-filter pattern the operator models."""
    p = plan(all_specs()["q_agg_bloom_membership"].fn(spark, SF_T2), "simple")
    assert "BroadcastHashJoin" in p, p


def test_nn_descent_no_matrix_broadcast(spark):
    """q_emb_nn_descent scores candidate pairs by joining endpoint
    vectors — the full embedding matrix must never be collected or
    broadcast (the whole point of graph-sparse candidate proposal).
    Guarded structurally: the plan has MapInPandas scorers fed by
    equi-joins on vec ids, and the AST guard (test_no_driver_collect)
    proves no collect; here we pin that scoring joins stay equi-joins."""
    p = plan(all_specs()["q_emb_nn_descent"].fn(spark, SF_T2), "simple")
    assert "MapInPandas" in p, p
    assert "CartesianProduct" not in p and "NestedLoop" not in p, p


def test_triangle_count_join_keys(spark):
    """Triangle counting must join on edge endpoints (equi), never
    enumerate all pairs: each edge equi-joins the out-list table on
    id_lo and again on id_hi before the per-edge intersection."""
    p = plan(all_specs()["q_graph_triangle_count"].fn(spark, SF_T2), "simple")
    assert "CartesianProduct" not in p and "NestedLoop" not in p, p


def test_url_canonical_is_projection_plus_one_aggregate(spark):
    """URL canonicalization must stay a pure projection until the ONE
    groupBy(curl) — a join or extra exchange in a crawl rung-0 pass
    would be pure overhead at web scale."""
    p = plan(all_specs()["q_dedup_url_canonical"].fn(spark, SF_T2), "simple")
    assert "Join" not in p, p
    assert p.count("Exchange") == 1, p


def test_seasonality_two_level_exact_partials(spark):
    """q_ts_seasonality_profile: one shuffle for the 48-cell rollup,
    the 1-row global broadcast back — never a window over row data."""
    p = plan(all_specs()["q_ts_seasonality_profile"].fn(spark, SF_T2), "simple")
    assert "BroadcastNestedLoopJoin" in p or "BroadcastHashJoin" in p, p
    assert "Window" not in p, p


def test_auc_window_runs_on_histogram_not_rows(spark):
    """q_ml_auc_rank must collapse rows to the per-score histogram
    BEFORE the global prefix window: the aggregate (partial+final)
    sits below the Window node, so the single-partition window sees
    |distinct scores| rows, never |rows|."""
    p = plan(all_specs()["q_ml_auc_rank"].fn(spark, SF_T2), "simple")
    assert "Window" in p, p
    # the single-partition exchange feeding the window sits ABOVE the
    # score-keyed histogram aggregate in the printed tree: the window
    # input is the collapsed histogram, not the raw document rows
    assert "SinglePartition" in p, p
    assert p.index("SinglePartition") < p.index("keys=[score"), p


def test_target_encoding_global_is_broadcast(spark):
    """The 1-row global (n_g, s_g) must reach categories via a
    broadcast, and the category rollup must combine map-side."""
    p = plan(all_specs()["q_ml_target_encoding"].fn(spark, SF_T2), "simple")
    assert "BroadcastNestedLoopJoin" in p or "BroadcastExchange" in p, p
    assert "SortMergeJoin" not in p, p
    assert p.count("HashAggregate") >= 2, p


def test_common_neighbors_degree_join_broadcasts(spark):
    """Degree lookup tables are KB-sized: both Jaccard-denominator
    joins must be broadcast hash joins, never shuffled merges."""
    p = plan(all_specs()["q_graph_common_neighbors"].fn(spark, SF_T2),
             "simple")
    assert p.count("BroadcastHashJoin") >= 2, p
    assert "SortMergeJoin" not in p, p


def test_changepoint_rolls_up_before_window(spark):
    """Raw events collapse to the |days| rollup before the CUSUM
    window: partial aggregation must appear below the Window node."""
    p = plan(all_specs()["q_ts_changepoint_cusum"].fn(spark, SF_T2),
             "simple")
    assert "Window" in p, p
    assert "partial_count" in p, p
    assert p.index("Window") < p.index("partial_count"), p


def test_calibration_scan_prunes_columns(spark):
    """The binning pass needs (n_chars, lang) only — text must not be
    read from the documents scan."""
    p = plan(all_specs()["q_ml_calibration_bins"].fn(spark, SF_T2))
    scans = [l for l in p.splitlines()
             if "ReadSchema" in l and "documents" in p]
    assert scans, p
    assert not any("text" in l for l in scans), scans


def test_silhouette_broadcasts_centroid_table(spark):
    """The 10-row (n_l, S-array) centroid table must broadcast onto
    vectors; the distance fold happens inside the row, so no
    SortMergeJoin may appear anywhere in the plan."""
    p = plan(all_specs()["q_emb_silhouette"].fn(spark, SF_T2), "simple")
    assert "BroadcastHashJoin" in p or "BroadcastNestedLoopJoin" in p, p
    assert "SortMergeJoin" not in p, p


def test_outlier_ranking_uses_window_group_limit(spark):
    """Per-label top-5 by exact integer distance: WindowGroupLimit
    must prune to 5 rows per label below the rank filter."""
    p = plan(all_specs()["q_emb_outlier_distance"].fn(spark, SF_T2),
             "simple")
    assert "WindowGroupLimit" in p, p
    assert "SortMergeJoin" not in p, p


def test_ks_statistic_is_takeordered_over_histogram(spark):
    """KS argmax: TakeOrderedAndProject(1) over the bounded histogram,
    with the histogram aggregate below the prefix window."""
    p = plan(all_specs()["q_ml_ks_statistic"].fn(spark, SF_T2), "simple")
    assert "TakeOrderedAndProject" in p, p
    assert "SinglePartition" in p, p
    assert p.index("SinglePartition") < p.index("keys=[score"), p


def test_pr_curve_window_runs_on_histogram(spark):
    """The PR curve's descending prefix window consumes the per-score
    histogram, never the raw document rows."""
    p = plan(all_specs()["q_ml_pr_curve_points"].fn(spark, SF_T2),
             "simple")
    assert "SinglePartition" in p, p
    assert p.index("SinglePartition") < p.index("keys=[score"), p


def test_sliced_auc_has_no_single_partition_window(spark):
    """q_ml_auc_by_group partitions the prefix window by group — the
    plan must contain NO SinglePartition exchange anywhere (the
    global AUC's one bottleneck disappears in the sliced form)."""
    p = plan(all_specs()["q_ml_auc_by_group"].fn(spark, SF_T2), "simple")
    assert "Window" in p, p
    assert "SinglePartition" not in p, p


def test_overlap_matrix_joins_on_hash_only(spark):
    """r14 single-pass form: the corpus subtree (the OPERATOR'S OWN
    _source_shingle_sets + _set_pair_counts, shared with the operator
    per ADVICE r14 item 3 so this pin can't test stale copy-pasted
    code) must scan source+text only, aggregate source SETS on the
    16-byte digest with ONE exchange + one more for the bounded pair
    groupBy, and contain NO join at all — the r13 self-join (which
    broadcast the corpus-sized distinct relation) is gone. The
    returned frame joins only the checkpointed |sources|-bounded
    counts: broadcast hash joins, never a shuffled merge."""
    import re

    from sd2_drp_experimentgen_spark.operators.text import (
        _set_pair_counts,
        _source_shingle_sets,
    )

    sets = _source_shingle_sets(spark, SF_T2)
    core = plan(_set_pair_counts(sets, "ss", "src_a", "src_b"))
    read_schema = [l for l in core.splitlines() if "ReadSchema" in l]
    assert read_schema, core
    # documents scan reads source+text only (shingles derived in-plan)
    assert any("text" in l for l in read_schema), core
    assert not any("n_chars" in l or "doc_id" in l for l in read_schema), core
    assert "Join" not in core, core
    # count numbered Exchange detail headers ("(n) Exchange"), not a
    # bare substring — robust to tree-section rendering differences
    assert len(re.findall(r"\(\d+\) Exchange", core)) == 2, core
    assert "partial_collect_set" in core, core

    p = plan(all_specs()["q_corpus_overlap_matrix"].fn(spark, SF_T2), "simple")
    assert p.count("BroadcastHashJoin") >= 2, p
    assert "SortMergeJoin" not in p, p


def test_vocab_growth_single_tokenize(spark):
    """One Generate (explode) only: the Heaps curve must not re-scan
    or re-tokenize per decile."""
    p = plan(all_specs()["q_text_vocab_growth"].fn(spark, SF_T2), "simple")
    assert p.count("Generate explode") == 1, p


def test_rfm_windows_are_all_bucket_partitioned(spark):
    """q_crm_rfm_segments (VERDICT r6 weak #1): exact ntile(5)
    semantics must come from the distributed recipe — range-bucketed
    partitioned row_numbers plus broadcast count offsets — with NO
    ntile and NO unpartitioned Window node anywhere in the plan
    (each `Window [fns], [part], [order]` line must carry all three
    argument groups)."""
    p = plan(all_specs()["q_crm_rfm_segments"].fn(spark, SF_T2), "simple")
    assert "ntile(" not in p, p  # percentile_approx is fine; ntile(5) not
    win_lines = [l for l in p.splitlines() if "+- Window [" in l]
    assert len(win_lines) >= 3, p  # one per R/F/M axis
    for l in win_lines:
        assert l.count("], [") >= 2, f"unpartitioned Window: {l}"


def test_tpch_q2_min_is_one_partitioned_window(spark):
    """The correlated min-cost subquery must algebrize to ONE min
    window PARTITIONED by the part key, never a self-join back onto
    the candidate set or an unpartitioned window; the region
    dimensions broadcast. The whole query pays exactly ONE shuffle of
    partsupp: the distinct is pre-partitioned by ps_partkey alone
    (subset of the dedup key — still clustered-correct), broadcast
    joins preserve that layout, and the window's p_partkey
    requirement is satisfied through the join-key equivalence, so no
    Exchange may appear between the dedup aggregate and the Window."""
    p = plan(all_specs()["q_tpch_q2_min_cost_supplier"].fn(spark, SF_T2), "simple")
    assert "windowspecdefinition(p_partkey" in p
    assert "BroadcastHashJoin" in p
    assert "REPARTITION_BY_COL" in p  # the single partsupp shuffle
    # exactly one data exchange: everything else is broadcast
    n_data_exchanges = p.count("Exchange hashpartitioning")
    assert n_data_exchanges == 1, p


def test_tpch_q9_dimensions_broadcast_one_fact_shuffle(spark):
    """part/supplier/nation broadcast and the partsupp join is
    ALGEBRIZED AWAY (pure-key-function attributes + pairs derived
    from lineitem itself make it the identity): the plan must carry
    the supply cost as a per-row expression, with NO pair-distinct
    aggregate and no (partkey, suppkey) exchange — the final rollup
    combines map-side."""
    p = plan(all_specs()["q_tpch_q9_product_profit"].fn(spark, SF_T2), "simple")
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p
    # profit must combine map-side before the nation/year exchange
    assert "partial_sum" in p
    # the derivation shuffle must not exist
    assert "ps_partkey" not in p, p


def test_tpch_q11_threshold_scans_cached_rollup(spark):
    """The dual-consumer per-part rollup must be persisted (evaluated
    once — the r8 AQE-race lesson) and the 1-row total must come back
    as a broadcast, never a shuffle."""
    from sd2_drp_experimentgen_spark.functions.helpers import (
        release_persisted,
    )

    df = all_specs()["q_tpch_q11_important_stock"].fn(spark, SF_T2)
    p = plan(df, "simple")
    try:
        assert "InMemoryTableScan" in p, p
        assert "BroadcastNestedLoopJoin" in p or "BroadcastExchange" in p
    finally:
        release_persisted()
