"""Physical-layout operators — bucketing for co-located joins and
salting for skewed aggregation. These are the two layout levers that
matter most at 100 TB (SURVEY §7.2 risk #6): a fact-to-fact join on a
pre-bucketed key runs with ZERO join-side shuffle, and a salted
two-stage aggregate spreads a hot key across tasks instead of melting
one executor. Both are hash-checked — the layout changes the plan, not
the answer — and `tests/test_plans.py` asserts the plan actually
dropped the Exchange.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.helpers import (
    _round_halfup,
    exact_sum,
    int_units,
    sql_exact_sum,
    sql_r,
    sql_units,
)
from ..plans.registry import register
from ..sources.tables import load_table

N_BUCKETS = 8
N_SALTS = 16


def _sf_tag(sf_dir: str) -> str:
    return (os.path.basename(sf_dir.rstrip("/")) or "sf").replace(".", "_")


def ensure_bucketed_tables(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    """Write lineitem + orders as bucketed/sorted EXTERNAL tables (once
    per sf) and return their table names. bucketBy(orderkey) + sortBy
    gives both sides identical physical distribution, so the join needs
    no Exchange and no Sort — at 100 TB this is the difference between
    a full-table shuffle and a metadata-only co-located join.

    Explicit `path` makes the tables external under the repo's .scratch
    dir: the layout never depends on the host session's warehouse dir
    (which defaults to the caller's CWD), and a fresh in-memory catalog
    can always re-register over a stale location."""
    import shutil

    tag = _sf_tag(sf_dir)
    li_tbl, o_tbl = f"lineitem_bkt_{tag}", f"orders_bkt_{tag}"
    catalog = spark.catalog
    scratch = os.path.abspath(
        os.path.join(os.path.dirname(__file__), "..", "..", ".scratch", "bucketed")
    )

    def _write(tbl: str, table: str, cols: list[str], key: str) -> None:
        path = os.path.join(scratch, tbl)
        shutil.rmtree(path, ignore_errors=True)  # stale location from a prior process
        (
            load_table(spark, sf_dir, table)
            .select(*cols)
            .write.bucketBy(N_BUCKETS, key)
            .sortBy(key)
            .option("path", path)
            .mode("overwrite")
            .saveAsTable(tbl)
        )

    if not catalog.tableExists(li_tbl):
        _write(
            li_tbl, "lineitem",
            ["l_orderkey", "l_extendedprice", "l_discount"], "l_orderkey",
        )
    if not catalog.tableExists(o_tbl):
        _write(o_tbl, "orders", ["o_orderkey", "o_orderpriority"], "o_orderkey")
    return li_tbl, o_tbl


@register(
    "q_join_bucketed",
    oracle=f"""
    SELECT o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_items,
           sum({sql_units("l_extendedprice * (1 - l_discount)")})
             / 10000.0 AS revenue
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    GROUP BY o_orderpriority
    """,
    tier="P1",
    doc="Shuffle-free fact-to-fact join via bucketing: both tables "
    "written bucketBy(8, orderkey)+sortBy, then sort-merge joined "
    "bucket-to-bucket with no Exchange and no Sort on either input "
    "(asserted in tests/test_plans.py). The MERGE hint pins the SMJ "
    "path so the demonstration holds even when one side is broadcast-"
    "sized at test scale. Same answer as a plain join — the oracle "
    "is layout-agnostic.",
)
def q_join_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    li_tbl, o_tbl = ensure_bucketed_tables(spark, sf_dir)
    li = spark.table(li_tbl).hint("merge")
    o = spark.table(o_tbl)
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            # int-units sum: order-independent at any scale (the float
            # sum crossed the 4dp boundary at sf0.1 — helpers.int_units)
            (
                F.sum(
                    int_units(
                        F.col("l_extendedprice") * (1 - F.col("l_discount"))
                    )
                )
                / F.lit(10000.0)
            ).alias("revenue"),
        )
    )


@register(
    "q_agg_skew_salted",
    oracle=f"""
    SELECT l_returnflag,
           CAST(count(*) AS BIGINT) AS n,
           {sql_r("sum(l_quantity)")} AS sum_qty
    FROM lineitem
    GROUP BY l_returnflag
    """,
    tier="P1",
    doc="Skew-resistant two-stage aggregation: stage 1 groups by "
    "(key, salt) — 16 deterministic salts spread each hot key over 16 "
    "tasks; stage 2 merges the 48 partials. count/sum re-aggregate "
    "losslessly, so the result hash-matches the unsalted oracle. "
    "Honest scope, per the measured study (SCALE.md round-4 skew "
    "study, tools/ladder.py facts --probe skew): for DECOMPOSABLE "
    "aggregates like "
    "these, map-side partial aggregation already collapses a hot key "
    "to one row per task and salting measured as pure overhead "
    "(0.26s naive vs 0.45s salted on a 50%-one-key 19M-row build) — "
    "the pattern earns its keep for HOLISTIC or state-heavy "
    "aggregates (collect_list/exact percentile state, partial maps "
    "degrading under high per-task key cardinality), where stage 1 "
    "genuinely bounds per-task state. This operator exists to pin "
    "the lossless two-stage mechanics; float sums are rounded only "
    "after the final merge.",
)
def q_agg_skew_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select("l_returnflag", "l_quantity")
    salted = li.withColumn(
        "salt", (F.rand(seed=7) * N_SALTS).cast("int")
    )
    partial = salted.groupBy("l_returnflag", "salt").agg(
        F.count(F.lit(1)).alias("pn"), F.sum("l_quantity").alias("pq")
    )
    return partial.groupBy("l_returnflag").agg(
        F.sum("pn").alias("n"),
        _round_halfup(F.sum("pq"), 4).alias("sum_qty"),
    )


COMPACT_SMALL_FILES = 48
COMPACT_TARGET_FILES = 4


def compact_parquet_dir(spark: SparkSession, src: str, dst: str, target: int) -> None:
    """Maintenance primitive: rewrite a parquet directory into ``target``
    files. Distributed rewrite (scan -> repartition -> write) — the
    driver never touches row data; at 100 TB this is the nightly
    small-file compaction that keeps scan task counts sane (each
    streaming micro-batch or per-partition append leaves files far
    below maxPartitionBytes; compaction restores full-size splits)."""
    spark.read.parquet(src).repartition(target).write.mode("overwrite").parquet(dst)


@register(
    "q_maint_compact_files",
    oracle=f"""
    SELECT o_orderpriority,
           count(*) AS n,
           {sql_r(sql_exact_sum('o_totalprice'))} AS sum_price
    FROM orders
    GROUP BY o_orderpriority
    """,
    tier="P1",
    doc="Small-file compaction end-to-end: orders is first written as "
    f"{COMPACT_SMALL_FILES} fragment files (the many-small-appends "
    "state a streaming sink leaves behind), then compacted to "
    f"{COMPACT_TARGET_FILES} full-size files by a distributed "
    "scan->repartition->write rewrite, and the compacted copy is read "
    "back and aggregated. The oracle sees the original table — "
    "identical output proves the rewrite is lossless. Pytest asserts "
    "the physical file counts before/after.",
)
def q_maint_compact_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .scans import _scratch

    frag = _scratch(sf_dir, "compact_frag")
    compact = _scratch(sf_dir, "compact_out")
    load_table(spark, sf_dir, "orders").repartition(
        COMPACT_SMALL_FILES
    ).write.mode("overwrite").parquet(frag)
    compact_parquet_dir(spark, frag, compact, COMPACT_TARGET_FILES)
    back = spark.read.parquet(compact)
    return back.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n"),
        # exact_sum (r10): 5 priority groups over all orders — see
        # q_agg_groupby_q1
        _round_halfup(exact_sum("o_totalprice"), 4).alias("sum_price"),
    )


ZORDER_BITS = 10


def _z_terms_sql(a: str, b: str) -> str:
    """DuckDB expression interleaving the low ZORDER_BITS bits of two
    BIGINT expressions (a -> even bit positions, b -> odd)."""
    terms = []
    for i in range(ZORDER_BITS):
        terms.append(f"((({a} >> {i}) & 1) << {2 * i})")
        terms.append(f"((({b} >> {i}) & 1) << {2 * i + 1})")
    return " + ".join(terms)


def _z_col(a, b):
    """Spark Column twin of _z_terms_sql."""
    z = F.lit(0).cast("long")
    for i in range(ZORDER_BITS):
        z = z + F.shiftleft(F.shiftright(a, i).bitwiseAND(F.lit(1)), 2 * i)
        z = z + F.shiftleft(F.shiftright(b, i).bitwiseAND(F.lit(1)), 2 * i + 1)
    return z


@register(
    "q_layout_zorder",
    oracle=f"""
    WITH z AS (
      SELECT CAST({_z_terms_sql("o_custkey % 1024",
                                "CAST(floor(o_totalprice / 1000) AS BIGINT) % 1024")}
                  AS BIGINT) AS zval,
             o_custkey, o_totalprice
      FROM orders
    )
    SELECT CAST(zval >> 14 AS BIGINT) AS tile,
           count(*) AS n,
           CAST(min(o_custkey) AS BIGINT) AS min_cust,
           CAST(max(o_custkey) AS BIGINT) AS max_cust,
           {sql_r('min(o_totalprice)')} AS min_price,
           {sql_r('max(o_totalprice)')} AS max_price
    FROM z GROUP BY 1
    """,
    tier="P1",
    doc="Z-order (Morton) data layout: bit-interleave of the two "
    "cluster keys (custkey, price bucket) -> one sort key that keeps "
    "BOTH dimensions locally clustered, then a range-partitioned, "
    "z-sorted parquet rewrite (the OPTIMIZE ZORDER BY analog) and a "
    "per-tile min/max profile read back from the new layout — exactly "
    "the file-level statistics multi-dimensional pruning feeds on: a "
    "predicate on EITHER key now skips most tiles. Pure integer bit "
    "arithmetic, so the hash check is exact; the rewrite is "
    "distributed (repartitionByRange + sortWithinPartitions, no "
    "driver materialization).",
)
def q_layout_zorder(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .scans import _scratch

    o = load_table(spark, sf_dir, "orders")
    a = F.col("o_custkey") % 1024
    b = F.floor(F.col("o_totalprice") / 1000).cast("long") % 1024
    z = o.select(
        _z_col(a, b).alias("zval"), "o_custkey", "o_totalprice"
    )
    path = _scratch(sf_dir, "zorder_orders")
    (
        z.repartitionByRange(8, "zval")
        .sortWithinPartitions("zval")
        .write.mode("overwrite")
        .parquet(path)
    )
    back = spark.read.parquet(path)
    return back.groupBy(
        F.shiftright(F.col("zval"), 14).alias("tile")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.min("o_custkey").alias("min_cust"),
        F.max("o_custkey").alias("max_cust"),
        _round_halfup(F.min("o_totalprice"), 4).alias("min_price"),
        _round_halfup(F.max("o_totalprice"), 4).alias("max_price"),
    )


@register(
    "q_catalog_stats_cbo",
    oracle="""
    SELECT 'orders' AS tbl, count(*) AS n_rows FROM orders
    UNION ALL
    SELECT 'nation' AS tbl, count(*) AS n_rows FROM nation
    ORDER BY tbl
    """,
    tier="P2",
    doc="Catalog statistics for cost-based optimization (ANALYZE TABLE "
    "COMPUTE STATISTICS): orders and nation written as external "
    "catalog tables, analyzed, and the row counts read back FROM THE "
    "CATALOG (DESCRIBE EXTENDED Statistics line), not from a data "
    "scan — proving the stats CBO's join reordering and broadcast "
    "threshold decisions consume actually landed. At 100 TB, ANALYZE "
    "after load is what keeps the optimizer choosing broadcast over "
    "sort-merge for trimmed dimensions.",
)
def q_catalog_stats_cbo(spark: SparkSession, sf_dir: str) -> DataFrame:
    import re

    tag = _sf_tag(sf_dir)
    out = []
    for name in ("nation", "orders"):
        tbl = f"sd2drp_stats_{name}_{tag}"
        path = os.path.abspath(f".scratch/stats_{name}_{tag}")
        # always rewrite: a table left by a previous run could predate a
        # driver-side fixture regeneration, and ANALYZE over stale data
        # would report stale (wrong) row counts
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")
        (
            load_table(spark, sf_dir, name)
            .write.mode("overwrite")
            .option("path", path)
            .saveAsTable(tbl)
        )
        spark.sql(f"ANALYZE TABLE {tbl} COMPUTE STATISTICS")
        stats = (
            spark.sql(f"DESCRIBE TABLE EXTENDED {tbl}")
            .where(F.col("col_name") == "Statistics")
            .collect()
        )
        m = re.search(r"(\d+)\s+rows", stats[0]["data_type"])
        out.append((name, int(m.group(1))))
    return spark.createDataFrame(
        sorted(out), schema="tbl string, n_rows long"
    )


@register(
    "q_cache_reuse",
    oracle="""
    WITH enriched AS (
      SELECT o_orderpriority, o_totalprice,
             o_totalprice >= 100000 AS is_big
      FROM orders WHERE o_orderstatus <> 'P'
    )
    SELECT o_orderpriority,
           count(*) AS n,
           CAST(count_if(is_big) AS BIGINT) AS n_big,
           floor(sum(o_totalprice) * 10000 + 0.5) / 10000 AS sum_price
    FROM enriched
    GROUP BY o_orderpriority
    """,
    tier="P2",
    doc="Midplan caching (persist + InMemoryTableScan): a filtered, "
    "derived frame is cached and feeds two downstream aggregates that "
    "join back together — the second consumer reads the columnar "
    "cache, not the parquet source (tests/test_plans.py asserts "
    "InMemoryTableScan). unpersist() runs in a finally-style cleanup "
    "so repeated driver invocations never accumulate pinned storage. "
    "The 100 TB judgment call documented here: cache ONLY frames "
    "reused >=2x that fit the cluster's storage fraction — otherwise "
    "recompute beats eviction churn.",
)
def q_cache_reuse(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    enriched = (
        o.where(F.col("o_orderstatus") != "P")
        .select(
            "o_orderpriority",
            "o_totalprice",
            (F.col("o_totalprice") >= 100000).alias("is_big"),
        )
        .persist()
    )
    try:
        counts = enriched.groupBy("o_orderpriority").agg(
            F.count(F.lit(1)).alias("n"),
            F.count_if(F.col("is_big")).alias("n_big"),
        )
        sums = enriched.groupBy("o_orderpriority").agg(
            _round_halfup(F.sum("o_totalprice"), 4).alias("sum_price")
        )
        return (
            counts.join(sums, "o_orderpriority")
            .select("o_orderpriority", "n", "n_big", "sum_price")
            .localCheckpoint()  # materialize while the cache is live
        )
    finally:
        enriched.unpersist()


@register(
    "q_join_hints",
    oracle="""
    SELECT n_name, count(*) AS n_custs,
           floor(sum(c_acctbal) * 10000 + 0.5) / 10000 AS sum_bal
    FROM customer JOIN nation ON c_nationkey = n_nationkey
    GROUP BY n_name
    """,
    tier="P2",
    doc="Join strategy hints (BROADCAST / SHUFFLE_MERGE / "
    "SHUFFLE_HASH): the same customer-nation join executed under all "
    "three hints, self-checked identical, returning the broadcast "
    "variant. Hints are the manual override when statistics mislead "
    "the planner (fresh tables, remote stores without stats) — "
    "tests/test_plans.py pins that each hint actually selects its "
    "physical join.",
)
def q_join_hints(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")

    def agg(joined: DataFrame) -> DataFrame:
        return joined.groupBy("n_name").agg(
            F.count(F.lit(1)).alias("n_custs"),
            _round_halfup(F.sum("c_acctbal"), 4).alias("sum_bal"),
        )

    variants = {
        hint: agg(
            c.join(
                n.hint(hint),
                c.c_nationkey == n.n_nationkey,
            )
        )
        for hint in ("broadcast", "shuffle_merge", "shuffle_hash")
    }
    rows = {
        h: sorted(map(tuple, df.collect())) for h, df in variants.items()
    }
    assert (
        rows["broadcast"] == rows["shuffle_merge"] == rows["shuffle_hash"]
    ), "join hints changed the answer"
    return variants["broadcast"]


@register(
    "q_sink_partition_overwrite",
    oracle=f"""
    WITH final AS (
      SELECT o_orderpriority, o_totalprice FROM orders
      WHERE o_orderpriority <> '1-URGENT'
      UNION ALL
      SELECT o_orderpriority, o_totalprice * 2 AS o_totalprice FROM orders
      WHERE o_orderpriority = '1-URGENT' AND o_orderstatus = 'F'
    )
    SELECT o_orderpriority, count(*) AS n,
           CAST(sum({sql_units("o_totalprice", 2)}) AS BIGINT) AS sum_cents
    FROM final
    GROUP BY o_orderpriority
    """,
    tier="P1",
    doc="Dynamic partition overwrite (INSERT OVERWRITE ... PARTITION "
    "semantics, partitionOverwriteMode=dynamic): the orders table is "
    "written partitioned by priority, then ONE partition ('1-URGENT') "
    "is overwritten with a corrected restatement (finalized urgent "
    "orders, repriced) — and the re-read proves the other four "
    "partitions survived untouched, which STATIC overwrite mode would "
    "have deleted. This is the idempotent daily-restatement shape at "
    "100 TB: a day's re-run replaces exactly its own date partitions, "
    "never truncating the table, and the overwritten unit is a "
    "directory swap — no read-modify-write of neighbors. The mode "
    "conf is set on an isolated newSession so concurrent queries on "
    "the caller's session keep their semantics.",
)
def q_sink_partition_overwrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .scans import _scratch

    s = spark.newSession()
    s.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    path = _scratch(sf_dir, "orders_by_priority")
    o = load_table(s, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice", "o_orderpriority"
    )
    o.write.mode("overwrite").partitionBy("o_orderpriority").parquet(path)
    restated = (
        o.where(
            (F.col("o_orderpriority") == "1-URGENT")
            & (F.col("o_orderstatus") == "F")
        )
        .withColumn("o_totalprice", F.col("o_totalprice") * 2)
    )
    # dynamic mode: only partitions present in `restated` (just
    # 1-URGENT) are replaced; the other four directories are kept.
    restated.write.mode("overwrite").partitionBy("o_orderpriority").parquet(path)
    back = s.read.parquet(path)
    return back.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(int_units("o_totalprice", 2)).alias("sum_cents"),
    )


@register(
    "q_join_skew_salted",
    oracle=f"""
    SELECT c_mktsegment, count(*) AS n,
           CAST(sum({sql_units("value")}) AS BIGINT) AS sum_value_units
    FROM events JOIN customer ON user_id = c_custkey
    GROUP BY c_mktsegment
    """,
    tier="P1",
    doc="Skew-salted shuffle JOIN — the join-side twin of "
    "q_agg_skew_salted: the fact side gets a deterministic 16-way "
    "salt (pmod of the row key), the dimension side is exploded 16x "
    "so every (key, salt) pair exists, and the join runs on "
    "(key, salt) — a hot join key that would melt one task now "
    "spreads over 16. The shuffle_hash hint suppresses the broadcast "
    "Catalyst would rightly pick at fixture scale, because the "
    "pattern being exercised is for dimensions too big to broadcast "
    "with skewed fact keys — measured on a 50%-one-key 19M-row "
    "build (SCALE.md round-4 skew study): salted 1.13s vs 1.67s "
    "naive-with-AQE-skew-split, because AQE's split targets "
    "sort-merge spill imbalance and left this in-memory shuffled-"
    "hash join's hot task intact. The salt never reaches the output: the "
    "post-join aggregate is salt-invariant and hash-checks against "
    "the plain join.",
)
def q_join_skew_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.tables import load_events

    ev = load_events(spark, sf_dir).select(
        "user_id", "event_id", int_units("value").alias("value_units")
    )
    salted_fact = ev.withColumn(
        "salt", F.pmod(F.col("event_id"), F.lit(N_SALTS)).cast("int")
    )
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    salted_dim = cust.withColumn(
        "salt",
        F.explode(F.array(*[F.lit(i) for i in range(N_SALTS)])),
    )
    joined = salted_fact.hint("shuffle_hash").join(
        salted_dim,
        (F.col("user_id") == F.col("c_custkey"))
        & (salted_fact.salt == salted_dim.salt),
    )
    return joined.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("value_units").alias("sum_value_units"),
    )


@register(
    "q_sink_write_audit_publish",
    oracle=f"""
    SELECT o_orderstatus, count(*) AS n,
           CAST(sum({sql_units("o_totalprice", 2)}) AS BIGINT) AS sum_cents,
           0 AS audit_null_keys, 0 AS audit_dup_keys, 0 AS audit_bad_price
    FROM orders
    GROUP BY o_orderstatus
    """,
    tier="P1",
    doc="Write-audit-publish (WAP): data is STAGED to a non-served "
    "location, data-quality expectations run against the staged "
    "files (null keys, duplicate keys, price range), and only a "
    "clean audit publishes the staging directory to the serving "
    "path with one atomic rename — consumers can never observe a "
    "bad or partial table. The reject path is genuinely exercised: "
    "a first attempt staging poisoned rows (nulled keys) fails its "
    "audit and is discarded without publishing; the clean second "
    "attempt publishes. The audit counters ride in the output (all "
    "zero for the published table), so the hash check proves both "
    "the served data and the gate's verdict. At 100 TB: the audit "
    "is one aggregate pass over staged parquet (map-side counts + "
    "one tiny shuffle), the publish is a metadata move, and a "
    "failed audit costs zero serving-side IO — the pattern behind "
    "Iceberg/Delta staging branches and blue-green table loads.",
)
def q_sink_write_audit_publish(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil

    from .scans import _scratch

    base = _scratch(sf_dir, "wap")
    staging = os.path.join(base, "staging")
    serving = os.path.join(base, "serving")
    shutil.rmtree(base, ignore_errors=True)

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", int_units("o_totalprice", 2).alias("cents")
    )

    def audit(path: str) -> dict[str, int]:
        staged = spark.read.parquet(path)
        row = staged.agg(
            F.sum(F.when(F.col("o_orderkey").isNull(), 1).otherwise(0)).alias(
                "null_keys"
            ),
            (
                F.count(F.lit(1)) - F.count_distinct(F.col("o_orderkey"))
            ).alias("dup_keys"),
            F.sum(
                F.when(
                    (F.col("cents") <= 0) | (F.col("cents") > 100_000_000), 1
                ).otherwise(0)
            ).alias("bad_price"),
        ).collect()[0]
        return {k: int(row[k] or 0) for k in ("null_keys", "dup_keys", "bad_price")}

    # attempt 1: poisoned batch (a third of the keys nulled) — the
    # audit MUST reject it, and nothing may reach the serving path
    poisoned = o.withColumn(
        "o_orderkey",
        F.when(F.col("o_orderkey") % 3 == 0, F.lit(None)).otherwise(
            F.col("o_orderkey")
        ),
    )
    poisoned.write.mode("overwrite").parquet(staging)
    bad = audit(staging)
    assert bad["null_keys"] > 0, "poisoned audit unexpectedly clean"
    shutil.rmtree(staging)  # reject: discard staging, never publish
    assert not os.path.exists(serving), "reject path leaked to serving"

    # attempt 2: clean batch — audit passes, staging becomes serving
    o.write.mode("overwrite").parquet(staging)
    good = audit(staging)
    assert all(v == 0 for v in good.values()), f"clean audit failed: {good}"
    os.rename(staging, serving)  # atomic publish

    served = spark.read.parquet(serving)
    return served.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("cents").alias("sum_cents"),
        F.lit(good["null_keys"]).alias("audit_null_keys"),
        F.lit(good["dup_keys"]).alias("audit_dup_keys"),
        F.lit(good["bad_price"]).alias("audit_bad_price"),
    )


@register(
    "q_join_dynamic_partition_pruning",
    oracle=f"""
    SELECT o_orderpriority, count(*) AS n,
           CAST(sum({sql_units("o_totalprice", 2)}) AS BIGINT) AS sum_cents
    FROM orders
    WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')
    GROUP BY o_orderpriority
    """,
    tier="P1",
    doc="Dynamic partition pruning (DPP): the fact table is laid out "
    "partitioned by priority, the dimension carries the selective "
    "predicate (is_hot), and the fact-side partition filter is "
    "DERIVED AT RUNTIME from the dimension's build side — the scan "
    "reads 2 of 5 partition directories without any literal fact "
    "predicate in the query. tests/test_plans.py pins "
    "`dynamicpruningexpression` in the fact scan's PartitionFilters. "
    "This is the single biggest scan lever for star joins at 100 TB: "
    "a date-dimension filter ('last week') prunes years of fact "
    "partitions before one byte is read, with zero query rewriting. "
    "The broadcast side doubles as the DPP subquery, so the pruning "
    "costs one tiny dimension scan, not a fact pre-pass.",
)
def q_join_dynamic_partition_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil

    from .scans import _scratch

    path = _scratch(sf_dir, "orders_dpp")
    marker = os.path.join(path, "_SUCCESS")
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", int_units("o_totalprice", 2).alias("cents"),
        "o_orderpriority",
    )
    if not os.path.exists(marker):
        shutil.rmtree(path, ignore_errors=True)
        o.write.mode("overwrite").partitionBy("o_orderpriority").parquet(path)
    fact = spark.read.parquet(path)
    dim = (
        o.select("o_orderpriority")
        .distinct()
        .withColumn(
            "is_hot",
            F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"),
        )
        .withColumnRenamed("o_orderpriority", "d_priority")
    )
    joined = fact.join(
        F.broadcast(dim.where(F.col("is_hot"))),
        fact.o_orderpriority == F.col("d_priority"),
    )
    return joined.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("cents").alias("sum_cents"),
    )


@register(
    "q_storage_time_travel",
    oracle=f"""
    SELECT 1 AS version, count(*) AS n,
           CAST(sum({sql_units("o_totalprice", 2)}) AS BIGINT) AS sum_cents
    FROM orders WHERE o_orderstatus = 'F'
    UNION ALL
    SELECT 2 AS version, count(*) AS n,
           CAST(sum({sql_units("o_totalprice", 2)}) AS BIGINT) AS sum_cents
    FROM orders WHERE o_orderstatus IN ('F', 'O')
    """,
    tier="P1",
    doc="Manifest-based snapshot time travel — the table-format "
    "primitive under Iceberg/Delta VERSION AS OF, built from parts "
    "the engine already has: each commit writes immutable data "
    "files plus a versioned manifest naming exactly the files in "
    "that snapshot, and a reader binds to a manifest, never to the "
    "directory listing. After a second commit appends files and "
    "manifest v2, reading AS OF v1 still reproduces the old table "
    "bit-for-bit even though v2's files sit in the same directory — "
    "directory-listing reads can never give that isolation. Both "
    "versions are read back manifest-driven and hash-checked. At "
    "100 TB the manifest is metadata (file names, KBs per thousands "
    "of files); snapshot reads cost zero data copying, old versions "
    "expire by deleting manifests then unreferenced files.",
)
def q_storage_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    import json
    import shutil

    from .scans import _scratch

    base = _scratch(sf_dir, "time_travel")
    data = os.path.join(base, "data")
    shutil.rmtree(base, ignore_errors=True)
    os.makedirs(base)

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", int_units("o_totalprice", 2).alias("cents")
    )

    def commit(df, version: int) -> None:
        batch_dir = os.path.join(data, f"batch_v{version}")
        df.write.mode("overwrite").parquet(batch_dir)
        files = sorted(
            os.path.join(batch_dir, f)
            for f in os.listdir(batch_dir)
            if f.endswith(".parquet")
        )
        prev = manifest(version - 1)
        with open(os.path.join(base, f"manifest_v{version}.json"), "w") as fh:
            json.dump({"version": version, "files": prev + files}, fh)

    def manifest(version: int) -> list[str]:
        p = os.path.join(base, f"manifest_v{version}.json")
        if not os.path.exists(p):
            return []
        with open(p) as fh:
            return json.load(fh)["files"]

    commit(o.where(F.col("o_orderstatus") == "F"), 1)
    commit(o.where(F.col("o_orderstatus") == "O"), 2)

    def read_as_of(version: int):
        return (
            spark.read.schema(
                "o_orderkey BIGINT, o_orderstatus STRING, cents BIGINT"
            )
            .parquet(*manifest(version))
            .agg(
                F.lit(version).alias("version"),
                F.count(F.lit(1)).alias("n"),
                F.sum("cents").alias("sum_cents"),
            )
            .select("version", "n", "sum_cents")
        )

    return read_as_of(1).unionAll(read_as_of(2))


@register(
    "q_storage_merge_on_read_deletes",
    oracle=f"""
    SELECT o_orderstatus, count(*) AS n,
           CAST(sum({sql_units("o_totalprice", 2)}) AS BIGINT) AS sum_cents
    FROM orders
    WHERE NOT (o_orderstatus = 'F'
               AND substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 1) = '0')
    GROUP BY o_orderstatus
    """,
    tier="P1",
    doc="Merge-on-read deletes (the deletion-vector pattern behind "
    "Delta DVs / Iceberg position-delete files): deleting rows "
    "writes only a small DELETE-KEY file; the base data files are "
    "never rewritten, and every read applies the deletes with a "
    "broadcast LEFT ANTI join at scan time. The alternative — "
    "copy-on-write — rewrites every file containing a deleted row "
    "at delete time; merge-on-read moves that cost to reads, which "
    "is the right trade for small scattered deletes (GDPR "
    "erasure, dedup kill-lists) against 100 TB of immutable "
    "parquet. The deleted set (~6% of finalized orders, md5-"
    "selected) stays a broadcast at any base size because it scales "
    "with deletions, not data. Compaction later folds the deletes "
    "into rewritten files — q_maint_compact_files' job.",
)
def q_storage_merge_on_read_deletes(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil

    from .scans import _scratch

    base = _scratch(sf_dir, "mor_deletes")
    data = os.path.join(base, "data")
    dels = os.path.join(base, "deletes")
    shutil.rmtree(base, ignore_errors=True)

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", int_units("o_totalprice", 2).alias("cents")
    )
    o.write.mode("overwrite").parquet(data)
    # the delete commit: ONLY keys are written — no base file rewritten
    delete_keys = o.where(
        (F.col("o_orderstatus") == "F")
        & (F.substring(F.md5(F.col("o_orderkey").cast("string")), 1, 1) == "0")
    ).select("o_orderkey")
    delete_keys.write.mode("overwrite").parquet(dels)

    live = spark.read.parquet(data).join(
        F.broadcast(
            spark.read.parquet(dels).withColumnRenamed("o_orderkey", "dk")
        ),
        F.col("o_orderkey") == F.col("dk"),
        "left_anti",
    )
    return live.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("cents").alias("sum_cents"),
    )


@register(
    "q_agg_distinct_salted",
    oracle="""
    SELECT event_type,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
           CAST(count(DISTINCT value) AS BIGINT) AS n_values
    FROM events
    GROUP BY event_type
    """,
    tier="P1",
    doc="VALUE-SPACE-salted exact distinct — the salting form that "
    "genuinely pays (SCALE.md round-4 skew study: KEY-salting a "
    "decomposable aggregate is overhead; distinct state is the "
    "holistic case): each distinct value lands in exactly one salt "
    "bucket via pmod(xxhash64(value), 16), per-(key, salt) distinct "
    "counts are computed independently, and the per-key total is "
    "their SUM — exact because the buckets partition the value "
    "space, unlike key-salting which would double-count values "
    "appearing under several salts. Per-task distinct state shrinks "
    "16-fold for a hot key; two ordinary shuffles, no Expand "
    "explosion multiplying rows by the number of distinct columns. "
    "This is also the re-aggregatable layout: per-salt counts "
    "persist and roll up across days the way plain COUNT(DISTINCT) "
    "never can (the exact complement to the HLL sketch rung).",
)
def q_agg_distinct_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.tables import load_events

    ev = load_events(spark, sf_dir).select("event_type", "user_id", "value")

    def salted_distinct(col: str, alias: str):
        per_salt = (
            ev.select(
                "event_type",
                F.col(col).alias("v"),
                F.pmod(F.xxhash64(F.col(col)), F.lit(N_SALTS)).alias("salt"),
            )
            .groupBy("event_type", "salt")
            .agg(F.count_distinct(F.col("v")).alias("d"))
        )
        return per_salt.groupBy("event_type").agg(
            F.sum("d").alias(alias)
        )
    users = salted_distinct("user_id", "n_users")
    values = salted_distinct("value", "n_values")
    return users.join(values, "event_type").select(
        "event_type", "n_users", "n_values"
    )
