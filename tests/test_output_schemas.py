"""Driver-compatibility guards (VERDICT r2 items 3-4).

Round 2's single red driver row (q_agg_collect_sets) was caused by an
array-typed OUTPUT column: the driver's pandas canonicalizer
(``sort_values`` → ``Categorical`` factorize) raises ``TypeError:
unhashable type: 'list'`` on container cells even when the values
match the oracle. These tests pin the repo-wide rule — every
hash-oracled query emits a scalar-only schema — and prove the local
pre-verifier now REJECTS what the driver would crash on (so local
green implies driver green again).
"""

from __future__ import annotations

import pyspark.sql.functions as F

from sd2_drp_experimentgen_spark.plans import all_specs
from tests.conftest import SF_T1
from tools.verify_local import NonScalarCell, canon_rows, compare, container_cols


def test_no_container_outputs_hash_queries(spark):
    """Every hash-oracled query's output schema is scalar-only.

    Schema-level (plan-only, no execution beyond what the query fn
    itself materializes) so it catches driver-incompatible outputs
    even when the sampled result would be empty.
    """
    offenders = {}
    for name, spec in all_specs().items():
        if spec.oracle is None:
            continue  # rows-only: driver only counts, containers allowed
        bad = container_cols(spec.fn(spark, SF_T1).schema)
        if bad:
            offenders[name] = bad
    assert not offenders, (
        f"container-typed output columns would crash the driver "
        f"canonicalizer: {offenders}"
    )


def test_guard_rejects_array_fixture(spark):
    """compare() fails (not crashes) on a deliberately array-returning
    query — red before the r3 fix, the exact q_agg_collect_sets shape."""
    df = (
        spark.range(10)
        .withColumn("g", F.col("id") % 2)
        .groupBy("g")
        .agg(F.sort_array(F.collect_set("id")).alias("ids"))
    )
    assert container_cols(df.schema) == ["ids"]
    ok, msg = compare("fixture_array", df, _FakeDuck())
    assert not ok and "DRIVER-INCOMPATIBLE" in msg


def test_canon_rejects_container_cells():
    """Cell-level mirror of the driver canonicalizer: list cells raise
    NonScalarCell instead of being silently stringified (the r2
    verify_local divergence)."""
    try:
        canon_rows(["a"], [([1, 2],)])
    except NonScalarCell:
        pass
    else:
        raise AssertionError("canon_rows accepted a list cell")


class _FakeDuck:
    """Minimal stand-in for a DuckDB result (never reached: the schema
    guard fires first)."""

    description = [("ids",)]

    @staticmethod
    def fetchall():
        return []

