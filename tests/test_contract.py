"""Driver-contract tests: entry smoke, registry/entry-point consistency."""

from __future__ import annotations

import __spark_entry__ as ent
from sd2_drp_experimentgen_spark.plans import all_specs


def test_entry_returns_rows(spark):
    df = ent.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert "revenue" in df.columns


def test_queries_and_oracles_consistent():
    qs = ent.queries()
    oracles = ent.oracle_sql()
    assert set(oracles) <= set(qs)
    specs = all_specs()
    assert list(qs) == list(specs)  # registration order
    for name, spec in specs.items():
        assert spec.tier in {"P0", "P1", "P2"}, name


def test_every_query_runs_t1(spark):
    """Every registered query executes and returns a stable schema at t1."""
    from tests.conftest import SF_T1

    for name, spec in sorted(all_specs().items()):
        df = spec.fn(spark, SF_T1)
        assert df.columns, name
        assert df.count() >= 0, name
