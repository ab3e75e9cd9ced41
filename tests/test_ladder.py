"""tools/ladder.py: the replica transforms no other test covers, and the
exit status when a check fails.

The documents and bipartite transforms are pinned end to end by
tests/test_graph_witness.py; here the facts and vectors transforms run
at rep 2 on sf0.001, with no study run.
"""

from __future__ import annotations

import numpy as np
import pytest

from tests.conftest import SF_T1
from tools import ladder

REP = 2


def _replicated(spark, family: str, table: str):
    base = spark.read.parquet(f"{SF_T1}/{table}.parquet")
    return base, ladder.FAMILIES[family].tables[table](spark, base, REP, "")


@pytest.mark.parametrize(
    "table,key,unique",
    [
        ("orders", "o_orderkey", True),
        ("lineitem", "l_orderkey", False),  # one key per order's lines
        ("events", "event_id", True),
    ],
)
def test_facts_replicas_double_rows_and_keep_keys_apart(
    spark, table, key, unique
):
    """Exactly 2x rows, and the key's distinct count doubles too: no key
    of one replica collides with another's, so unique keys stay unique."""
    base, rep = _replicated(spark, "facts", table)
    n, keys = base.count(), base.select(key).distinct().count()
    assert (keys == n) == unique
    assert rep.count() == REP * n
    assert rep.select(key).distinct().count() == REP * keys
    assert rep.columns == base.columns


def test_vector_replicas_keep_replica_zero_and_unit_norm(spark):
    base, rep = _replicated(spark, "vectors", "embeddings")
    rows = {r["vec_id"]: r for r in rep.collect()}
    assert len(rows) == REP * base.count()
    for b in base.collect():
        r0 = rows[b["vec_id"]]
        # bit-identical: the same float32 values, not merely close
        assert r0["embedding"] == b["embedding"]
        assert r0["label"] == b["label"]
        r1 = rows[b["vec_id"] + ladder.VEC_STRIDE]
        assert r1["label"] == b["label"]
        assert r1["embedding"] != b["embedding"]
    norms = np.linalg.norm(
        np.array([r["embedding"] for r in rows.values()], dtype=np.float64),
        axis=1,
    )
    assert np.abs(norms - 1).max() < 1e-5


def test_ladder_exits_one_when_a_check_fails(spark, monkeypatch):
    """Same run, real compare then a failing one: 0, then 1."""
    monkeypatch.setattr(ladder, "BASE_SF", SF_T1)
    argv = ["facts", "--verify-only", "--rungs", "q_agg_groupby_q1",
            "--reps", "1"]
    assert ladder.main(argv, spark=spark) == 0
    monkeypatch.setattr(ladder, "compare", lambda *a: (False, "faked"))
    assert ladder.main(argv, spark=spark) == 1


def test_ladder_exits_one_when_the_boilerplate_audit_reads_zero(
    spark, monkeypatch, tmp_path
):
    monkeypatch.setattr(ladder, "BASE_SF", SF_T1)
    monkeypatch.setattr(ladder, "ROOT", tmp_path)
    monkeypatch.setattr(ladder, "_bp_audit_count", lambda *a: 0)
    argv = ["documents", "--probe", "boilerplate", "--rungs", "--reps", "1"]
    assert ladder.main(argv, spark=spark) == 1
    assert (tmp_path / "documents" / "x1bp" / "_BUILT").exists()
