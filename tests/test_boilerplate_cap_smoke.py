"""CI smoke for the stop-bucket cap FIRING on a realistic corpus
(VERDICT r8 item 7).

tests/test_bucket_cap.py pins the cap's semantics on a constructed
toy corpus; tools/ladder.py documents --probe boilerplate measures it at
sf0.1 scale but only runs ad hoc in round reports. This smoke closes
the gap: a ~2k-doc corpus (sf0.001 documents replicated 4x with
replica-distinct bodies, every doc sharing the study's 64-token
boilerplate header) is built in-test, both capped rungs run, and the
assertions fail if a future refactor silently widens buckets before
the cap — nonzero drops read from the DEDICATED bucket audits (never
the possibly-empty pair output, ADVICE r8 #2) and wall-clock bounded
far below what an uncapped |corpus|^2 hot bucket would cost.
"""

from __future__ import annotations

import time

import pytest

from sd2_drp_experimentgen_spark.functions.helpers import release_persisted
from sd2_drp_experimentgen_spark.plans import all_specs
from tests.conftest import SF_T1
from tools.ladder import (
    BP_RUNGS,
    _bp_audit_count,
    replicate_documents,
)

# Generous CI bound: each rung runs ~3-5 s capped on local[8]; the
# uncapped form put ~2000^2/2 = 2e6 pairs per hot fingerprint in ONE
# task (hundreds of hot fps -> minutes-to-hours). A hang past this
# bound is the regression this smoke exists to catch.
RUNG_WALL_BOUND_SEC = 120.0
N_REPS = 4


@pytest.fixture(scope="module")
def bp_corpus(spark, tmp_path_factory):
    """~2k-doc boilerplate corpus: sf0.001 documents x4 via the
    study's OWN replica transform (replicate_documents — shared code,
    not a re-implementation, so the corpus shape CI checks is the one
    the round reports measure)."""
    out = tmp_path_factory.mktemp("bpsmoke")
    replicate_documents(
        spark,
        spark.read.parquet(f"{SF_T1}/documents.parquet"),
        N_REPS,
        boilerplate=True,
    ).write.mode("overwrite").parquet(str(out / "documents.parquet"))
    return str(out)


@pytest.mark.parametrize("rung", sorted(BP_RUNGS))
def test_cap_fires_and_stays_bounded(spark, bp_corpus, rung):
    audit_col = BP_RUNGS[rung]
    t0 = time.perf_counter()
    n_pairs = all_specs()[rung].fn(spark, bp_corpus).count()
    wall = time.perf_counter() - t0
    release_persisted()
    assert wall < RUNG_WALL_BOUND_SEC, (
        f"{rung} took {wall:.1f}s on the 2k-doc boilerplate corpus — "
        "the stop-bucket cap is no longer bounding the hot-bucket "
        "quadratic"
    )
    # drop counter from the dedicated bucket audit: must be nonzero on
    # this corpus regardless of whether any pair survived
    dropped = _bp_audit_count(spark, rung, bp_corpus)
    assert dropped > 0, (
        f"{rung}: {audit_col}=0 on a corpus where every doc shares a "
        "64-token header — the cap did not fire"
    )
    # replica-distinct bodies mean every replica pair of the same base
    # doc shares ONLY boilerplate: organic near-dups within a replica
    # may survive, but the output must stay far below the uncapped
    # hot-bucket pair count
    assert n_pairs < 100_000
