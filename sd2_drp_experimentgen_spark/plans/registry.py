"""Central query registry — the SURVEY.md §2 operator inventory.

Each operator module registers its queries with the ``@register``
decorator; ``all_specs()`` imports every operator module (idempotent) and
returns the merged registry in registration order. ``__spark_entry__.py``
derives its ``queries()`` / ``oracle_sql()`` dicts from here, so a query
is "declared" to the driver exactly when its module registers it.

Determinism contract for every registered query (SURVEY §5.3): float
outputs rounded 4-6dp on both sides, every ORDER BY ends in a unique key,
integer SUMs cast to BIGINT in the oracle, no raw nanosecond timestamps
emitted, computed columns aliased identically in Spark and SQL.

Rule #11 (SURVEY §5.3, learned r4): the BIGINT cast must wrap the
OUTERMOST expression of every integer-valued oracle RESULT column —
DuckDB widens ``sum(BIGINT)`` to HUGEINT, and the driver's pandas hash
medium turns HUGEINT into float64, a guaranteed hash-fail.  Statically
enforced by tests/test_oracle_types.py; use
``functions.helpers.sql_sum_units`` for the common money/units shape.
"""

from __future__ import annotations

import importlib
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

# Operator modules that populate the registry on import.
_OPERATOR_MODULES = [
    "scans",
    "scalars",
    "experiment",
    "storage",
    "etl",
    "graph",
    "joins",
    "aggregates",
    "windows",
    "sorts",
    "setops",
    "text",
    "llmtext",
    "vectors",
    "udfs",
    "events_windows",
    "streaming_ops",
    "multimodal",
    "ml",
    "tpch",
    "codecs",
]


@dataclass(frozen=True)
class QuerySpec:
    name: str
    fn: QueryFn
    oracle: str | None  # DuckDB ANSI SQL; None => rows-only check
    tier: str  # P0 / P1 / P2
    doc: str = ""


_REGISTRY: dict[str, QuerySpec] = {}
_LOADED = False


def register(
    name: str, oracle: str | None = None, tier: str = "P1", doc: str = ""
) -> Callable[[QueryFn], QueryFn]:
    def deco(fn: QueryFn) -> QueryFn:
        if name in _REGISTRY:
            raise ValueError(f"duplicate query name: {name}")
        _REGISTRY[name] = QuerySpec(name, fn, oracle, tier, doc or (fn.__doc__ or ""))
        return fn

    return deco


def _load() -> None:
    global _LOADED
    if _LOADED:
        return
    for mod in _OPERATOR_MODULES:
        importlib.import_module(f"sd2_drp_experimentgen_spark.operators.{mod}")
    _LOADED = True


# Queries whose registration is conditional on an optional dependency:
# they stay documented in SURVEY.md everywhere, but self-unregister in
# environments lacking the dependency (tests/test_docs_sync.py allows
# exactly this set to be documented-but-absent).
ENV_GATED: frozenset[str] = frozenset(
    {"q_stream_tws_totals"}  # transformWithStateInPandas needs protobuf
)


def all_specs() -> dict[str, QuerySpec]:
    _load()
    return dict(_REGISTRY)
