"""Tests of the benchmark's own logic; no Spark session is started.

Run from the repository root: ``python -m pytest perfbench/tests -q``.
"""

from __future__ import annotations

import json
import os
import re
import sys
from types import SimpleNamespace

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import layers, run  # noqa: E402

NAME = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")
UNIT = re.compile(r"[A-Za-z0-9_/%.-]{1,16}")


def _declared() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


# ------------------------------------------------------------- stage sums


def _stage(status="COMPLETE", **kw):
    st = dict.fromkeys(layers.STAGE_KEYS, 0)
    st.update(kw, status=status)
    return st


def test_sum_stages_counts_each_ran_stage_once():
    store = {
        1: _stage(tasks=4, run_ms=1000, cpu_ns=2_000_000_000, shuffle_write_b=1 << 20),
        2: _stage(tasks=2, run_ms=500, gc_ms=250, input_b=3 << 20),
        3: _stage("SKIPPED", tasks=9, run_ms=9999),
    }

    def lookup(sid):
        if sid not in store:  # a stage the status store never recorded
            raise LookupError(sid)
        return store[sid]

    seen: set = set()
    # stage 1 recurs (a later job reused it); 4 never ran at all
    totals = layers.sum_stages([1, 2, 1, 3, 4], lookup, seen)
    assert totals["stages"] == 2
    assert totals["tasks"] == 6
    m = layers.stage_metrics(totals)
    assert m["spark.run_s"] == 1.5
    assert m["spark.cpu_s"] == 2.0
    assert m["spark.gc_s"] == 0.25
    assert m["spark.shuffle_write_mb"] == 1.0
    assert m["spark.input_mb"] == 3.0
    # a later pass listing the same stages adds nothing
    again = layers.sum_stages([1, 2, 3, 4], lookup, seen)
    assert again["stages"] == 0 and again["run_ms"] == 0


# ----------------------------------------------------------- metric names


def test_metric_names_and_units_are_valid_and_match_the_declaration():
    decl = _declared()
    for section, units in (
        ("end_to_end", run.END_TO_END_UNITS),
        ("per_layer", run.PER_LAYER_UNITS),
    ):
        declared = {m["name"]: m["unit"] for m in decl[section]}
        assert declared == units, section
        for name, unit in units.items():
            assert NAME.fullmatch(name), name
            assert UNIT.fullmatch(unit), unit
    assert [w["name"] for w in decl["workloads"]] == list(run.WORKLOADS)
    setup = next(m for m in decl["end_to_end"] if m["name"] == "setup_s")
    assert setup["bound"] == max(m["bound"] for m in decl["end_to_end"])


# ----------------------------------------------------------- result line


def _pass(wall, start, traced=False, failed=()):
    p = run.Pass(traced, start)
    p.wall = wall
    p.per_query = {"q": wall}
    p.failed = list(failed)
    p.layers = {k: 1.0 for k in run.PER_LAYER_UNITS}
    return p


@pytest.mark.parametrize("trace", [False, True])
def test_result_carries_every_named_metric_with_its_unit(trace):
    passes = [_pass(2.0 + i / 10, float(i), traced=trace and i % 2 == 1) for i in range(8)]
    setup = {"session.start_s": 5.0, "plans.load_s": 0.2, "sources.preflight_s": 0.01}
    res = run.summarize(_pass(9.0, 0.0), passes, 1.5, 3, trace, setup, 20.0, 100.0)
    units = run.PER_LAYER_UNITS if trace else run.END_TO_END_UNITS
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["metrics"] == {
        k: {"value": res["metrics"][k]["value"], "unit": u} for k, u in units.items()
    }
    assert all(isinstance(m["value"], float) for m in res["metrics"].values())
    assert res["attempted"] == 3 * 9 and res["failed"] == 0 and res["correct"]
    json.dumps(res, allow_nan=False)


# ------------------------------------------------------- failed operations


class _Frame:
    def __init__(self, rows):
        self._rows = rows

    def collect(self):
        return list(self._rows)


def _runner(fns):
    specs = {q: SimpleNamespace(fn=fn, oracle=None) for q, fn in fns.items()}
    return run.Runner(None, specs, lambda: 0, list(fns))


def test_failed_query_counts_in_ops_failed_and_never_in_pass_s():
    def boom(spark, sf_dir):
        raise RuntimeError("plan failed")

    slow_rows = [(1, "a"), (2, "b")]
    r = _runner({"q_ok": lambda s, d: _Frame(slow_rows), "q_bad": boom})
    cold = r.run_pass(False, 0.0, check=lambda q, df: (True, ""))
    assert [q for q, _ in cold.failed] == ["q_bad"]
    assert "q_bad" not in cold.per_query
    passes = [r.run_pass(False, float(i)) for i in range(1, 5)]
    # no cold-pass result for q_bad: every later run of it fails too
    assert all([q for q, _ in p.failed] == ["q_bad"] for p in passes)
    res = run.summarize(cold, passes, 0.5, 2, False, {}, 10.0, 100.0)
    assert res["failed"] == 5 and res["attempted"] == 10 and not res["correct"]
    assert res["metrics"]["pass_s"]["value"] is None
    assert res["metrics"]["setup_s"]["value"] is None


def test_result_that_changes_after_the_cold_pass_is_a_failed_op():
    results = iter([[(1,), (2,)], [(2,), (1,)], [(1,), (3,)]])
    r = _runner({"q": lambda s, d: _Frame(next(results))})
    cold = r.run_pass(False, 0.0, check=lambda q, df: (True, ""))
    same_rows_other_order = r.run_pass(False, 1.0)
    changed = r.run_pass(False, 2.0)
    assert not cold.failed and not same_rows_other_order.failed
    assert [q for q, _ in changed.failed] == ["q"]


def test_oracle_mismatch_in_the_cold_pass_is_a_failed_op():
    r = _runner({"q": lambda s, d: _Frame([(1,)])})
    cold = r.run_pass(False, 0.0, check=lambda q, df: (False, "row count differs"))
    assert cold.failed and "DuckDB" in cold.failed[0][1]


def test_pass_s_uses_only_clean_steady_untraced_passes():
    passes = [
        _pass(9.0, 0.0),  # settling
        _pass(4.0, 2.0),
        _pass(1.0, 3.0, failed=[("q", "x")]),  # fast because a query failed
        _pass(5.0, 4.0),
        _pass(6.0, 5.0),
    ]
    res = run.summarize(_pass(9.0, 0.0), passes, 1.0, 1, False, {}, 10.0, 100.0)
    assert res["metrics"]["pass_s"]["value"] == 5.0
    assert res["failed"] == 1
