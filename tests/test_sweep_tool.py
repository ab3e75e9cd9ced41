"""The registry sweep fails loudly: an errored query is listed apart from
the timings (it can never rank as fastest), and an errored query or a
tripped hotspot cap makes the run exit non-zero."""

from __future__ import annotations

import importlib.util
import json
import sys
from pathlib import Path

import pytest

_spec = importlib.util.spec_from_file_location(
    "r15_sweep_timing",
    Path(__file__).resolve().parent.parent / "tools" / "r15_sweep_timing.py",
)
sweep = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(sweep)  # type: ignore[union-attr]


def _fake_segments(monkeypatch, payload):
    class Done:
        returncode = 0
        stdout = json.dumps(payload) + "\n"
        stderr = ""

    monkeypatch.setattr(sweep.subprocess, "run", lambda *a, **k: Done())


@pytest.mark.parametrize(
    "payload",
    [
        {"runs": {"q_a": [0.1, 0.1]}, "errors": {"q_b": "KeyError: 'q_b'"}},
        # best runs 4.0 (cap 2.0) and 1.0 (cap 3.0): only the first trips
        {"runs": {"q_udf_cogrouped": [5.0, 4.0], "q_text_span_dup": [9.0, 1.0]},
         "errors": {}},
    ],
    ids=["errored", "tripwire"],
)
def test_sweep_exits_nonzero(monkeypatch, tmp_path, capsys, payload):
    _fake_segments(monkeypatch, payload)
    out = tmp_path / "sweep.json"
    monkeypatch.setattr(sys, "argv", ["sweep", "--out", str(out), "q_a", "q_b"])
    with pytest.raises(SystemExit) as exc:
        sweep.main()
    assert exc.value.code == 1
    saved = json.loads(out.read_text())
    assert saved["runs"] == payload["runs"]
    assert saved["errors"] == payload["errors"]
    assert all(min(r) >= 0 for r in saved["runs"].values())
    printed = capsys.readouterr().out
    assert ("TRIPWIRE" in printed) == (not payload["errors"])
    if not payload["errors"]:
        assert sweep.tripped(payload["runs"]) == {"q_udf_cogrouped": 4.0}


def test_clean_sweep_exits_zero(monkeypatch, tmp_path):
    _fake_segments(monkeypatch, {"runs": {"q_a": [0.1, 0.2]}, "errors": {}})
    monkeypatch.setattr(
        sys, "argv", ["sweep", "--out", str(tmp_path / "s.json"), "q_a"]
    )
    sweep.main()
