"""Bench final-line length guard (VERDICT r10 items 2 + 8).

The driver records only the last ~2 KB of bench stdout and structurally
parses the FINAL JSON line. BENCH_r10.json came back ``parsed: null``
because the r10 line (per-run spreads inlined) outgrew that window and
lost its opening brace to the tail cut. bench.py now emits the spreads
as a preceding detail line + sidecar and keeps the final line compact;
this guard pins the compact line under the driver's window even at
worst-case value widths so the regression cannot recur silently.
"""

from __future__ import annotations

import importlib.util
import json
import sys
from pathlib import Path

_spec = importlib.util.spec_from_file_location(
    "bench", Path(__file__).resolve().parent.parent / "bench.py"
)
bench = importlib.util.module_from_spec(_spec)
sys.modules["bench"] = bench
_spec.loader.exec_module(bench)  # type: ignore[arg-type]


def test_summary_line_fits_driver_tail():
    # Worst case the protocol can produce: every headline query at a
    # 4-decimal timing with a 4-digit integer part (9999.9999 s — far
    # beyond any gate), full-width load triples, all queries present.
    timings = {name: 9999.9999 for name in bench.HEADLINE}
    summary = bench.build_summary(
        timings, sf=0.1,
        load_before=(99.99, 99.99, 99.99),
        load_after=(99.99, 99.99, 99.99),
        cpus=9999,
    )
    line = json.dumps(summary)
    # Leave ≥10% headroom under the measured window (~2000 B from
    # BENCH_r10's tail field) for a trailing newline and driver slack.
    assert len(line) <= bench.DRIVER_TAIL_BYTES - 200, (
        f"bench summary line is {len(line)} B — within {bench.DRIVER_TAIL_BYTES} B "
        "of the driver's tail capture; move detail off the final line"
    )


def test_summary_carries_load_stamps_and_mins():
    timings = {"q_x": 1.2345}
    s = bench.build_summary(timings, 0.1, (1.0, 2.0, 3.0), (1.5, 2.5, 3.5))
    assert s["queries"] == timings
    assert s["value"] == 1.2345
    assert s["loadavg_before"] == (1.0, 2.0, 3.0)
    assert s["loadavg_after"] == (1.5, 2.5, 3.5)
    assert "runs" not in s, "per-run spreads must stay OFF the final line"


def test_summary_records_jvm_recycle_mode():
    s = bench.build_summary({"q_x": 1.0}, 0.1, (0,) * 3, (0,) * 3,
                            jvm_recycle=9)
    assert s["jvm_recycle"] == 9


def test_segments_partition_headline_exactly():
    """JVM-recycle chunking must cover every headline query exactly
    once, in order, for any segment size — a dropped or duplicated
    query would silently corrupt the recorded headline total."""
    names = list(bench.HEADLINE)
    for size in (0, 1, 5, 9, len(names), len(names) + 7):
        segs = bench.segments(names, size)
        flat = [n for seg in segs for n in seg]
        assert flat == names, size
        if size > 0:
            assert all(len(seg) <= size for seg in segs)
