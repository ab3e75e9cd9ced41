"""AST guard: every collect_list bucket site must declare its bound
(VERDICT r7 item 6 — the companion of tests/test_window_guard.py).

``groupBy(key).agg(collect_list(...))`` concentrates one key's whole
collision set into a single task. When the downstream consumer then
generates PAIRS inside the bucket (the dedup ladder's bucket form),
an uncapped hot key — a boilerplate band signature or fingerprint
shared by 10^6 documents — turns into a 10^12-pair explosion in ONE
task. Every collect_list site in the operators package must appear in
the allowlist below, naming the argument for why its bucket cannot
blow up: an explicit cap filter (the r8 stop-bucket lever, pinned
in-plan by tests/test_plans.py), a structurally bounded group, or a
linear (non-pair-generating) consumer. A new site fails this test
loudly; a removed one turns its row stale and fails too.
"""

from __future__ import annotations

import ast
import pathlib

OPS = pathlib.Path(__file__).parent.parent / "sd2_drp_experimentgen_spark"

# (module, enclosing function) -> boundedness argument.
ALLOWED: dict[tuple[str, str], str] = {
    ("llmtext.py", "_band_buckets"):
        "pair generation (_band_candidates) consumes only buckets with "
        "size(ids) <= LSH_BUCKET_CAP — cap pinned in-plan by "
        "test_lsh_refine_bucket_form_no_band_self_join; the audit "
        "branch reduces buckets to one count, no pair explosion",
    ("llmtext.py", "_winnow_buckets"):
        "stop-fingerprint cap: the sole pair-generating consumer "
        "(q_dedup_winnow_pairs) filters to size(ids) <= "
        "WINNOW_STOP_FP_CAP — cap pinned in-plan by "
        "test_winnow_pairs_bucket_form_no_fingerprint_self_join; "
        "dropped buckets counted into the audited n_stop_fps column "
        "(_winnow_stop_audit, also the cap study's dedicated read)",
    ("vectors.py", "_embedding_blocks"):
        "block count B = max(N_BLOCKS, ceil(n/TARGET_BLOCK_ROWS)) and "
        "block = pmod(xxhash64(vec_id), B): unique keys hash-uniform, "
        "expected bucket ~TARGET_BLOCK_ROWS at any n — no hot key is "
        "possible because vec_id is unique, unlike content signatures",
    ("vectors.py", "_range_blocks"):
        "same unique-key hash sub-blocking as _embedding_blocks "
        "(n_sb = ceil(n_label/SUB_BLOCK_ROWS)) — bounded in "
        "expectation, hot keys impossible on unique vec_ids",
    ("vectors.py", "q_emb_silhouette"):
        "collects (dim, s) per cluster: bucket = |dims| rows (fixed "
        "embedding dimensionality), independent of corpus size",
    ("vectors.py", "q_emb_outlier_distance"):
        "collects (dim, s) per label: bucket = |dims| rows (fixed "
        "embedding dimensionality), independent of corpus size",
    ("scans.py", "q_sink_json_spec"):
        "collects lineitems per order: TPC-H bounds lines-per-order "
        "at 7 — constant bucket; linear consumer (JSON struct)",
    ("scans.py", "q_source_csv_malformed"):
        "collects parsed ids per parse-status kind over the query's "
        "own constant-size malformed-CSV scratch fixture (2 groups); "
        "linear consumer (concat_ws)",
    ("scalars.py", "q_nested_collect_inline"):
        "collects lineitems per l_orderkey: TPC-H bounds "
        "lines-per-order at 7 — constant bucket; linear consumer "
        "(inline re-flatten)",
    ("graph.py", "triangle_counts"):
        "collects each node's out-list for the triangle intersection "
        "kernel — built ONLY after the count-only gate "
        "(triangle_work_ratio) has picked the order: id order only "
        "while Σ out(v)² <= c·|E|, so no list exceeds √(c·|E|); "
        "otherwise the (degree, id) order, where no list exceeds "
        "√(2|E|)",
}


def _collect_list_sites() -> set[tuple[str, str]]:
    sites: set[tuple[str, str]] = set()
    for path in sorted((OPS / "operators").glob("*.py")):
        tree = ast.parse(path.read_text())

        def walk(node: ast.AST, stack: list[str]) -> None:
            for child in ast.iter_child_nodes(node):
                s = stack
                if isinstance(
                    child, (ast.FunctionDef, ast.AsyncFunctionDef)
                ):
                    s = stack + [child.name]
                if (
                    isinstance(child, ast.Attribute)
                    and child.attr == "collect_list"
                ):
                    sites.add(
                        (path.name, stack[-1] if stack else "<module>")
                    )
                walk(child, s)

        walk(tree, [])
    return sites


def test_every_collect_list_site_declares_its_bound():
    sites = _collect_list_sites()
    undeclared = sites - set(ALLOWED)
    assert not undeclared, (
        f"collect_list sites without a boundedness argument: "
        f"{sorted(undeclared)} — add a cap (LSH_BUCKET_CAP pattern) or "
        "an ALLOWED row explaining why the bucket cannot blow up"
    )
    stale = set(ALLOWED) - sites
    assert not stale, (
        f"stale ALLOWED rows (site no longer exists): {sorted(stale)}"
    )
