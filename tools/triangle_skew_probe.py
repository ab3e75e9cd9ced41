"""Triangle-order probe: times graph.triangle_counts with each order
forced on skewed synthetic graphs and cross-checks their counts.

graph.triangle_counts intersects per-edge out-lists under an id or a
(degree, id) order, picked by one gate: id order while
Σ |out(v)|² <= c·|E| (graph.TRI_WORK_PER_EDGE). This probe measures
both orders on each rung so the crossover that sets c can be read off.
Each rung builds two mirrored graphs over the same 3-out lattice
(i, i+1), (i, i+2), (i, i+7), which has real triangles:

- ``low-id hub``: node 0 adjacent to 1..H. In id order the hub's whole
  adjacency is one out-list (Σout² grows as H²), the id order's worst
  case.
- ``in-star``: node n-1 adjacent to n-1-H..n-2, the mirror. In id order
  every star edge is a one-element out-list and the hub's list is
  empty, so the gate keeps the id order.

Per graph it prints the gate ratio Σout²/|E|, the order the gate
picks, and for each forced order (c=0: degree; c=inf: id) the best
wall of ``--runs`` warm noop-sink runs and (Σ n_triangles, node count,
Σ doc_id·n_triangles). It exits 1 if the two orders disagree. No RNG
anywhere: the graphs are deterministic.

Run (``--hubs`` takes comma-separated hub degrees, e.g. 0,4096,16384):
    python tools/triangle_skew_probe.py [--n 200000] [--runs 2] [--hubs H,...]
"""

from __future__ import annotations

import argparse
import json
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

from pyspark.sql import DataFrame, functions as F  # noqa: E402

HUB_RUNGS = (0, 1_024, 4_096, 16_384, 65_536)
LATTICE_STEPS = (1, 2, 7)
ORDERS = (("id", float("inf")), ("degree", 0))


def synth_edges(spark, n: int, hub: int, in_star: bool = False) -> DataFrame:
    """(id_lo, id_hi) with id_lo < id_hi: 3-out lattice over n nodes
    plus a hub of degree ``hub``, at node 0 (neighbours 1..hub) or, for
    ``in_star``, at node n-1 (neighbours n-1-hub..n-2). Lattice edges
    overlap the hub's range, so a final distinct dedups."""
    base = spark.range(n).select(F.col("id").alias("id_lo"))
    lattice = (
        base.select(
            "id_lo",
            F.explode(
                F.array(*[F.col("id_lo") + s for s in LATTICE_STEPS])
            ).alias("id_hi"),
        )
        .where(F.col("id_hi") < n)
    )
    if hub <= 0:
        return lattice.distinct()
    h = min(hub, n - 1)
    if in_star:
        hub_edges = spark.range(n - 1 - h, n - 1).select(
            F.col("id").alias("id_lo"),
            F.lit(n - 1).cast("long").alias("id_hi"),
        )
    else:
        hub_edges = spark.range(1, h + 1).select(
            F.lit(0).cast("long").alias("id_lo"), F.col("id").alias("id_hi")
        )
    return lattice.unionAll(hub_edges).distinct()


def summary(counts: DataFrame) -> tuple[int, int, int]:
    """(Σ n_triangles, node count, Σ doc_id·n_triangles)."""
    r = counts.agg(
        F.sum("n_triangles"),
        F.count(F.lit(1)),
        F.sum(F.col("doc_id") * F.col("n_triangles")),
    ).first()
    return tuple(int(v or 0) for v in r)


def probe_graph(e: DataFrame, runs: int) -> dict:
    from sd2_drp_experimentgen_spark.operators.graph import (
        TRI_WORK_PER_EDGE,
        triangle_counts,
        triangle_work_ratio,
    )

    ratio, n_edges = triangle_work_ratio(e)
    row = {
        "edges": n_edges,
        "gate_ratio": round(ratio, 1),
        "gate_picks": "degree" if ratio > TRI_WORK_PER_EDGE else "id",
    }
    for label, c in ORDERS:
        row[f"counts_{label}"] = summary(triangle_counts(e, work_per_edge=c))
        best = float("inf")
        for _ in range(runs):
            t0 = time.perf_counter()
            triangle_counts(e, work_per_edge=c).write.format("noop").mode(
                "overwrite"
            ).save()
            best = min(best, time.perf_counter() - t0)
        row[f"wall_{label}_s"] = round(best, 2)
    return row


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--n", type=int, default=200_000)
    ap.add_argument("--runs", type=int, default=2)
    ap.add_argument(
        "--hubs",
        type=lambda s: tuple(int(x) for x in s.split(",")),
        default=HUB_RUNGS,
        help="comma-separated hub-degree rungs (partial sweeps survive "
        "a wall-clock budget; each graph prints its row immediately)",
    )
    args = ap.parse_args()

    from sd2_drp_experimentgen_spark.session import get_spark

    spark = get_spark(app_name="tri-skew-probe", shuffle_partitions=32)
    out, bad = [], []
    for hub in args.hubs:
        for graph in ("low-id hub", "in-star") if hub else ("lattice",):
            e = synth_edges(spark, args.n, hub, graph == "in-star").persist()
            row = {"graph": graph, "hub_deg": hub, **probe_graph(e, args.runs)}
            e.unpersist()
            if row["counts_id"] != row["counts_degree"]:
                bad.append(row)
            print(json.dumps(row), flush=True)
            out.append(row)
    print(json.dumps({"probe": "triangle_skew", "n": args.n, "rungs": out}))
    if bad:
        print(f"triangle_skew_probe: orders disagree on {len(bad)} graph(s)")
        return 1
    return 0


if __name__ == "__main__":
    sys.exit(main())
