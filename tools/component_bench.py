"""Connected-components algorithms on adversarial deep graphs (r5
verdict ask #4): measure that min-label propagation's round count
grows with component DIAMETER while large-star/small-star stays
~log^2 n, and that dedup_clusters' auto fallback engages correctly at
a scale where propagation is hopeless.

Graph family: pure chains 0-1-2-...-(n-1) — the worst case for label
propagation (diameter = n-1; real near-dup analogue: crawl mirror
cascades A->B->C->... where only adjacent copies are similar). A
chain's ground truth is trivial (every node's cluster_id = 0), so
correctness at any size is a two-number check: 1 distinct cluster id,
n labeled nodes.

Measurements per cell (fresh subprocess-free, single session — the
graphs are synthetic ranges, no fixture I/O to contaminate):

- dedup_clusters (label propagation) on chains of diameter 1e2 / 3e2
  with a budget above the diameter: converges, rounds ~
  diameter/2 (labels move one hop per round from BOTH ends' minima
  ... strictly: min label 0 travels one hop per round, so rounds =
  diameter; recorded, not assumed).
- two_phase_components on the same chains AND on a 1M-node chain:
  rounds stay ~log^2 n, wall seconds recorded.
- dedup_clusters on the 1M chain with default max_iter=25: label propagation
  exhausts its budget, falls back (LAST_CLUSTER_STATS.fell_back), and
  the result is STILL exactly correct.

Usage: python tools/component_bench.py [--json COMPONENT_BENCH.json]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from etl_notifier_pipeline_spark.extensions import dedup as D  # noqa: E402
from etl_notifier_pipeline_spark.session import get_spark  # noqa: E402


def chain_edges(spark, n: int):
    """Edges of the path graph 0-1-...-(n-1) as (doc_a, doc_b)."""
    return spark.range(n - 1).select(
        F.col("id").alias("doc_a"), (F.col("id") + 1).alias("doc_b")
    )


def run_cell(spark, n: int, components, max_iter: int) -> dict:
    edges = chain_edges(spark, n)
    D.LAST_CLUSTER_STATS.clear()
    t0 = time.perf_counter()
    labels = components(edges, max_iter=max_iter)
    agg = labels.agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("cluster_id").alias("n_clusters"),
        F.min("cluster_id").alias("min_label"),
    ).head()
    wall = time.perf_counter() - t0
    stats = dict(D.LAST_CLUSTER_STATS)
    correct = (
        agg["n"] == n and agg["n_clusters"] == 1 and agg["min_label"] == 0
    )
    return {
        "nodes": n,
        "function": components.__name__,
        "algorithm_ran": stats.get("algorithm"),
        "rounds": stats.get("rounds"),
        "fell_back": stats.get("fell_back"),
        "max_iter": max_iter,
        "sec": round(wall, 3),
        "correct": bool(correct),
    }


def main() -> None:
    json_out = None
    if "--json" in sys.argv:
        json_out = sys.argv[sys.argv.index("--json") + 1]
    spark = get_spark("component-bench")
    cells = []
    # label_prop rounds track diameter (given enough budget): the min
    # label travels one hop per round, so a depth-d chain needs ~d
    # rounds — each a fixed-cost join+checkpoint, so wall grows with
    # DIAMETER, not data volume. (Kept to d <= 300: the point is the
    # slope, and 1000 rounds of driver-loop overhead adds nothing.)
    for n in (100, 300):
        cells.append(run_cell(spark, n, D.dedup_clusters, max_iter=n + 2))
    # two_phase rounds stay ~log^2 n across 4 decades
    for n in (100, 1_000, 100_000, 1_000_000):
        cells.append(run_cell(spark, n, D.two_phase_components, max_iter=50))
    # dedup_clusters at the hopeless diameter: budget exhausts, the
    # fallback engages, the result is still exact
    cells.append(run_cell(spark, 1_000_000, D.dedup_clusters, max_iter=25))
    for c in cells:
        print(c, flush=True)
    doc = {"metric": "component_bench", "cells": cells}
    print(json.dumps(doc))
    if json_out:
        with open(json_out, "w") as f:
            json.dump(doc, f, indent=1, sort_keys=True)
        print(f"wrote {json_out}")


if __name__ == "__main__":
    main()
