#!/usr/bin/env python
"""Iterative-graph scale probe: PageRank wall-clock vs edge count.

The decade suite measures ``link_authority`` end-to-end, but its graph
is capped at 499 nodes by construction — the probe that actually
stresses the ITERATION LOOP needs the edge list itself to grow. This
script synthesizes Zipf-ish directed graphs (power-law out-degree, the
crawl-graph shape, seeded and deterministic) at a small and a 10x
tier, runs fixed-iteration PageRank on both, and reports:

  * per-iteration wall at each tier, from walls that are each the min
    of REPEATS runs (the loop's scaling law: each round is two keyed
    shuffles over the edge list — wall should grow ~linearly in edges,
    NOT in iterations x edges, because the per-round localCheckpoint
    cuts lineage);
  * rank mass (must be 1.0 within float tolerance at every tier — the
    dangling correction holding on a graph with real sinks);
  * the hot-key reality check: max in-degree / median in-degree, so
    the table records that the probe exercised a skewed aggregation,
    not a uniform one.

Usage: python scripts/graph_probe.py [--small-edges N] [--factor K]
Prints one JSON line per tier + a summary line.
"""

from __future__ import annotations

import argparse
import json
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))

import numpy as np


def make_powerlaw_edges(n_edges: int, seed: int = 7) -> "np.ndarray":
    """Deterministic directed edge list with Zipf(1.5) endpoints over a
    node space that scales with the edge count (so 10x edges is a
    genuinely bigger graph, not a denser multigraph that distinct()
    collapses): both endpoints are Zipf draws capped at n_nodes, so a
    few hub nodes concentrate in-AND-out degree — the crawl shape."""
    rng = np.random.default_rng(seed)
    n_nodes = max(1000, n_edges // 8)
    src = np.minimum(rng.zipf(1.5, n_edges), n_nodes).astype(np.int64)
    dst = np.minimum(rng.zipf(1.5, n_edges), n_nodes).astype(np.int64)
    return np.stack([src, dst], axis=1)


#: Timed repeats per wall. Each wall is the min of its repeats, so the
#: marginal per-round figure is the difference of two steady walls, not
#: of two single samples (single samples of the same code spread
#: 0.33-0.91 s at 2M edges).
REPEATS = 3


def _min_wall(edges, k: int) -> tuple[float, float]:
    """Min wall over REPEATS runs of k-round PageRank (rank mass
    collected inside the timer), with the last run's rank mass; each
    run's checkpoints are released when its cache scope closes."""
    from pyspark.sql import functions as F

    from jonesy_spark.caching import cache_scope
    from jonesy_spark.operators.graph import pagerank

    walls = []
    for _ in range(REPEATS):
        with cache_scope():
            t0 = time.time()
            ranks = pagerank(edges, max_iter=k, tol=0.0)
            mass = ranks.agg(F.sum("rank").alias("s")).first()["s"]
            walls.append(time.time() - t0)
    return round(min(walls), 2), float(mass)


def probe_tier(spark, edges_np, iters: int) -> dict:
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from jonesy_spark.caching import cache_scope
    from jonesy_spark.operators.graph import pagerank

    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    # stage through parquet so the edge list is a real distributed scan
    # (createDataFrame ships the rows inside every task at MB scale)
    d = tempfile.mkdtemp(prefix="graph_probe_")
    try:
        pdf = pd.DataFrame(edges_np, columns=["src", "dst"])
        pq.write_table(pa.Table.from_pandas(pdf), f"{d}/edges.parquet")
        edges = spark.read.parquet(f"{d}/edges.parquet").repartition(32)
        n_raw = len(pdf)
        distinct_edges = edges.distinct().count()

        # in-degree skew over distinct edges: the aggregation the loop's
        # dst-keyed groupBy actually faces
        indeg = (
            edges.distinct().groupBy("dst").count().agg(
                F.expr("max(count)").alias("mx"),
                F.expr("percentile_approx(count, 0.5)").alias("med"),
            )
        ).first()

        # one untimed iteration first so codegen/JIT for this plan shape
        # is out of the timed path (the bench.py cold/steady convention)
        with cache_scope():
            pagerank(edges, max_iter=1, tol=0.0)

        w1, _ = _min_wall(edges, 1)
        wk, mass = _min_wall(edges, iters)
        per_iter = round((wk - w1) / max(iters - 1, 1), 2)
        # mass tolerance = the hard bound from per-node 9-digit rounding
        # (each rank is within 5e-10 of its true value), NOT a fixed
        # 1e-6: a 250k-node graph legitimately accumulates ~1e-6 of
        # rounding.
        n_nodes = (
            edges.select("src").union(edges.select("dst")).distinct().count()
        )
    finally:
        shutil.rmtree(d, ignore_errors=True)
    out = {
        "edges_raw": n_raw,
        "edges_distinct": int(distinct_edges),
        "n_nodes": int(n_nodes),
        "max_in_degree": int(indeg["mx"]),
        "median_in_degree": int(indeg["med"]),
        "wall_1_iter_s": w1,
        f"wall_{iters}_iter_s": wk,
        "marginal_per_iteration_s": per_iter,
        "rank_mass": round(mass, 9),
        "mass_within_rounding_bound": abs(mass - 1.0) <= n_nodes * 5e-10,
    }
    print(json.dumps(out), flush=True)
    return out


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--small-edges", type=int, default=200_000)
    ap.add_argument("--factor", type=int, default=10)
    ap.add_argument("--iters", type=int, default=6)
    args = ap.parse_args()

    from jonesy_spark.session import get_spark

    spark = get_spark(app_name="graph_probe")

    small = probe_tier(spark, make_powerlaw_edges(args.small_edges), args.iters)
    big = probe_tier(
        spark, make_powerlaw_edges(args.small_edges * args.factor), args.iters
    )

    ratio_edges = round(big["edges_distinct"] / small["edges_distinct"], 2)
    ratio_iter = round(
        big["marginal_per_iteration_s"]
        / max(small["marginal_per_iteration_s"], 1e-9),
        2,
    )
    print(
        json.dumps(
            {
                "summary": "pagerank per-iteration wall vs edge count",
                "distinct_edge_ratio": ratio_edges,
                "per_iteration_wall_ratio": ratio_iter,
                "mass_ok": small["mass_within_rounding_bound"]
                and big["mass_within_rounding_bound"],
            }
        )
    )


if __name__ == "__main__":
    main()
