"""Connected-components scale probe: 1M nodes, adversarial path graph.

``connected_components`` (per-task union-find contraction, then
large-/small-star rounds) claims a round count INDEPENDENT of graph
diameter — the property that matters at crawl scale, where chained
near-duplicates (mirror A ~ B ~ C ~ ...) can form paths a propagation
algorithm would need diameter rounds to collapse. This probe builds the
long-chain worst case — ONE path of ``n`` nodes (diameter n-1) — plus a
realistic mix of small dense clusters, and records rounds, wall time,
and nodes/sec. Pass criterion printed alongside: rounds <= 2 * log2(n).
Up to ``_CC_TASK_EDGES`` (2^21) edges a graph contracts in one task
whose union-find already yields the components, so the default 1M-node
shapes report 0 rounds; pass ``n_nodes`` above 2^21 to exercise the
star rounds.

Edges are generated ON EXECUTORS (a path graph is (i, i+1) per id — one
spark.range projection, no driver materialization), so the probe shape
is the 100 TB shape: nothing scales with n on the driver.

Usage: python tools/cc_scale_probe.py [n_nodes]   (default 1_000_000)
"""

from __future__ import annotations

import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

N = int(sys.argv[1]) if len(sys.argv) > 1 else 1_000_000


def main() -> None:
    from pyspark.sql import functions as F

    from mindb_spark.operators.dedup import connected_components
    from mindb_spark.session import get_spark

    spark = get_spark("cc-scale-probe")
    spark.sparkContext.setLogLevel("ERROR")

    # long-chain worst case: one path 0-1-2-...-(N-1)
    path_edges = (
        spark.range(N - 1)
        .select(F.col("id").alias("id_a"), (F.col("id") + 1).alias("id_b"))
    )
    t0 = time.time()
    stats: dict = {}
    comp = connected_components(path_edges, max_iter=64, stats=stats)
    agg = comp.agg(
        F.count("*").alias("n"),
        F.countDistinct("component").alias("n_comp"),
        F.max("component").alias("cmax"),
    ).first()
    dt = time.time() - t0
    bound = 2 * math.log2(N)
    print(
        f"path graph n={N}: {stats['rounds']} rounds "
        f"(bound 2*log2(n) = {bound:.1f}) in {dt:.1f}s "
        f"= {N / dt:,.0f} nodes/s", flush=True,
    )
    assert agg["n_comp"] == 1 and agg["cmax"] == 0, agg
    assert agg["n"] == N, agg
    assert stats["rounds"] <= bound, (stats, bound)
    print("single component, component = min reachable id verified", flush=True)

    # realistic mix: N nodes in dense clusters of 10 (near-dup shape)
    clus_edges = (
        spark.range(N)
        .select(
            F.col("id").alias("id_a"),
            ((F.col("id") / 10).cast("long") * 10).alias("id_b"),
        )
        .where(F.col("id_a") != F.col("id_b"))
    )
    t0 = time.time()
    stats2: dict = {}
    comp2 = connected_components(clus_edges, max_iter=64, stats=stats2)
    n_comp2 = comp2.agg(F.countDistinct("component")).first()[0]
    dt2 = time.time() - t0
    print(
        f"clustered graph n={N} (10/cluster): {stats2['rounds']} rounds "
        f"in {dt2:.1f}s = {N / dt2:,.0f} nodes/s, {n_comp2} components",
        flush=True,
    )
    assert n_comp2 == N // 10, n_comp2


if __name__ == "__main__":
    main()
