#!/usr/bin/env python
"""Scale probe: run the iterative engines on a synthetic graph ~100×
the sf0.1 fixture to exercise the CLUSTER code paths the fixtures are
too small to reach — the co-partitioned PageRank state join against
a forced broadcast (each forced by patching the one state-join cut,
``graph/loop.py`` ``BROADCAST_STATE_ROW_LIMIT``), the non-broadcast
state joins in connected components and HITS (the 2M-row cut is
exceeded naturally), and AQE skew handling under a deliberate hub
vertex.

The graph is deterministic (hash-mixed ids, no RNG): E edges over V
vertices, ~1% of destinations redirected to vertex 0 to create the
hub skew a web graph always has. PageRank runs a fixed 6 iterations
(delta=0) so runtimes compare across rounds.

Prints ONE JSON line and writes SCALE_PROBE.json. Not part of
bench.py: this is a capacity/regression probe for the scale paths,
not a latency headline.
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

EDGES = int(os.environ.get("SPARK_GRAFT_PROBE_EDGES", 10_000_000))
VERTICES = int(os.environ.get("SPARK_GRAFT_PROBE_VERTICES", 3_000_000))


def _pagerank_forced(e, strategy: str):
    """6 fixed PageRank iterations with the state join forced to
    ``strategy`` by patching the one cut, restored afterwards."""
    from pagerank_spark.graph import loop
    from pagerank_spark.graph.pagerank import pagerank

    before = loop.BROADCAST_STATE_ROW_LIMIT
    loop.BROADCAST_STATE_ROW_LIMIT = (
        float("inf") if strategy == "broadcast" else 0
    )
    try:
        res = pagerank(e, delta=0.0, max_iterations=6)
    finally:
        loop.BROADCAST_STATE_ROW_LIMIT = before
    assert res.strategy == strategy, res.strategy
    return res


def main() -> None:
    from pyspark.sql import functions as F

    from pagerank_spark.graph.components import connected_components
    from pagerank_spark.graph.pagerank import top_k
    from pagerank_spark.session import get_spark

    spark = get_spark(app_name="scale-probe")
    spark.sparkContext.setLogLevel("ERROR")

    # Deterministic synthetic graph with REALISTIC (low) diameter —
    # a pure hash-mixed random mapping creates long path components
    # whose min-label propagation distance is thousands of rounds,
    # which no web/social graph has. Topology: a shallow attachment
    # tree (every vertex links to a hash-chosen vertex in the lower
    # half of its id range → depth ≤ log2(V) ≈ 22) guaranteeing one
    # connected component with bounded propagation distance, plus
    # hash-mixed random edges for volume, plus ~1% of edges into
    # vertex 0 for hub skew.
    mix_a, mix_b = 2654435761, 2246822519
    tree = (
        spark.range(1, VERTICES)
        .select(
            F.col("id").alias("src"),
            (F.col("id") * mix_a % F.greatest(
                (F.col("id") / 2).cast("long"), F.lit(1)
            )).alias("dst"),
        )
    )
    rand = (
        spark.range(EDGES - VERTICES + 1)
        .select(
            (F.col("id") * mix_a % VERTICES).alias("src"),
            F.when(
                F.col("id") % 100 == 0, F.lit(0).cast("long")
            ).otherwise((F.col("id") * mix_b + 7) % VERTICES).alias("dst"),
        )
    )
    e = tree.unionByName(rand).persist()
    n_edges = e.count()

    results: dict[str, float] = {}

    # Forced broadcast: above the cut (2M vertices) this is the path
    # the engine would NOT choose — measured here so the crossover
    # stays justified round over round.
    t0 = time.perf_counter()
    res_b = _pagerank_forced(e, "broadcast")
    top_b = top_k(res_b.ranks, 10).collect()
    results["pagerank_broadcast_6it"] = round(time.perf_counter() - t0, 2)
    res_b.ranks.unpersist()

    t0 = time.perf_counter()
    res_s = _pagerank_forced(e, "shuffle")
    top_s = top_k(res_s.ranks, 10).collect()
    results["pagerank_shuffle_6it"] = round(time.perf_counter() - t0, 2)
    res_s.ranks.unpersist()

    # Both strategies must agree on the fixed-iteration result — the
    # probe doubles as a correctness check of the cluster path. 9dp
    # comparison: partial-sum order differs between the plans, so
    # scores agree only to ~1e-11 (same envelope as the golden gate).
    pages_b = [(r["page"], round(r["score"], 9)) for r in top_b]
    pages_s = [(r["page"], round(r["score"], 9)) for r in top_s]
    assert pages_b == pages_s, f"strategy divergence: {pages_b} {pages_s}"
    assert pages_b[0][0] == 0, "hub vertex should rank first"

    # Connected components above the state-join cut (2*E >> 2M): the
    # per-round state joins run co-partitioned, the cluster plan.
    t0 = time.perf_counter()
    comp = connected_components(e, max_iterations=40)
    n_comp = comp.select("component").distinct().count()
    results["connected_components"] = round(time.perf_counter() - t0, 2)
    comp.unpersist()

    # HITS convergence loop ABOVE the small-graph tuning gate
    # (3M vertices >> TINY_VERTEX_LIMIT) and the state-join cut:
    # exercises the loop shape at cluster size — dual pre-partitioned
    # edge caches joined by the co-partitioned state,
    # plan-side broadcast normalization scalars, zero per-round driver
    # actions for fixed k. k=4 keeps the probe bounded; the cost is
    # ~linear in k (every round is the same two join+agg jobs).
    from pagerank_spark.graph.pagerank import hits

    t0 = time.perf_counter()
    hdf = hits(e, iterations=4)
    hdf.write.format("noop").mode("overwrite").save()
    results["hits_loop_4it"] = round(time.perf_counter() - t0, 2)
    hdf.unpersist()

    e.unpersist()
    out = {
        "metric": "scale_probe_total",
        "value": round(sum(results.values()), 2),
        "unit": "sec",
        "edges": n_edges,
        "vertices": VERTICES,
        "n_components": n_comp,
        "timings": results,
    }
    line = json.dumps(out)
    print(line)
    with open(os.path.join(REPO, "SCALE_PROBE.json"), "w") as f:
        f.write(line + "\n")
    spark.stop()


if __name__ == "__main__":
    main()
