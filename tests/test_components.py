"""Connected components vs a driver-side union-find oracle."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from pagerank_spark.graph.components import aggregate_messages, connected_components
from pagerank_spark.graph.loop import Pins


def _union_find(edges):
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for s, d in edges:
        rs, rd = find(s), find(d)
        if rs != rd:
            parent[max(rs, rd)] = min(rs, rd)
    # min id per component
    return {n: find(n) for n in list(parent)}


def test_two_components(spark):
    edges = [(1, 2), (2, 3), (3, 1), (10, 11)]
    out = {
        r["node"]: r["component"]
        for r in connected_components(
            spark.createDataFrame(edges, "src LONG, dst LONG")
        ).collect()
    }
    assert out == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}


def test_matches_union_find_on_fixture_graph(spark):
    li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    edges_df = li.select(
        (F.col("l_orderkey") % 512).cast("long").alias("src"),
        ((F.col("l_partkey") % 512) + 1000).cast("long").alias("dst"),
    )
    got = {
        r["node"]: r["component"]
        for r in connected_components(edges_df).collect()
    }
    edges = [(r["src"], r["dst"]) for r in edges_df.collect()]
    want = _union_find(edges)
    # union-find roots are already the min id because unions always point
    # the larger root at the smaller one
    assert got == want


def test_empty_graph_terminates(spark):
    out = connected_components(
        spark.createDataFrame([], "src LONG, dst LONG"), max_iterations=5
    )
    assert out.count() == 0


def test_triangle_count_known_graph(spark):
    from pagerank_spark.graph.components import (
        triangle_count,
        triangles,
        undirected_edges,
    )

    # K4 minus one edge: triangles {1,2,3} and {1,2,4} only.
    edges = [(1, 2), (2, 3), (3, 1), (1, 4), (4, 2), (2, 1), (3, 3)]
    df = spark.createDataFrame(edges, "src LONG, dst LONG")
    out = triangle_count(df).collect()
    assert out[0]["n_triangles"] == 2
    # The shared pieces: the self-loop and the 2->1 duplicate drop out,
    # every edge keeps src < dst, every triangle comes once as a < b < c.
    und = undirected_edges(df)
    assert sorted(map(tuple, und.collect())) == [
        (1, 2), (1, 3), (1, 4), (2, 3), (2, 4)
    ]
    assert sorted(map(tuple, triangles(und).collect())) == [
        (1, 2, 3), (1, 2, 4)
    ]


def test_aggregate_messages_primitive(spark):
    edges = spark.createDataFrame([(1, 2), (1, 3), (2, 3)], "src LONG, dst LONG")
    state = spark.createDataFrame([(1, 10.0), (2, 20.0), (3, 0.0)], "node LONG, w DOUBLE")
    out = {
        r["node"]: r["msg_agg"]
        for r in aggregate_messages(
            edges, state, msg=F.col("w"), agg=F.sum("__msg")
        ).collect()
    }
    assert out == {2: 10.0, 3: 30.0}


def test_shortest_paths_bfs_semantics(spark):
    from pagerank_spark.graph.components import shortest_paths

    # Path 1→2→3→4 with back-edge 4→1 (cycle), separate island 9→10,
    # and node 20 unreachable from the sources.
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 1), (9, 10), (20, 2)],
        "src long, dst long",
    )
    srcs = spark.createDataFrame([(1,), (9,)], "node long")
    out = {
        r["node"]: r["dist"]
        for r in shortest_paths(edges, srcs).collect()
    }
    assert out == {1: 0, 9: 0, 2: 1, 10: 1, 3: 2, 4: 3}


def test_shortest_paths_hop_cap(spark):
    from pagerank_spark.graph.components import shortest_paths

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(6)], "src long, dst long"
    )
    srcs = spark.createDataFrame([(0,)], "node long")
    out = {
        r["node"]: r["dist"]
        for r in shortest_paths(chain, srcs, max_iterations=3).collect()
    }
    assert out == {0: 0, 1: 1, 2: 2, 3: 3}


def _lp_oracle(edges, n_iterations=2):
    """Driver-side synchronous label propagation with the same tie rule."""
    from collections import Counter

    und = {(min(s, d), max(s, d)) for s, d in edges if s != d}
    nbrs: dict[int, list[int]] = {}
    for a, b in und:
        nbrs.setdefault(a, []).append(b)
        nbrs.setdefault(b, []).append(a)
    nodes = {s for s, _ in edges} | {d for _, d in edges}
    labels = {n: n for n in nodes}
    for _ in range(n_iterations):
        new = {}
        for n in nodes:
            if n not in nbrs:
                new[n] = labels[n]
                continue
            c = Counter(labels[m] for m in nbrs[n])
            best = max(c.items(), key=lambda kv: (kv[1], -kv[0]))
            new[n] = best[0]
        labels = new
    return labels


def test_label_propagation_matches_oracle(spark):
    import random

    from pagerank_spark.graph.components import label_propagation

    rng = random.Random(11)
    edges = sorted(
        {(rng.randint(0, 40), rng.randint(0, 40)) for _ in range(120)}
    )
    df = spark.createDataFrame(edges, "src LONG, dst LONG")
    got = {
        r["node"]: r["label"]
        for r in label_propagation(df, n_iterations=2).collect()
    }
    want = _lp_oracle(edges, 2)
    assert got == want


def test_label_propagation_two_cliques(spark):
    # Two triangles joined by nothing: after 2 rounds each clique holds
    # its own min label.
    edges = [(1, 2), (2, 3), (3, 1), (10, 11), (11, 12), (12, 10)]
    from pagerank_spark.graph.components import label_propagation

    df = spark.createDataFrame(edges, "src LONG, dst LONG")
    got = {
        r["node"]: r["label"]
        for r in label_propagation(df, n_iterations=2).collect()
    }
    assert set(got[n] for n in (1, 2, 3)) == {1}
    assert set(got[n] for n in (10, 11, 12)) == {10}


def test_twohop_recommendations_hand_checked(spark):
    # 1->2->3, 1->2->4, 1->3 (already direct): recs for 1 = {4} only.
    # 2->3 and 2->4 are direct; 2's two-hop set via 3/4 is empty.
    from pagerank_spark.graph.components import twohop_recommendations

    edges = [(1, 2), (2, 3), (2, 4), (1, 3)]
    df = spark.createDataFrame(edges, "src LONG, dst LONG")
    got = {
        r["node"]: r["n_recs"] for r in twohop_recommendations(df).collect()
    }
    assert got == {1: 1}


def test_personalized_pagerank_sums_to_one_and_matches_numpy(spark):
    from pagerank_spark.graph.pagerank import personalized_pagerank

    edges = [(1, 2), (2, 3), (3, 1), (1, 3), (4, 1), (3, 5)]
    seeds = [1, 4]
    df = spark.createDataFrame(edges, "src LONG, dst LONG")
    seeds_df = spark.createDataFrame([(s,) for s in seeds], "node LONG")
    got = {
        r["node"]: r["rank"]
        for r in personalized_pagerank(df, seeds_df, iterations=3).collect()
    }

    # Direct driver-side computation of the same fixed-point steps.
    nodes = sorted({s for s, _ in edges} | {d for _, d in edges})
    deg: dict[int, int] = {}
    for s, _ in edges:
        deg[s] = deg.get(s, 0) + 1
    sv = {n: (1.0 / len(seeds) if n in seeds else 0.0) for n in nodes}
    rank = dict(sv)
    beta = 0.85
    for _ in range(3):
        dm = sum(rank[n] for n in nodes if n not in deg)
        new = {n: (1 - beta + beta * dm) * sv[n] for n in nodes}
        for s, d in edges:
            new[d] += beta * rank[s] / deg[s]
        rank = new

    assert sum(got.values()) == pytest.approx(1.0, abs=1e-9)
    for n in nodes:
        assert got[n] == pytest.approx(rank[n], abs=1e-12), n


def test_weighted_sssp_matches_dijkstra(spark):
    import heapq
    import random

    from pagerank_spark.graph.components import weighted_shortest_paths

    rng = random.Random(3)
    edges = sorted(
        {(rng.randint(0, 30), rng.randint(0, 30)) for _ in range(100)}
    )
    weighted = [(s, d, float((s + d) % 7 + 1)) for s, d in edges if s != d]
    seeds = [0, 7]

    df = spark.createDataFrame(weighted, "src LONG, dst LONG, w DOUBLE")
    seeds_df = spark.createDataFrame([(s,) for s in seeds], "node LONG")
    got = {
        r["node"]: r["dist"]
        for r in weighted_shortest_paths(df, seeds_df, max_iterations=50).collect()
    }

    # Driver-side Dijkstra from the seed set.
    adj: dict[int, list[tuple[int, float]]] = {}
    for s, d, w in weighted:
        adj.setdefault(s, []).append((d, w))
    dist = {s: 0.0 for s in seeds}
    heap = [(0.0, s) for s in seeds]
    while heap:
        du, u = heapq.heappop(heap)
        if du > dist.get(u, float("inf")):
            continue
        for v, w in adj.get(u, []):
            nd = du + w
            if nd < dist.get(v, float("inf")):
                dist[v] = nd
                heapq.heappush(heap, (nd, v))
    assert got == dist


def test_weighted_sssp_hop_bound(spark):
    # A cheap long path (3 hops of weight 1) vs an expensive short path
    # (1 hop of weight 10): with max_iterations=1 only the direct edge
    # is reachable; with 3 the cheap path wins.
    from pagerank_spark.graph.components import weighted_shortest_paths

    edges = [(0, 1, 1.0), (1, 2, 1.0), (2, 3, 1.0), (0, 3, 10.0)]
    df = spark.createDataFrame(edges, "src LONG, dst LONG, w DOUBLE")
    seeds = spark.createDataFrame([(0,)], "node LONG")
    one = {
        r["node"]: r["dist"]
        for r in weighted_shortest_paths(df, seeds, max_iterations=1).collect()
    }
    assert one[3] == 10.0
    three = {
        r["node"]: r["dist"]
        for r in weighted_shortest_paths(df, seeds, max_iterations=3).collect()
    }
    assert three[3] == 3.0


def _weighted_pagerank_oracle(rows, beta=0.85, iterations=4):
    # Direct driver-side computation of the same fixed-point steps.
    nodes = sorted({s for s, _, _ in rows} | {d for _, d, _ in rows})
    wsum: dict[int, float] = {}
    for s, _, w in rows:
        wsum[s] = wsum.get(s, 0.0) + w
    rank = dict.fromkeys(nodes, 1.0 / len(nodes))
    for _ in range(iterations):
        dm = sum(rank[n] for n in nodes if n not in wsum)
        new = dict.fromkeys(nodes, (1 - beta + beta * dm) / len(nodes))
        for s, d, w in rows:
            new[d] += beta * rank[s] * w / wsum[s]
        rank = new
    return rank


def test_weighted_pagerank_sums_to_one_and_prefers_heavy_edges(spark):
    from pagerank_spark.graph.pagerank import weighted_pagerank

    # 1 -> 2 (w=9), 1 -> 3 (w=1): node 2 must outrank node 3.
    rows = [(1, 2, 9.0), (1, 3, 1.0), (2, 1, 1.0), (3, 1, 1.0)]
    edges = spark.createDataFrame(rows, "src long, dst long, w double")
    ranks = {r["node"]: r["rank"]
             for r in weighted_pagerank(edges, iterations=4).collect()}
    assert abs(sum(ranks.values()) - 1.0) < 1e-9
    assert ranks[2] > ranks[3]
    # Every node equals the oracle, here and on a graph with a dangling
    # vertex (4), whose mass returns uniformly.
    want = _weighted_pagerank_oracle(rows)
    assert set(ranks) == set(want)
    for n, r in want.items():
        assert ranks[n] == pytest.approx(r, abs=1e-12), n
    rows = [(1, 2, 9.0), (1, 3, 1.0), (2, 1, 1.0), (3, 4, 2.0)]
    edges = spark.createDataFrame(rows, "src long, dst long, w double")
    ranks = {r["node"]: r["rank"]
             for r in weighted_pagerank(edges, iterations=4).collect()}
    want = _weighted_pagerank_oracle(rows)
    assert set(ranks) == set(want)
    for n, r in want.items():
        assert ranks[n] == pytest.approx(r, abs=1e-12), n


def test_local_clustering_triangle_plus_pendant(spark):
    from pagerank_spark.graph.components import local_clustering

    # triangle 1-2-3 plus pendant 3-4: nodes 1,2 fully clustered (1.0),
    # node 3 has deg 3 and one triangle -> 1/3; node 4 deg 1 -> 0.
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (3, 4)], "src long, dst long"
    )
    got = {r["node"]: (r["deg"], r["n_tri"], r["clustering"])
           for r in local_clustering(edges).collect()}
    assert got[1] == (2, 1, 1.0)
    assert got[2] == (2, 1, 1.0)
    assert got[3] == (3, 1, round(1 / 3, 6))
    assert got[4] == (1, 0, 0.0)


def test_scc_cycles_bridge_and_tail(spark):
    """Two 3-cycles joined by a one-way bridge plus a tail node: the
    bridge must NOT merge the cycles, and the tail is a singleton."""
    from pagerank_spark.graph.components import strongly_connected_components

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (4, 5), (5, 6), (6, 4), (3, 4), (6, 7)],
        "src long, dst long",
    )
    got = sorted(
        (r["node"], r["component"])
        for r in strongly_connected_components(edges).collect()
    )
    assert got == [(1, 1), (2, 1), (3, 1), (4, 4), (5, 4), (6, 4), (7, 7)]


def test_scc_chain_needs_many_rounds(spark):
    """A pure directed chain with ids ordered AGAINST the peel (each
    round settles only the residual minimum) — exercises the outer
    peeling loop beyond one round."""
    from pagerank_spark.graph.components import strongly_connected_components

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 6)], "src long, dst long"
    )
    got = sorted(
        (r["node"], r["component"])
        for r in strongly_connected_components(edges).collect()
    )
    assert got == [(i, i) for i in range(1, 7)]


def test_components_adaptive_strategies_agree(spark):
    # neardup_clusters picks driver-side union-find for small pair
    # lists and the distributed min-label loop above the limit; both
    # must produce the identical (node, min-id component) mapping.
    import random

    from pagerank_spark.operators.dedup import _components_adaptive

    rng = random.Random(11)
    edges = [
        (rng.randrange(60), rng.randrange(60)) for _ in range(80)
    ]
    edges = [(a, b) for a, b in edges if a != b]
    df = spark.createDataFrame(edges, "src LONG, dst LONG")
    fast = {
        r["node"]: r["component"]
        for r in _components_adaptive(df).collect()
    }
    dist = {
        r["node"]: r["component"]
        for r in _components_adaptive(df, driver_pairs_limit=0).collect()
    }
    assert fast == dist
    assert fast == _union_find(edges)


def test_label_propagation_string_ids(spark):
    # String node ids must keep the smallest-LABEL tie break (the
    # min_by struct negates only the numeric count, never the label —
    # a numeric-negation tie break would silently null string labels).
    from pagerank_spark.graph.components import label_propagation

    edges = [("a", "b"), ("b", "c"), ("c", "a")]
    df = spark.createDataFrame(edges, "src STRING, dst STRING")
    got = {
        r["node"]: r["label"]
        for r in label_propagation(df, n_iterations=2).collect()
    }
    # Triangle, hand-walked: round 1 every node sees two distinct
    # neighbor labels (count 1 each), tie -> lexicographically smallest
    # ("a"->"b", "b"->"a", "c"->"a"); round 2 converges to "a" for all.
    assert got == {"a": "a", "b": "a", "c": "a"}


def test_graph_apis_tune_false_same_result(spark, monkeypatch):
    # The graph loops leave the caller's session as it is, during the
    # call (read from every round) and after it, and give the same
    # result on a session without the clone bridge, which runs them
    # untuned.
    from pagerank_spark.graph import loop as loop_module
    from pagerank_spark.graph.components import (
        connected_components,
        label_propagation,
        shortest_paths,
    )

    def confs():
        return (
            spark.conf.get("spark.sql.shuffle.partitions"),
            spark.conf.get("spark.sql.adaptive.enabled"),
        )

    before, seen = confs(), []
    for name in ("advance", "truncate"):
        hook = getattr(loop_module.VertexLoop, name)

        def recording(self, *args, _hook=hook, **kwargs):
            seen.append(confs())
            return _hook(self, *args, **kwargs)

        monkeypatch.setattr(loop_module.VertexLoop, name, recording)

    edges = [(1, 2), (2, 3), (5, 6), (3, 1)]
    df = spark.createDataFrame(edges, "src LONG, dst LONG")
    cc_t = {r["node"]: r["component"] for r in connected_components(df).collect()}

    lp_f = {
        r["node"]: r["label"]
        for r in label_propagation(df, n_iterations=2).collect()
    }
    assert lp_f == _lp_oracle(edges, 2)

    src = spark.createDataFrame([(1,)], "node LONG")
    sp_f = {r["node"]: r["dist"] for r in shortest_paths(df, src).collect()}
    assert sp_f == {1: 0, 2: 1, 3: 2}

    def no_bridge(*args):
        raise RuntimeError("no clone bridge")

    monkeypatch.setattr(loop_module, "conf_session", no_bridge)
    cc_f = {r["node"]: r["component"] for r in connected_components(df).collect()}
    assert cc_t == cc_f

    assert seen and set(seen) == {before}
    assert confs() == before


def test_star_cc_matches_label_cc(spark):
    from pyspark.sql import functions as F

    from pagerank_spark.graph.components import connected_components

    e = spark.createDataFrame(
        [(1, 2), (2, 3), (5, 6), (7, 7), (8, 6), (10, 11), (11, 12),
         (12, 10)],
        ["src", "dst"],
    )
    lab = {
        (r["node"], r["component"])
        for r in connected_components(e, algorithm="label").collect()
    }
    star = {
        (r["node"], r["component"])
        for r in connected_components(e, algorithm="star").collect()
    }
    assert lab == star
    comps = {}
    for n, c in star:
        comps.setdefault(c, set()).add(n)
    assert comps == {1: {1, 2, 3}, 5: {5, 6, 8}, 7: {7}, 10: {10, 11, 12}}


def test_star_cc_handles_long_chain(spark):
    # A 2000-node path: label propagation needs ~2000 rounds (and now
    # raises at its cap); star contraction converges in O(log^2).
    from pyspark.sql import functions as F

    from pagerank_spark.graph.components import connected_components

    path = spark.range(1, 2000).select(
        (F.col("id") - 1).alias("src"), F.col("id").alias("dst")
    )
    comp = connected_components(path, algorithm="star")
    assert comp.where(F.col("component") != 0).count() == 0
    assert comp.count() == 2000


def test_label_cc_raises_on_nonconvergence(spark):
    import pytest
    from pyspark.sql import functions as F

    from pagerank_spark.graph.components import connected_components

    path = spark.range(1, 50).select(
        (F.col("id") - 1).alias("src"), F.col("id").alias("dst")
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(path, algorithm="label", max_iterations=5)


def test_adamic_adar_hand_graph(spark):
    import math

    from pagerank_spark.graph.components import adamic_adar

    # Path 1-2-3 plus hub 9 connected to 1,3,4: candidates include
    # (1,3) via w=2 (deg 2) and via w=9 (deg 3), (1,4)/(3,4) via w=9.
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (9, 1), (9, 3), (9, 4)], ["src", "dst"]
    )
    got = {(r["u"], r["v"]): r for r in adamic_adar(edges, k=10).collect()}
    s13 = round(1 / math.log(2) + 1 / math.log(3), 6)
    s14 = round(1 / math.log(3), 6)
    assert got[(1, 3)]["score"] == s13 and got[(1, 3)]["n_common"] == 2
    assert got[(1, 4)]["score"] == s14
    assert got[(3, 4)]["score"] == s14
    # Adjacent pairs are excluded.
    assert (1, 2) not in got and (1, 9) not in got
    # Hub cap: with max_degree=2, w=9 (deg 3) stops contributing —
    # (1,4)/(3,4) vanish, (1,3) keeps only its w=2 term, and (2,9)
    # survives via its two deg-2 common neighbors 1 and 3.
    capped = {
        (r["u"], r["v"]): r["score"]
        for r in adamic_adar(edges, k=10, max_degree=2).collect()
    }
    assert capped == {
        (1, 3): round(1 / math.log(2), 6),
        (2, 9): round(2 / math.log(2), 6),
    }


def test_multi_source_bfs_and_harmonic(spark):
    from pagerank_spark.graph.components import (
        harmonic_centrality,
        multi_source_shortest_paths,
    )

    # 1 -> 2 -> 3 -> 4, and 9 -> 4: seeds 1 and 9 see different trees.
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (9, 4)], ["src", "dst"]
    )
    seeds = spark.createDataFrame([(1,), (9,)], ["node"])
    d = {
        (r["seed"], r["node"]): r["dist"]
        for r in multi_source_shortest_paths(edges, seeds).collect()
    }
    assert d[(1, 1)] == 0 and d[(1, 2)] == 1
    assert d[(1, 3)] == 2 and d[(1, 4)] == 3
    assert d[(9, 9)] == 0 and d[(9, 4)] == 1
    assert (9, 2) not in d  # 2 unreachable from 9
    h = {
        r["seed"]: (r["harmonic"], r["n_reached"])
        for r in harmonic_centrality(edges, seeds).collect()
    }
    assert h[1] == (round(1 / 1 + 1 / 2 + 1 / 3, 9), 3)
    assert h[9] == (1.0, 1)


def test_auto_hybrid_falls_back_to_star_on_chains(spark):
    # A 200-node path exceeds the 30-round label budget (propagation
    # distance 199), so auto must restart with star contraction and
    # still produce the exact min-id components (CC_PROBE.json is the
    # at-scale version of this check).
    from pagerank_spark.graph.components import connected_components

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(199)], "src LONG, dst LONG"
    )
    comp = connected_components(chain, max_iterations=60, algorithm="auto")
    rows = comp.collect()
    assert len(rows) == 200
    assert all(r["component"] == 0 for r in rows)
    Pins().release(comp)
    # explicit label with a tight budget must raise on the same graph
    import pytest as _pt

    with _pt.raises(RuntimeError):
        connected_components(chain, max_iterations=10, algorithm="label")


def test_maximal_independent_set_properties(spark):
    from pagerank_spark.graph.components import maximal_independent_set

    # path 1-2-3-4-5, isolated edge 10-11, self loop 7-7 (ignored)
    edges = [(1, 2), (2, 3), (3, 4), (4, 5), (10, 11), (7, 7)]
    df = spark.createDataFrame(edges, "src LONG, dst LONG")
    out = {r["node"]: r["status"] for r in
           maximal_independent_set(df, rounds=3).collect()}
    und = {(a, b) for a, b in edges if a != b}
    und |= {(b, a) for a, b in und}
    participants = {n for e in und for n in e}
    assert set(out) == participants  # every non-self-loop node decided/reported
    inset = {n for n, s in out.items() if s == "in_set"}
    # independence: no edge inside the set
    assert all((a, b) not in und for a in inset for b in inset if a != b)
    # maximality: every dominated node touches the set
    for n, s in out.items():
        if s == "dominated":
            assert any((n, m) in und for m in inset), n
    # 3 rounds fully decide this graph, deterministically
    again = {r["node"]: r["status"] for r in
             maximal_independent_set(df, rounds=3).collect()}
    assert out == again
    assert "undecided" not in out.values()

    import pytest

    with pytest.raises(ValueError):
        maximal_independent_set(df, rounds=0)


def test_ktruss_k4_keeps_clique_drops_pendant(spark):
    from pagerank_spark.graph.components import ktruss

    # K4 on {1,2,3,4} + pendant edge (4,9): every K4 edge sits in 2
    # triangles (support 2 >= k-2), the pendant in none.
    k4 = [(a, b) for a in range(1, 5) for b in range(1, 5) if a < b]
    edges = spark.createDataFrame(k4 + [(4, 9)], "src long, dst long")
    out = sorted(
        (r["src"], r["dst"], r["support"])
        for r in ktruss(edges, k=4, rounds=2).collect()
    )
    assert out == [(a, b, 2) for a, b in k4]


def test_ktruss_triangle_dissolves_at_k4(spark):
    from pagerank_spark.graph.components import ktruss

    # a lone triangle has per-edge support 1 < k-2=2: fully peeled
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3)], "src long, dst long"
    )
    assert ktruss(edges, k=4, rounds=1).count() == 0
    # but survives k=3 (support >= 1)
    out = ktruss(edges, k=3, rounds=2).collect()
    assert sorted((r["src"], r["dst"]) for r in out) == [
        (1, 2), (1, 3), (2, 3)
    ]
    assert all(r["support"] == 1 for r in out)


# ---- betweenness centrality (sampled Brandes) -----------------------


def _brandes_reference(edges, pivots, max_hops=30):
    """Textbook Brandes (BFS, directed, hop-bounded) — the in-test
    oracle for exact comparison on hand graphs."""
    from collections import defaultdict, deque

    adj = defaultdict(list)
    nodes = set()
    for s, d in edges:
        adj[s].append(d)
        nodes.add(s)
        nodes.add(d)
    bet = defaultdict(float)
    for s in pivots:
        # forward BFS with path counting
        dist = {s: 0}
        sigma = {s: 1.0}
        order = [s]
        q = deque([s])
        while q:
            u = q.popleft()
            if dist[u] >= max_hops:
                continue
            for w in adj[u]:
                if w not in dist:
                    dist[w] = dist[u] + 1
                    sigma[w] = 0.0
                    order.append(w)
                    q.append(w)
                if dist[w] == dist[u] + 1:
                    sigma[w] += sigma[u]
        # backward accumulation
        delta = defaultdict(float)
        for w in reversed(order):
            for x in adj[w]:
                if dist.get(x) == dist[w] + 1:
                    delta[w] += sigma[w] / sigma[x] * (1 + delta[x])
            if w != s:
                bet[w] += delta[w]
    return {n: b for n, b in bet.items() if b != 0.0}


def _run_betweenness(spark, edges, pivots, scaled=False, max_iterations=30):
    from pagerank_spark.graph.components import betweenness_centrality

    e = spark.createDataFrame(edges, "src long, dst long")
    s = spark.createDataFrame([(p,) for p in pivots], "node long")
    out = betweenness_centrality(
        e, s, max_iterations=max_iterations, scaled=scaled
    )
    return {r["node"]: r["betweenness"] for r in out.collect()}


def test_betweenness_exact_path_graph(spark):
    # 1->2->3->4, all nodes as pivots (sampling exhaustive, factor 1):
    # pairs (1,3) via 2; (1,4) via 2,3; (2,4) via 3 => b(2)=b(3)=2
    edges = [(1, 2), (2, 3), (3, 4)]
    got = _run_betweenness(spark, edges, [1, 2, 3, 4], scaled=True)
    assert got == {2: 2.0, 3: 2.0}


def test_betweenness_exact_matches_reference_brandes(spark):
    # diamond with tail + a tie: two shortest 1->4 paths split credit
    edges = [
        (1, 2), (1, 3), (2, 4), (3, 4), (4, 5), (5, 6), (2, 5),
    ]
    pivots = [1, 2, 3, 4, 5, 6]
    got = _run_betweenness(spark, edges, pivots)
    want = _brandes_reference(edges, pivots)
    assert set(got) == set(want)
    for n in want:
        assert abs(got[n] - want[n]) < 1e-9, (n, got[n], want[n])


def test_betweenness_sampled_pivots_and_scaling(spark):
    # pivot subset: unscaled equals reference restricted to those
    # pivots; scaled multiplies by |V|/|pivots|
    edges = [
        (1, 2), (2, 3), (3, 4), (4, 5), (1, 6), (6, 4), (2, 6),
        (6, 7), (7, 5),
    ]
    pivots = [1, 3]
    got = _run_betweenness(spark, edges, pivots)
    want = _brandes_reference(edges, pivots)
    assert set(got) == set(want)
    for n in want:
        assert abs(got[n] - want[n]) < 1e-9
    n_vertices = 7
    scaled = _run_betweenness(spark, edges, pivots, scaled=True)
    for n in want:
        assert abs(scaled[n] - want[n] * n_vertices / 2) < 1e-9


def test_betweenness_hop_bound_truncates_both_phases(spark):
    # chain 0->1->2->3->4 with max_iterations=2: only paths of <=2
    # hops exist in the truncated DAG — reference with same bound
    edges = [(0, 1), (1, 2), (2, 3), (3, 4)]
    pivots = [0, 1, 2, 3, 4]
    got = _run_betweenness(spark, edges, pivots, max_iterations=2)
    want = _brandes_reference(edges, pivots, max_hops=2)
    assert set(got) == set(want)
    for n in want:
        assert abs(got[n] - want[n]) < 1e-9


def test_betweenness_empty_and_isolated(spark):
    # seeds with no out-edges reach nothing: empty result, schema holds
    edges = [(1, 2)]
    got = _run_betweenness(spark, edges, [2])
    assert got == {}
