"""Golden + property tests for the PageRank loop (SURVEY.md §5.2)."""

from __future__ import annotations

import os
import random

import pytest
from pyspark.sql import functions as F

from pagerank_spark.graph import compare_teleports, pagerank, top_k
from pagerank_spark.graph.loop import Pins
from pagerank_spark.io import read_edge_list

from tests.conftest import RESOURCES, WIKIDATA
from tests.pandas_oracle import pagerank_oracle


def _edges_df(spark, edges):
    return spark.createDataFrame(edges, "src LONG, dst LONG")


def _ranks_dict(res):
    return {r["node"]: r["rank"] for r in res.ranks.collect()}


def _assert_matches_oracle(spark, edges, beta=0.85):
    got = pagerank(_edges_df(spark, edges), beta=beta)
    want, want_iters = pagerank_oracle(edges, beta=beta)
    got_d = _ranks_dict(got)
    assert set(got_d) == set(want)
    for node, score in want.items():
        assert got_d[node] == pytest.approx(score, abs=1e-9), node
    assert got.iterations == want_iters
    assert sum(got_d.values()) == pytest.approx(1.0, abs=1e-9)
    Pins().release(got.ranks)


class TestGolden:
    """End-to-end vs the reference's published top-100 (README.md:320-421)."""

    @pytest.fixture(scope="class")
    def golden(self):
        path = os.path.join(RESOURCES, "golden_top100.txt")
        rows = [line.split("\t") for line in open(path)]
        return [(int(p), float(s)) for p, s in rows]

    @pytest.fixture(scope="class")
    def result(self, spark):
        edges = read_edge_list(spark, WIKIDATA)
        res = pagerank(edges, beta=0.85, delta=1e-5)
        yield res
        Pins().release(res.ranks)

    def test_top100_order_and_scores(self, result, golden):
        top = top_k(result.ranks, 100).collect()
        assert [r["page"] for r in top] == [p for p, _ in golden]
        for row, (_, score) in zip(top, golden):
            assert row["score"] == pytest.approx(score, abs=1e-9)

    def test_iteration_count(self, result):
        assert result.iterations == 13  # README.md:437

    def test_ranks_sum_to_one(self, result):
        total = result.ranks.agg(F.sum("rank")).collect()[0][0]
        assert total == pytest.approx(1.0, abs=1e-9)

    def test_trajectory_monotone_tail(self, result):
        # L1 decreases after the first few iterations (power method contraction)
        tail = result.l1_trajectory[2:]
        assert all(a > b for a, b in zip(tail, tail[1:]))


class TestProperties:
    def test_cycle_uniform(self, spark):
        n = 10
        edges = [(i, (i + 1) % n) for i in range(n)]
        res = pagerank(_edges_df(spark, edges))
        for node, rank in _ranks_dict(res).items():
            assert rank == pytest.approx(1.0 / n, abs=1e-9)
        Pins().release(res.ranks)

    def test_star_in_center_max(self, spark):
        edges = [(i, 0) for i in range(1, 8)]
        res = pagerank(_edges_df(spark, edges))
        d = _ranks_dict(res)
        assert d[0] == max(d.values())
        assert sum(d.values()) == pytest.approx(1.0, abs=1e-9)
        Pins().release(res.ranks)

    def test_star_in_matches_oracle(self, spark):
        _assert_matches_oracle(spark, [(i, 0) for i in range(1, 8)])

    def test_two_components(self, spark):
        edges = [(1, 2), (2, 1), (10, 11), (11, 12), (12, 10)]
        _assert_matches_oracle(spark, edges)

    def test_dangling_heavy(self, spark):
        # every dst is dangling: exercises renormalization hard
        edges = [(1, 100), (1, 101), (2, 102), (3, 103), (3, 100)]
        _assert_matches_oracle(spark, edges)

    def test_random_graphs_match_oracle(self, spark):
        rng = random.Random(42)
        for trial in range(3):
            n = rng.randint(10, 60)
            edges = sorted(
                {
                    (rng.randint(0, n), rng.randint(0, n))
                    for _ in range(rng.randint(n, 4 * n))
                }
            )
            edges = [(s, d) for s, d in edges if s != d]
            _assert_matches_oracle(spark, edges)

    def test_relabeling_invariance(self, spark):
        edges = [(1, 2), (2, 3), (3, 1), (1, 3), (4, 1)]
        shift = [(s + 1000, d + 1000) for s, d in edges]
        a = _ranks_dict(pagerank(_edges_df(spark, edges)))
        b = _ranks_dict(pagerank(_edges_df(spark, shift)))
        for node, rank in a.items():
            assert b[node + 1000] == pytest.approx(rank, abs=1e-12)

    def test_empty_graph(self, spark):
        res = pagerank(
            spark.createDataFrame([], "src LONG, dst LONG")
        )
        assert res.iterations == 0
        assert res.ranks.count() == 0
        assert res.strategy == "broadcast"

    def test_self_loop_only(self, spark):
        _assert_matches_oracle(spark, [(1, 1), (1, 2)])

    def test_multigraph_semantics_pinned(self, spark):
        # Duplicate edge (1,2)x2 + (1,3). Bag semantics: node 2 receives
        # twice node 3's contribution. Reference semantics (pageRank.py:
        # 102-110): dst sets dedup per src but out-degree counts dups,
        # so 2 and 3 receive equal contributions → equal ranks.
        edges = [(1, 2), (1, 2), (1, 3), (2, 1), (3, 1)]
        bag = _ranks_dict(pagerank(_edges_df(spark, edges)))
        assert bag[2] > bag[3]
        ref = _ranks_dict(
            pagerank(_edges_df(spark, edges), edge_semantics="reference")
        )
        assert ref[2] == pytest.approx(ref[3], abs=1e-12)

    def test_multigraph_reference_mode_matches_oracle(self, spark):
        # The analytic renormalization must account for the partially
        # distributed mass of duplicated sources (dfrac = ddeg/deg):
        # ranks sum to 1 AND the whole trajectory matches a direct
        # reference-algorithm run with deduped dst sets.
        edges = [
            (1, 2), (1, 2), (1, 3), (2, 1), (3, 1),
            (4, 1), (4, 1), (4, 1), (4, 2), (2, 4),
        ]
        got = pagerank(_edges_df(spark, edges), edge_semantics="reference")
        want, want_iters = pagerank_oracle(edges, dedup_dsts=True)
        got_d = _ranks_dict(got)
        assert sum(got_d.values()) == pytest.approx(1.0, abs=1e-9)
        assert got.iterations == want_iters
        for node, score in want.items():
            assert got_d[node] == pytest.approx(score, abs=1e-9), node
        Pins().release(got.ranks)

    def test_reliable_checkpoint_mode(self, spark, tmp_path):
        import os

        ckpt = tmp_path / "ckpt"
        sc = spark.sparkContext
        prior = sc._jsc.sc().checkpointDir()
        sc.setCheckpointDir(str(ckpt))
        try:
            edges = [(1, 2), (2, 3), (3, 1), (1, 3), (4, 1)]
            a = _ranks_dict(
                pagerank(_edges_df(spark, edges), reliable_checkpoint=False)
            )
            b = _ranks_dict(
                pagerank(
                    _edges_df(spark, edges),
                    reliable_checkpoint=True,
                    checkpoint_every=2,
                )
            )
            for node, rank in a.items():
                assert b[node] == pytest.approx(rank, abs=1e-12)

            # "auto" (the default) must pick the fault-tolerant mode when
            # a checkpoint dir is configured: new RDD checkpoint files
            # appear.
            def n_ckpt_files():
                return sum(len(fs) for _, _, fs in os.walk(ckpt))

            before = n_ckpt_files()
            c = _ranks_dict(
                pagerank(_edges_df(spark, edges), checkpoint_every=2)
            )
            assert n_ckpt_files() > before
            for node, rank in a.items():
                assert c[node] == pytest.approx(rank, abs=1e-12)
        finally:
            # A set dir turns "auto" reliable in every later pagerank()
            # of the session: put the prior setting (none) back.
            getattr(sc._jsc.sc(), "checkpointDir_$eq")(prior)

    def test_shuffle_strategy_same_result(self, spark, monkeypatch):
        # Limit 0 pushes the same graph across the one cut: the shuffled
        # state join must give the broadcast join's ranks.
        from pagerank_spark.graph import loop as loop_module

        edges = [(1, 2), (2, 3), (3, 1), (1, 3), (4, 1), (5, 1)]
        a = pagerank(_edges_df(spark, edges))
        monkeypatch.setattr(loop_module, "BROADCAST_STATE_ROW_LIMIT", 0)
        b = pagerank(_edges_df(spark, edges))
        assert (a.strategy, b.strategy) == ("broadcast", "shuffle")
        a_d, b_d = _ranks_dict(a), _ranks_dict(b)
        for node, rank in a_d.items():
            assert b_d[node] == pytest.approx(rank, abs=1e-12)
        Pins().release(a.ranks, b.ranks)


class TestCompareTeleports:
    def test_sweep_shape(self, spark):
        edges = [(1, 2), (2, 3), (3, 1), (1, 3), (4, 1), (5, 4)]
        out = compare_teleports(
            _edges_df(spark, edges), betas=(0.80, 0.85), k=5
        ).collect()
        assert len(out) == 5
        assert out[0]["position"] == 1
        assert {"page_0_8", "page_0_85", "all_match"} <= set(out[0].asDict())


class TestWarmStart:
    def test_warm_start_same_fixed_point_fewer_iterations(self, spark):
        rng = random.Random(5)
        edges = [
            (rng.randrange(200), rng.randrange(200)) for _ in range(800)
        ]
        cold = pagerank(_edges_df(spark, edges))
        # Restarting from the converged vector: first L1 is already under
        # delta, so the loop stops immediately with the same ranks.
        warm = pagerank(_edges_df(spark, edges), init_ranks=cold.ranks)
        assert warm.iterations < cold.iterations
        assert warm.iterations <= 2
        cd, wd = _ranks_dict(cold), _ranks_dict(warm)
        assert set(cd) == set(wd)
        for node in cd:
            assert wd[node] == pytest.approx(cd[node], abs=1e-6)
        Pins().release(cold.ranks)
        Pins().release(warm.ranks)

    def test_warm_start_after_delta_matches_cold(self, spark):
        rng = random.Random(9)
        edges = [
            (rng.randrange(150), rng.randrange(150)) for _ in range(600)
        ]
        prev = pagerank(_edges_df(spark, edges))
        # graph delta: a few new edges, including a brand-new vertex 999
        delta_edges = edges + [(999, 3), (3, 999), (1, 2), (7, 11)]
        cold = pagerank(_edges_df(spark, delta_edges))
        warm = pagerank(_edges_df(spark, delta_edges), init_ranks=prev.ranks)
        assert warm.iterations <= cold.iterations
        cd, wd = _ranks_dict(cold), _ranks_dict(warm)
        assert set(cd) == set(wd)
        total = sum(wd.values())
        assert total == pytest.approx(1.0, abs=1e-9)
        for node in cd:
            assert wd[node] == pytest.approx(cd[node], abs=1e-5)
        Pins().release(prev.ranks)
        Pins().release(cold.ranks)
        Pins().release(warm.ranks)


def _pagerank_run(e):
    res = pagerank(e, delta=0.0, max_iterations=3)
    return res.ranks, res.strategy


def _katz_run(e):
    from pagerank_spark.graph.pagerank import katz_centrality

    return katz_centrality(e, iterations=3, mode="loop"), None


def _hits_run(e):
    from pagerank_spark.graph.pagerank import hits

    return hits(e, iterations=3), None


def _cc_run(e):
    from pagerank_spark.graph.components import connected_components

    return connected_components(e, algorithm="label"), None


@pytest.mark.parametrize(
    "run",
    [_pagerank_run, _katz_run, _hits_run, _cc_run],
    ids=["pagerank", "katz", "hits", "cc"],
)
def test_state_join_plans_follow_the_cut(spark, monkeypatch, run):
    # Every round plans the join ``state_side`` names, on both sides of
    # the one cut (``loop.BROADCAST_STATE_ROW_LIMIT``): below it the
    # state is the broadcast build side and the edge cache never rides
    # a broadcast; at limit 0 the state is a shuffled-hash build side
    # and nothing is hash-broadcast (HITS's one-row normalization
    # scalars still ride a broadcast cross join). Both plans compute
    # the same values.
    from pagerank_spark.graph import loop as loop_module
    from tests.round_plans import record_round_plans

    edges = _edges_df(
        spark,
        [(i, (i * 7 + 3) % 40) for i in range(40)]
        + [(i, (i * 3 + 1) % 40) for i in range(0, 40, 3)]
        + [(50, 51), (51, 52)],
    )
    rounds = record_round_plans(monkeypatch)
    values = {}
    for strategy, limit in (
        ("broadcast", loop_module.BROADCAST_STATE_ROW_LIMIT),
        ("shuffle", 0),
    ):
        monkeypatch.setattr(loop_module, "BROADCAST_STATE_ROW_LIMIT", limit)
        rounds.clear()
        out, reported = run(edges)
        values[strategy] = {r[0]: tuple(r[1:]) for r in out.collect()}
        Pins().release(out)
        assert rounds
        for facts in rounds:
            assert not facts["edge_broadcast"], (strategy, facts)
            if strategy == "broadcast":
                assert "BroadcastHashJoin" in facts["joins"], facts
                assert facts["state_broadcast"], facts
            else:
                assert "ShuffledHashJoin" in facts["joins"], facts
                assert "BroadcastHashJoin" not in facts["joins"], facts
                assert not facts["state_broadcast"], facts
        assert reported in (None, strategy)
    a, b = values["broadcast"], values["shuffle"]
    assert a.keys() == b.keys()
    for node, row in a.items():
        assert b[node] == pytest.approx(row, abs=1e-12), node


def test_auto_strategy_tiers(spark, monkeypatch):
    # One cut on the vertex count: a graph at or below
    # ``BROADCAST_STATE_ROW_LIMIT`` takes the broadcast branch, one
    # vertex above it the shuffle branch, and both agree (9dp).
    from pagerank_spark.graph import loop as loop_module

    edges = [(i, (i * 7) % 50) for i in range(200)]  # 200 vertices
    monkeypatch.setattr(loop_module, "BROADCAST_STATE_ROW_LIMIT", 200)
    res = pagerank(_edges_df(spark, edges), delta=0.0, max_iterations=2)
    assert res.strategy == "broadcast"
    monkeypatch.setattr(loop_module, "BROADCAST_STATE_ROW_LIMIT", 199)
    res2 = pagerank(_edges_df(spark, edges), delta=0.0, max_iterations=2)
    assert res2.strategy == "shuffle"
    a = {r["node"]: round(r["rank"], 9) for r in res.ranks.collect()}
    b = {r["node"]: round(r["rank"], 9) for r in res2.ranks.collect()}
    assert a == b
    Pins().release(res.ranks, res2.ranks)


def test_hits_hand_graph(spark):
    # Star: 1,2,3 all point at 4; 4 points at 5.
    # Authorities concentrate on 4; hubs on 1,2,3.
    from pagerank_spark.graph.pagerank import hits

    e = _edges_df(spark, [(1, 4), (2, 4), (3, 4), (4, 5)])
    res = hits(e, iterations=2)
    out = {r["node"]: r for r in res.collect()}
    Pins().release(res)
    assert len(out) == 5
    import pytest as _pt

    assert sum(r["hub"] for r in out.values()) == _pt.approx(1.0)
    assert sum(r["auth"] for r in out.values()) == _pt.approx(1.0)
    # 4 is the top authority; 1,2,3 are the (equal) top hubs.
    assert out[4]["auth"] == max(r["auth"] for r in out.values())
    assert out[1]["hub"] == out[2]["hub"] == out[3]["hub"]
    assert out[1]["hub"] > out[4]["hub"] > out[5]["hub"]


def test_katz_truncated_series(spark):
    # Chain 1->2->3: x3[3] counts paths of length 0..2 ending at 3
    # (x1 = 1 is the j=0 term, so k rounds cover lengths 0..k-1).
    from pagerank_spark.graph.pagerank import katz_centrality

    e = _edges_df(spark, [(1, 2), (2, 3)])
    a = 0.1
    out = {
        r["node"]: r["katz"]
        for r in katz_centrality(e, alpha=a, iterations=3).collect()
    }
    assert out[1] == 1.0                      # nothing points at 1
    assert out[2] == 1.0 + a                  # one in-path of length 1
    assert out[3] == 1.0 + a * (1.0 + a)      # length-1 and length-2


def test_hits_loop_matches_oracle(spark):
    # The loop against a pure-Python L1-normalized HITS at the same
    # iteration count (the unrolled algebra of q124's SQL twin).
    from pagerank_spark.graph.pagerank import hits

    random.seed(7)
    edges = list({(random.randrange(30), random.randrange(30))
                  for _ in range(80)})
    nodes = {s for s, _ in edges} | {d for _, d in edges}
    hub = dict.fromkeys(nodes, 1.0 / len(nodes))
    for _ in range(3):
        auth = dict.fromkeys(nodes, 0.0)
        for s, d in edges:
            auth[d] += hub[s]
        total = sum(auth.values())
        auth = {v: x / total for v, x in auth.items()}
        hub = dict.fromkeys(nodes, 0.0)
        for s, d in edges:
            hub[s] += auth[d]
        total = sum(hub.values())
        hub = {v: x / total for v, x in hub.items()}
    loop = hits(_edges_df(spark, edges), iterations=3)
    got = {r["node"]: r for r in loop.collect()}
    assert set(got) == nodes
    for node in nodes:
        assert got[node]["hub"] == pytest.approx(hub[node], abs=1e-12)
        assert got[node]["auth"] == pytest.approx(auth[node], abs=1e-12)
    Pins().release(loop)


def test_hits_loop_converges(spark):
    # delta-driven loop reaches the star graph's fixed point: all auth
    # on 4 (only in-edges target), hubs equal on 1,2,3... plus 4->5.
    from pagerank_spark.graph.pagerank import hits

    e = _edges_df(spark, [(1, 4), (2, 4), (3, 4), (4, 5)])
    out = hits(e, delta=1e-12, max_iterations=100)
    got = {r["node"]: r for r in out.collect()}
    assert sum(r["hub"] for r in got.values()) == pytest.approx(1.0)
    assert sum(r["auth"] for r in got.values()) == pytest.approx(1.0)
    assert got[4]["auth"] == max(r["auth"] for r in got.values())
    assert got[1]["hub"] == pytest.approx(got[2]["hub"], abs=1e-12)
    Pins().release(out)


def test_katz_loop_matches_dag_and_converges(spark):
    from pagerank_spark.graph.pagerank import katz_centrality

    random.seed(11)
    edges = list({(random.randrange(25), random.randrange(25))
                  for _ in range(60)})
    e = _edges_df(spark, edges)
    a = 0.05
    dag = {r["node"]: r["katz"]
           for r in katz_centrality(e, alpha=a, iterations=4, mode="dag").collect()}
    loop = katz_centrality(e, alpha=a, iterations=4, mode="loop")
    got = {r["node"]: r["katz"] for r in loop.collect()}
    assert set(got) == set(dag)
    for node in dag:
        assert got[node] == pytest.approx(dag[node], abs=1e-12)
    Pins().release(loop)
    # Convergence mode: the truncated series approaches the closed
    # form on a chain, where the geometric tail vanishes below delta.
    chain = _edges_df(spark, [(1, 2), (2, 3)])
    conv = katz_centrality(chain, alpha=0.1, delta=1e-10)
    vals = {r["node"]: r["katz"] for r in conv.collect()}
    assert vals[3] == pytest.approx(1.0 + 0.1 * (1.0 + 0.1), abs=1e-9)
    Pins().release(conv)


def test_fixed_k_builders_run_no_job(spark):
    # Personalized and weighted PageRank and Katz's DAG mode only build
    # a lazy plan: no Spark job runs until the caller acts on it.
    from pagerank_spark.graph.pagerank import (
        katz_centrality,
        personalized_pagerank,
        weighted_pagerank,
    )

    e = _edges_df(spark, [(1, 2), (2, 3), (3, 1), (3, 4)])
    w = e.withColumn("w", F.lit(1.0))
    seeds = spark.createDataFrame([(1,)], "node LONG")
    sc = spark.sparkContext
    sc.setJobGroup("fixed-k-build", "fixed-k-build")
    try:
        built = [
            personalized_pagerank(e, seeds, iterations=3),
            weighted_pagerank(w, iterations=3),
            katz_centrality(e, iterations=3, mode="dag"),
        ]
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert list(sc.statusTracker().getJobIdsForGroup("fixed-k-build")) == []
    assert [df.count() for df in built] == [4, 4, 4]


def test_hits_katz_validate_iterations(spark):
    from pagerank_spark.graph.pagerank import hits, katz_centrality

    e = _edges_df(spark, [(1, 2)])
    with pytest.raises(ValueError, match="iterations"):
        hits(e, iterations=0)
    with pytest.raises(ValueError, match="iterations"):
        katz_centrality(e, iterations=-1)
    with pytest.raises(ValueError, match="mode"):
        katz_centrality(e, iterations=2, mode="nope")
