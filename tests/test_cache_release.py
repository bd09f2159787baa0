"""Failure-path cache-release regression tests (round 9).

Every iterative operator pins edge/state relations with ``persist`` for
the loop's lifetime. Through round 8 those were released only on the
success path, so ONE failed job pinned a MEMORY_AND_DISK relation for
the session lifetime — fatal for a long-lived query service. The
operators now release in try/finally; these tests lock that in by
driving each loop with a poisoned edge relation (``raise_error`` fires
during the first materializing job, AFTER the setup persists) and
asserting the block store drains back to empty.

The check polls: ``DataFrame.unpersist()`` is non-blocking, so block
removal is asynchronous. It never forces a garbage collection: every
loop's pins belong to a ``graph/loop.py`` owner, which releases them
(checkpoint blocks included) on any exit path.
"""

from __future__ import annotations

import time

import pytest
from pyspark.sql import functions as F


def _storage_entries(spark) -> int:
    return len(spark.sparkContext._jsc.sc().getRDDStorageInfo())


def _assert_drains(spark, baseline: int, timeout: float = 20.0) -> None:
    deadline = time.monotonic() + timeout
    while time.monotonic() < deadline:
        if _storage_entries(spark) <= baseline:
            return
        time.sleep(0.5)
    info = [
        str(x) for x in spark.sparkContext._jsc.sc().getRDDStorageInfo()
    ]
    raise AssertionError(
        f"cached RDDs leaked past the failure path: {info}"
    )


def _poisoned_edges(spark):
    """10 edges; rows with src >= 5 raise when a task evaluates them.

    The poison is in the DATA expression (not a separate assert column
    the optimizer could prune), so every scan of the relation — degree
    agg, vertex union, loop join — detonates mid-job, after the
    operator's setup persists are in place.
    """
    boom = F.raise_error(F.lit("poisoned edge")).cast("long")
    return spark.range(10).select(
        F.col("id").alias("src"),
        F.when(F.col("id") < 5, F.col("id") + 1).otherwise(boom).alias(
            "dst"
        ),
    )


def _loop_confs(spark) -> tuple[str, str]:
    return (
        spark.conf.get("spark.sql.adaptive.enabled"),
        spark.conf.get("spark.sql.shuffle.partitions"),
    )


def _expect_failure_then_drain(spark, fn):
    """The failed call releases its pins AND restores the session's
    loop confs (AQE flag, shuffle partitions)."""
    baseline = _storage_entries(spark)
    confs = _loop_confs(spark)
    with pytest.raises(Exception, match="poisoned edge"):
        fn()
    assert _loop_confs(spark) == confs
    _assert_drains(spark, baseline)


def test_pagerank_releases_on_failure(spark):
    from pagerank_spark.graph.pagerank import pagerank

    _expect_failure_then_drain(
        spark, lambda: pagerank(_poisoned_edges(spark))
    )


def test_hits_releases_on_failure(spark):
    # The HITS loop pins two edge layouts and the vertex set.
    from pagerank_spark.graph.pagerank import hits

    _expect_failure_then_drain(
        spark, lambda: hits(_poisoned_edges(spark), max_iterations=3)
    )


def test_katz_releases_on_failure(spark):
    from pagerank_spark.graph.pagerank import katz_centrality

    _expect_failure_then_drain(
        spark,
        lambda: katz_centrality(
            _poisoned_edges(spark), max_iterations=2, mode="loop"
        ),
    )


def test_connected_components_releases_on_failure(spark):
    from pagerank_spark.graph.components import connected_components

    _expect_failure_then_drain(
        spark, lambda: connected_components(_poisoned_edges(spark))
    )


def test_shortest_paths_releases_on_failure(spark):
    from pagerank_spark.graph.components import shortest_paths

    seeds = spark.range(1).select(F.col("id").alias("node"))
    _expect_failure_then_drain(
        spark,
        lambda: shortest_paths(
            _poisoned_edges(spark), seeds, max_iterations=3
        ).count(),
    )


def test_label_propagation_releases_on_failure(spark):
    from pagerank_spark.graph.components import label_propagation

    _expect_failure_then_drain(
        spark,
        lambda: label_propagation(
            _poisoned_edges(spark), n_iterations=2
        ).count(),
    )


def test_scc_releases_on_failure(spark):
    from pagerank_spark.graph.components import (
        strongly_connected_components,
    )

    _expect_failure_then_drain(
        spark,
        lambda: strongly_connected_components(
            _poisoned_edges(spark)
        ).count(),
    )


def test_cc_releases_on_mid_loop_nonconvergence(spark):
    """MID-LOOP failure coverage: the poisoned-edge tests detonate in
    the SETUP job, before any loop generation is pinned. A long path
    graph with a tiny iteration cap instead raises the non-convergence
    RuntimeError AFTER several rounds, with state generations and the
    edge cache live at raise time — exercising the in-loop tracking
    (generations are appended at persist time, before the
    materializing agg) and the finally sweep together."""
    from pagerank_spark.graph.components import connected_components

    chain = spark.range(40).select(
        F.col("id").alias("src"), (F.col("id") + 1).alias("dst")
    )
    baseline = _storage_entries(spark)
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(chain, max_iterations=3)
    _assert_drains(spark, baseline)


def test_scc_releases_on_mid_loop_nonconvergence(spark):
    # Same shape one level deeper: the min-label fixpoint inside SCC
    # raises mid-peel, and both its generation list and the SCC
    # residual-edge cache must drain.
    from pagerank_spark.graph.components import (
        strongly_connected_components,
    )

    fwd = spark.range(40).select(
        F.col("id").alias("src"), (F.col("id") + 1).alias("dst")
    )
    cycle = fwd.unionByName(
        spark.range(1).select(
            F.lit(40).cast("long").alias("src"),
            F.lit(0).cast("long").alias("dst"),
        )
    )
    baseline = _storage_entries(spark)
    with pytest.raises(RuntimeError, match="fixpoint"):
        strongly_connected_components(
            cycle, max_label_iterations=3
        ).count()
    _assert_drains(spark, baseline)


def test_pagerank_success_path_still_releases(spark):
    """Success path: after releasing the returned ranks, no storage
    residue is left — the loop's owner released every cache AND every
    per-iteration checkpoint's blocks (the run checkpoints each of its
    iterations), and the ranks' release frees the last checkpoint,
    which the ranks' lineage reads."""
    from pagerank_spark.graph.loop import Pins
    from pagerank_spark.graph.pagerank import pagerank

    edges = spark.range(20).select(
        F.col("id").alias("src"),
        F.pmod(F.col("id") * 7 + 3, F.lit(20)).alias("dst"),
    )
    before = _storage_entries(spark)
    res = pagerank(edges, max_iterations=3, delta=0.0)
    assert res.ranks.count() == 20
    Pins().release(res.ranks)
    _assert_drains(spark, before)
    assert _storage_entries(spark) == before


def test_result_releases_on_failed_count(spark):
    # The owner's result(): a failed materializing count must drop the
    # fresh persist mark — the frame is released on exit.
    from pagerank_spark.graph.loop import Pins

    baseline = _storage_entries(spark)
    boom = F.raise_error(F.lit("poisoned edge")).cast("long")
    df = spark.range(10).select(
        F.when(F.col("id") < 5, F.col("id")).otherwise(boom).alias("v")
    )
    with pytest.raises(Exception, match="poisoned edge"):
        with Pins() as pins:
            pins.result(df)
    assert not df.storageLevel.useMemory  # mark dropped synchronously
    _assert_drains(spark, baseline)

    with Pins() as pins:
        ok = pins.result(spark.range(5))
    assert ok.storageLevel.useMemory  # handed to the caller
    Pins().release(ok)
    assert not ok.storageLevel.useMemory


def _persistent_ids(spark) -> set[int]:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keys())


def test_vertex_loop_advance_tracks_and_sweeps(spark):
    """Direct contract test for the shared loop primitive
    (graph/loop.py VertexLoop): non-checkpoint rounds persist BEFORE
    the materializing aggregation; checkpoint rounds release every
    earlier generation — caches AND checkpoint blocks — and return
    the metrics row; exit releases the rest."""
    from pagerank_spark.graph.loop import VertexLoop

    df = spark.range(10).select(F.col("id").alias("node"),
                                F.lit(1.0).alias("x"))
    base = _persistent_ids(spark)
    with VertexLoop(checkpoint_every=2) as loop:
        # round 1: not a checkpoint round -> persisted
        s1, row1 = loop.advance(df, metrics={"n": F.count("*")})
        assert row1["n"] == 10
        assert s1.storageLevel.useMemory  # actually persisted

        # round 2: checkpoint round -> earlier generation swept,
        # metrics still returned
        s2, row2 = loop.advance(s1.select("node", "x"),
                                metrics={"n": F.count("*")})
        assert row2["n"] == 10
        assert not s1.storageLevel.useMemory  # swept
        # the checkpointed state is plan-truncated to a LogicalRDD scan
        plan = s2._jdf.queryExecution().optimizedPlan().toString()
        assert "LogicalRDD" in plan
        assert len(_persistent_ids(spark) - base) == 1  # s2's blocks

        # rounds 3-4: the next checkpoint frees s2's blocks too
        s3, _ = loop.advance(s2.select("node", "x"),
                             metrics={"n": F.count("*")})
        s4, _ = loop.advance(s3.select("node", "x"),
                             metrics={"n": F.count("*")})
        assert not s3.storageLevel.useMemory
        assert len(_persistent_ids(spark) - base) == 1  # s4's blocks
    assert _persistent_ids(spark) - base == set()  # exit releases s4

    # metrics=None on a checkpoint round must checkpoint EAGERLY (the
    # sweep would otherwise release caches a lazy checkpoint still
    # needs) and return row=None
    with VertexLoop(checkpoint_every=1) as loop2:
        s5, row5 = loop2.advance(df)
        assert row5 is None
        plan = s5._jdf.queryExecution().optimizedPlan().toString()
        assert "LogicalRDD" in plan
        assert s5.count() == 10


def test_vertex_loop_persist_defer_flush(spark):
    """The frontier-loop half of the primitive: persist() pins a
    generation before any action; defer() holds superseded
    generations until flush(), keeping only the named live ones;
    hold() pins for the whole scope."""
    from pagerank_spark.graph.loop import VertexLoop

    with VertexLoop() as loop:
        e = loop.hold(spark.range(7).select(F.col("id").alias("node")))
        a = loop.persist(spark.range(5).select(F.col("id").alias("node")))
        b = loop.persist(spark.range(3).select(F.col("id").alias("node")))
        e.count(), a.count(), b.count()
        assert a.storageLevel.useMemory and b.storageLevel.useMemory

        loop.defer(b)
        assert a.storageLevel.useMemory  # deferred, not yet released

        loop.flush()
        assert not a.storageLevel.useMemory
        assert b.storageLevel.useMemory  # the kept frontier survives

        loop.sweep()
        assert not b.storageLevel.useMemory
        assert e.storageLevel.useMemory  # held for the scope
    assert not e.storageLevel.useMemory


def test_release_checkpoint_drops_blocks(spark):
    """The owner's release frees a localCheckpoint's storage blocks —
    for a plain checkpointed frame and for a
    checkpoint_reset_stats-wrapped one (whose fresh LogicalRDD hides
    the persisted RDD) — instead of waiting for Python+JVM GC."""
    from pagerank_spark.graph.loop import Pins, checkpoint_reset_stats

    base = _persistent_ids(spark)
    plain = spark.range(100).selectExpr("id", "id * 2 AS v")
    ck = plain.localCheckpoint(eager=True)
    assert _persistent_ids(spark) - base  # the checkpoint pinned blocks
    Pins().release(ck)
    assert _persistent_ids(spark) == base

    wrapped = checkpoint_reset_stats(
        spark.range(50).selectExpr("id", "id + 1 AS v")
    )
    assert wrapped.count() == 50
    assert _persistent_ids(spark) - base
    Pins().release(wrapped)
    assert _persistent_ids(spark) == base

    # non-checkpointed frames are a safe no-op
    Pins().release(spark.range(3))


def _ring_graph(spark):
    """60 vertices, two out-edges each: a ring plus a stride-7 chord."""
    ring = spark.range(60).select(
        F.col("id").alias("src"),
        F.pmod(F.col("id") + 1, F.lit(60)).alias("dst"),
    )
    chord = spark.range(60).select(
        F.col("id").alias("src"),
        F.pmod(F.col("id") * 7 + 3, F.lit(60)).alias("dst"),
    )
    return chord.unionByName(ring)


def _seeds(spark):
    return spark.range(3).select(F.col("id").alias("node"))


def _op(name):
    from pagerank_spark.graph.components import (
        betweenness_centrality,
        connected_components,
        shortest_paths,
        strongly_connected_components,
    )
    from pagerank_spark.graph.pagerank import hits, katz_centrality, pagerank
    from pagerank_spark.graph.walks import node2vec_walks

    return {
        "pagerank": lambda e, s: pagerank(e).ranks,
        "hits": lambda e, s: hits(e, delta=1e-9, max_iterations=20),
        "katz": lambda e, s: katz_centrality(
            e, max_iterations=5, mode="loop"
        ),
        "cc-label": lambda e, s: connected_components(e, algorithm="label"),
        "cc-star": lambda e, s: connected_components(e, algorithm="star"),
        "shortest-paths": lambda e, s: shortest_paths(e, s),
        "scc": lambda e, s: strongly_connected_components(e),
        "betweenness": lambda e, s: betweenness_centrality(e, s),
        "node2vec": lambda e, s: node2vec_walks(e),
    }[name]


@pytest.mark.parametrize(
    "name, held",
    [
        # the returned frame's cache, plus the one checkpoint its
        # lineage reads (the last generation; for shortest paths the
        # returned reached set itself, for scc the one settled piece)
        ("pagerank", 2),
        ("hits", 2),
        ("katz", 2),
        ("cc-label", 2),
        ("cc-star", 2),
        ("shortest-paths", 2),
        ("scc", 2),
        # the returned frame is an eager checkpoint
        ("betweenness", 1),
        ("node2vec", 1),
    ],
)
def test_operator_release_is_deterministic(spark, name, held):
    """After the call only the pins its returned frame reads remain
    (no other loop generation, edge cache or checkpoint block), and
    the owner's release of that frame returns the block store to its
    snapshot — no garbage collection involved."""
    from pagerank_spark.graph.loop import Pins

    edges, seeds = _ring_graph(spark), _seeds(spark)
    base = _persistent_ids(spark)
    result = _op(name)(edges, seeds)
    assert result.count() > 0
    assert len(_persistent_ids(spark) - base) == held
    Pins().release(result)
    assert _persistent_ids(spark) - base == set()


def test_trainers_tune_false_matches_and_releases(spark):
    """r15 (r14 ADVICE): tune=False skips the session-global conf flip
    but trains identical weights; both trainers release their eager
    feature/label checkpoints in the finally path."""
    from pagerank_spark.operators.classifier import (
        logreg_train,
        softmax_train,
    )

    jsc = spark.sparkContext._jsc
    feats = spark.createDataFrame(
        [(i, int(i % 3), float((i % 5) - 2)) for i in range(30)],
        "doc_id long, feature_index long, feature_value double",
    )
    labels = spark.createDataFrame(
        [(i, int(i % 2)) for i in range(30)], "doc_id long, y int"
    )
    aqe_before = spark.conf.get("spark.sql.adaptive.enabled")
    base = set(jsc.getPersistentRDDs().keys())
    w_tuned = {
        (r["feature_index"],): r["weight"]
        for r in logreg_train(feats, labels, rounds=3).weights.collect()
    }
    # the trainer released its own eager checkpoints (delta vs the
    # snapshot just before the call — suite-shared session state from
    # other tests is not this test's business)
    assert set(jsc.getPersistentRDDs().keys()) <= base
    base = set(jsc.getPersistentRDDs().keys())
    w_plain = {
        (r["feature_index"],): r["weight"]
        for r in logreg_train(
            feats, labels, rounds=3, tune=False
        ).weights.collect()
    }
    assert w_tuned == w_plain
    assert spark.conf.get("spark.sql.adaptive.enabled") == aqe_before
    assert set(jsc.getPersistentRDDs().keys()) <= base
    base = set(jsc.getPersistentRDDs().keys())
    slabels = labels.selectExpr("doc_id", "CAST(y AS STRING) AS label")
    softmax_train(feats, slabels, rounds=2, tune=False)
    assert set(jsc.getPersistentRDDs().keys()) <= base
