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
removal is asynchronous.
"""

from __future__ import annotations

import time

import pytest
from pyspark.sql import functions as F


def _storage_entries(spark) -> int:
    return len(spark.sparkContext._jsc.sc().getRDDStorageInfo())


def _assert_drains(spark, baseline: int, timeout: float = 20.0) -> None:
    import gc

    deadline = time.monotonic() + timeout
    while time.monotonic() < deadline:
        if _storage_entries(spark) <= baseline:
            return
        # Explicit persists are released by unpersist() in the finally
        # paths; LAZY localCheckpoint blocks are owned by the context
        # cleaner and drain only after their RDD objects are
        # garbage-collected on both sides — force that so the poll
        # distinguishes "cleaner hasn't run yet" from a real leak.
        gc.collect()
        spark.sparkContext._jvm.System.gc()
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
    """Success path: after unpersisting the returned ranks, the only
    storage residue is localCheckpoint blocks (owned by the context
    cleaner, freed on GC) — every explicit loop cache is gone. The
    convergence run at delta>0 checkpoints each iteration, so assert
    on EXPLICITLY-persisted leftovers being released rather than an
    exact baseline: the final ranks unpersist must drain what the run
    added beyond its checkpoint blocks."""
    from pagerank_spark.graph.pagerank import pagerank

    edges = spark.range(20).select(
        F.col("id").alias("src"),
        F.pmod(F.col("id") * 7 + 3, F.lit(20)).alias("dst"),
    )
    before = _storage_entries(spark)
    res = pagerank(edges, max_iterations=3, delta=0.0)
    assert res.ranks.count() == 20
    res.ranks.unpersist()
    # tolerate the run's checkpoint blocks (one per iteration at
    # cadence 1), nothing else
    _assert_drains(spark, before + 3)


def test_materialize_or_release_unpins_on_failed_count(spark):
    # Direct unit test of the helper every loop's trailing persist now
    # goes through: a failed materializing count must drop the fresh
    # persist mark (it is in no shared release list).
    from pagerank_spark.graph.loop import materialize_or_release

    baseline = _storage_entries(spark)
    boom = F.raise_error(F.lit("poisoned edge")).cast("long")
    df = spark.range(10).select(
        F.when(F.col("id") < 5, F.col("id")).otherwise(boom).alias("v")
    ).persist()
    with pytest.raises(Exception, match="poisoned edge"):
        materialize_or_release(df)
    assert not df.storageLevel.useMemory  # mark dropped synchronously
    _assert_drains(spark, baseline)

    ok = spark.range(5).persist()
    assert materialize_or_release(ok) is ok
    assert ok.storageLevel.useMemory
    ok.unpersist()


def test_vertex_loop_advance_tracks_and_sweeps(spark):
    """Direct contract test for the shared loop primitive
    (graph/loop.py VertexLoop): non-checkpoint rounds persist and
    track BEFORE the materializing aggregation; checkpoint rounds
    sweep every earlier tracked generation in place (the caller's
    finally shares the list) and return the metrics row."""
    from pagerank_spark.graph.loop import VertexLoop

    cached = []
    loop = VertexLoop(cached, checkpoint_every=2)
    df = spark.range(10).select(F.col("id").alias("node"),
                                F.lit(1.0).alias("x"))

    # round 1: not a checkpoint round -> persisted + tracked
    s1, row1 = loop.advance(df, metrics={"n": F.count("*")})
    assert row1["n"] == 10
    assert len(cached) == 1 and cached[0] is s1
    assert s1.storageLevel.useMemory  # actually persisted

    # round 2: checkpoint round -> earlier generation swept, list
    # cleared IN PLACE (same object), metrics still returned
    held = cached
    s2, row2 = loop.advance(s1.select("node", "x"),
                            metrics={"n": F.count("*")})
    assert row2["n"] == 10
    assert cached == [] and held is cached
    assert not s1.storageLevel.useMemory  # swept
    # the checkpointed state is plan-truncated to a LogicalRDD scan
    assert "LogicalRDD" in s2._jdf.queryExecution().optimizedPlan().toString()

    # metrics=None on a checkpoint round must checkpoint EAGERLY (the
    # sweep would otherwise release caches a lazy checkpoint still
    # needs) and return row=None
    loop2 = VertexLoop([], checkpoint_every=1)
    s3, row3 = loop2.advance(df)
    assert row3 is None
    assert "LogicalRDD" in s3._jdf.queryExecution().optimizedPlan().toString()
    assert s3.count() == 10


def test_vertex_loop_track_defer_flush(spark):
    """The frontier-loop half of the primitive: track() persists and
    appends before any action; defer_all_but() rotates superseded
    generations to the deferred list keeping only the live frontier;
    flush_deferred() releases them."""
    from pagerank_spark.graph.loop import VertexLoop

    cached, pending = [], []
    loop = VertexLoop(cached, deferred=pending)
    a = loop.track(spark.range(5).select(F.col("id").alias("node")))
    b = loop.track(spark.range(3).select(F.col("id").alias("node")))
    a.count(), b.count()
    assert cached == [a, b]
    assert a.storageLevel.useMemory and b.storageLevel.useMemory

    loop.defer_all_but(b)
    assert cached == [b] and pending == [a]
    assert a.storageLevel.useMemory  # deferred, not yet released

    loop.flush_deferred()
    assert pending == []
    assert not a.storageLevel.useMemory
    assert b.storageLevel.useMemory  # the kept frontier survives
    b.unpersist()


def test_release_checkpoint_drops_blocks(spark):
    """r15: release_checkpoint() explicitly frees a localCheckpoint's
    storage blocks — both for a plain checkpointed frame and for a
    checkpoint_reset_stats-wrapped one (whose fresh LogicalRDD hides
    the persisted RDD) — instead of waiting for Python+JVM GC."""
    from pagerank_spark.graph.loop import (
        checkpoint_reset_stats,
        release_checkpoint,
    )

    jsc = spark.sparkContext._jsc

    def persistent_ids():
        return set(jsc.getPersistentRDDs().keys())

    base = persistent_ids()
    plain = spark.range(100).selectExpr("id", "id * 2 AS v")
    ck = plain.localCheckpoint(eager=True)
    assert persistent_ids() - base  # the checkpoint pinned blocks
    release_checkpoint(ck)
    assert persistent_ids() == base

    wrapped = checkpoint_reset_stats(
        spark.range(50).selectExpr("id", "id + 1 AS v")
    )
    assert wrapped.count() == 50
    assert persistent_ids() - base
    release_checkpoint(wrapped)
    assert persistent_ids() == base

    # non-checkpointed frames are a safe no-op
    release_checkpoint(spark.range(3))


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
