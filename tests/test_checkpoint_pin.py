"""Tests for the r14 checkpoint-then-persist pin discipline.

The optimization round rooted the long-lived pinned relations (the
SVD's PPMI matrix, the SGNS example relation, the classifier xb/lab
pins, the tokenizer candidate relation) in an EAGER ``localCheckpoint``
underneath their ``persist()``: Catalyst re-analyzes a cached
relation's full logical lineage on every downstream action before the
cache lookup substitutes the rows, so a deep-lineage pin (the 4-step
walk pipeline) charged ~0.8 s of pure driver planning PER ACTION;
a leaf ``LogicalRDD`` makes that O(1).

These tests pin the two Spark behaviours the change relies on, so a
version bump that breaks either fails loudly here rather than as a
silent plan regression:

1. A checkpointed scan reports UNKNOWN partitioning (this Spark build
   does not carry the child's hash partitioning through
   ``localCheckpoint``) — which is why every pin that relies on
   co-partitioning places the checkpoint BELOW the repartition.
2. The checkpoint-below-repartition composition keeps the
   co-partitioned join exchange-free over the pinned rows.
3. The checkpointed frame's analyzed plan is a leaf (no lineage into
   the pre-checkpoint operators), which is what kills the per-action
   re-analysis cost.
4. ``DataFrame.unpersist()`` leaves a ``localCheckpoint``'s storage
   blocks in place, and matches cache entries by plan — which is why
   the pin owner (``graph/loop.py`` ``Pins``) frees checkpoint blocks
   itself and persists a returned generation as itself, never as a
   plan-equivalent copy.
"""

from __future__ import annotations

from pyspark.sql import functions as F


def _pinned(spark, value_col, expr):
    return (
        spark.range(0, 1000)
        .select(F.col("id").alias("k"), expr.alias(value_col))
        .localCheckpoint(eager=True)
        .repartition(8, "k")
        .persist()
    )


def test_checkpoint_below_repartition_keeps_copartitioning(spark):
    """The trainer-pin composition: checkpoint (leaf) → repartition(k)
    → persist. Joining two such pins on k must not re-shuffle either
    side; if Spark ever starts dropping the repartition's partitioning
    through this composition, the trainers' per-round joins silently
    regain an exchange of the big feature relation and this fails."""
    a = _pinned(spark, "x", F.col("id") * 2)
    b = _pinned(spark, "y", F.col("id") + 5)
    try:
        a.count(), b.count()  # materialize the pins
        joined = a.hint("merge").join(b.hint("merge"), on="k")
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan, plan
        # the pins' own REPARTITION_BY_NUM exchanges print inside the
        # InMemoryRelation subtrees (executed once at materialization);
        # a LOST co-partitioning would add fresh ENSURE_REQUIREMENTS
        # exchanges between the join and the cached scans
        assert "ENSURE_REQUIREMENTS" not in plan, plan
        assert joined.count() == 1000
    finally:
        a.unpersist()
        b.unpersist()


def test_local_checkpoint_loses_partitioning_documented(spark):
    """The behaviour that forces the ordering above: a scan of a
    checkpointed RDD reports unknown partitioning, so a join over a
    checkpoint taken ABOVE the repartition re-shuffles. If a Spark
    upgrade starts preserving it, this fails as a (welcome) signal
    that the pin compositions can simplify."""
    a = (
        spark.range(0, 1000)
        .select(F.col("id").alias("k"), (F.col("id") * 2).alias("x"))
        .repartition(8, "k")
        .localCheckpoint(eager=True)
    )
    b = (
        spark.range(0, 1000)
        .select(F.col("id").alias("k"), (F.col("id") + 5).alias("y"))
        .repartition(8, "k")
        .localCheckpoint(eager=True)
    )
    joined = a.hint("merge").join(b.hint("merge"), on="k")
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "Exchange hashpartitioning" in plan, plan


def test_local_checkpoint_truncates_lineage_to_leaf(spark):
    """The analyzed plan of a checkpointed frame must be a bare
    scan — no Join/Aggregate from the pre-checkpoint lineage — so
    downstream actions stop paying to re-analyze the pipeline."""
    deep = (
        spark.range(0, 100)
        .select(F.col("id").alias("k"), (F.col("id") % 7).alias("g"))
        .groupBy("g")
        .agg(F.sum("k").alias("s"))
        .join(spark.range(0, 7).select(F.col("id").alias("g")), on="g")
    )
    ck = deep.localCheckpoint(eager=True)
    analyzed = ck._jdf.queryExecution().analyzed().toString()
    assert "Join" not in analyzed, analyzed
    assert "Aggregate" not in analyzed, analyzed
    # values are the checkpoint's whole point: unchanged
    assert sorted(tuple(r) for r in ck.collect()) == sorted(
        tuple(r) for r in deep.collect()
    )


def test_unpersist_leaves_local_checkpoint_blocks_documented(spark):
    """What the pin owner's release relies on: ``unpersist()`` on a
    checkpoint-rooted frame frees none of its blocks (they stay until
    Python and JVM GC), the owner's release does, and ``unpersist()``
    of a checkpoint also drops the cache of an equivalent persisted
    projection. If a Spark upgrade changes any of this, the owner's
    release logic can simplify."""
    from pagerank_spark.graph.loop import Pins

    jsc = spark.sparkContext._jsc

    def persistent_ids():
        return set(jsc.getPersistentRDDs().keys())

    base = persistent_ids()
    ck = spark.range(100).selectExpr("id", "id * 2 AS v").localCheckpoint(
        eager=True
    )
    pinned = persistent_ids() - base
    assert pinned
    ck.unpersist()
    assert persistent_ids() - base == pinned  # the blocks stay
    Pins().release(ck)
    assert persistent_ids() - base == set()

    ck = spark.range(10).selectExpr("id").localCheckpoint(eager=True)
    copy = ck.select("*").persist()
    copy.count()
    ck.unpersist()
    assert not copy.storageLevel.useMemory  # matched by plan
    Pins().release(ck)
