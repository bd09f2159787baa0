"""The shared engine idioms of the iterative operators.

Each idiom lives here once, so a fix lands once:

- ``Pins``: the owner of every relation a loop pins (below);
- ``VertexLoop``: a ``Pins`` that also runs the per-round cadence of
  the message-passing vertex loops;
- ``loop_conf``: the small-loop conf scope (AQE off, loop-sized
  ``spark.sql.shuffle.partitions``, both restored on exit) and the
  measurements behind it;
- ``plan_size_bytes``: Catalyst's size estimate of a plan, read
  without running a job.

PageRank, Katz, HITS, connected components, shortest paths, and label
propagation are all the same loop wearing different algebra: cached
edge layouts, a size-gated broadcast-or-copartitioned state join, a
vertex-sized state whose lineage is cut by a checkpoint on a cadence,
and exactly ONE driver scalar per round (the aggregation that also
materializes the round's pin). Each algorithm keeps its message
algebra in its own loop body; the pins belong to the owner, opened as
``with VertexLoop(...) as loop:`` (or ``with Pins() as pins:`` for a
loop without a cadence). It gives each pin one of three lifetimes:

- the scope (``hold``): edge layouts, vertex sets, feature pins;
- a generation (``persist``, ``truncate``): the loop state, released
  early by ``sweep`` once a newer generation has materialized, or one
  action late by ``defer`` + ``flush`` when the newer one is still a
  lazy checkpoint;
- the caller's (``keep``, ``result``): the frame the operator returns,
  with the checkpoints its plan reads; ``Pins().release(frame)``
  frees them all.

On exit, on any path, the owner releases everything it still tracks.
Release means ``unpersist()`` AND freeing the checkpoint's storage
blocks: ``unpersist()`` alone leaves a ``localCheckpoint``'s blocks
pinned until both the Python and the JVM frame are garbage-collected.
Generations are tracked BEFORE the action that materializes them, so a
failed job cannot strand a fresh pin outside the owner.

Eager or lazy checkpoint, the one rule: LAZY when the next reader is
one sequential action (the checkpoint then materializes inside it, with
no job of its own); EAGER when several plan branches read the pin,
whose stages could race a lazy materialization, or when no action
materializes it before the pins it reads are released.
"""

from __future__ import annotations

from collections.abc import Iterator
from contextlib import contextmanager

from pyspark.sql import Column, DataFrame, Row, SparkSession
from pyspark.storagelevel import StorageLevel

AQE_KEY = "spark.sql.adaptive.enabled"
PARTS_KEY = "spark.sql.shuffle.partitions"

# ``loop_conf`` defaults: the size gate (rows) above which the session
# sizing stands, the reduce-side rows per partition, and the partition
# floor. See ``loop_conf`` for the measurements.
SMALL_LOOP_EDGE_LIMIT = 64_000_000
LOOP_ROWS_PER_PARTITION = 2_000_000
LOOP_PARTS_FLOOR = 4


@contextmanager
def loop_conf(
    spark: SparkSession,
    size: int | None,
    *,
    enabled: bool = True,
    limit: int = SMALL_LOOP_EDGE_LIMIT,
    per_part: int = LOOP_ROWS_PER_PARTITION,
) -> Iterator[int]:
    """Run a small iterative job with AQE off and the shuffle sized to
    it; yield the partition count its exchanges should use.

    When ``enabled`` and ``size`` (rows, or bytes with a byte
    ``per_part``) is at most ``limit``, sets
    ``spark.sql.adaptive.enabled=false`` and
    ``spark.sql.shuffle.partitions`` to ``max(LOOP_PARTS_FLOOR,
    min(session, ceil(size / per_part)))`` and restores both in
    ``finally``, so a failed job cannot leave the session tuned.
    Otherwise (disabled, unknown size, or above the limit) it touches
    nothing and yields the session's own partition count.

    Why, measured on the PageRank loop over WikiData (7k vertices):

    - AQE re-plans every stage at runtime; when each iteration is a
      sub-second job the replanning more than doubles the wall
      (21.8 s → 9.7 s with AQE off). At scale its skew-join splitting
      is worth the replanning, hence the size gate.
    - Turning AQE off also loses its partition coalescing, so the
      loop sizes the reduce side itself: 32 → 4 partitions measured
      13.2 s → ~7 s. The floor of 4 keeps a few cores busy on tiny
      graphs without paying per-task scheduling across all of them.
    - The setup aggregations (vertex distinct, degree join, counts)
      carry the same per-stage fixed costs: running them untuned while
      only the loop was tuned measured 6.3 s vs 4.4 s end to end.
    - Split on perfbench's ``pagerank_ref`` (R-MAT scale 13, local[4],
      op medians of 6 interleaved rounds): tuned 3.24 s, AQE on with
      4 partitions 3.95 s, AQE off with 32 partitions 6.54 s, untuned
      6.61 s — the partition count, not AQE, carries most of the win.

    These are session-global flips: safe for a dedicated job session,
    not for one shared with concurrent queries: operators with a
    ``tune``/``tune_aqe`` flag pass it as ``enabled``.
    """
    parts_before = spark.conf.get(PARTS_KEY)
    if not enabled or size is None or size > limit:
        yield int(parts_before)
        return
    aqe_before = spark.conf.get(AQE_KEY)
    parts = max(
        LOOP_PARTS_FLOOR, min(int(parts_before), -(-size // per_part))
    )
    spark.conf.set(AQE_KEY, "false")
    spark.conf.set(PARTS_KEY, str(parts))
    try:
        yield parts
    finally:
        spark.conf.set(AQE_KEY, aqe_before)
        spark.conf.set(PARTS_KEY, parts_before)


def plan_size_bytes(df: DataFrame) -> int | None:
    """Catalyst's size estimate for ``df``'s optimized plan (the
    statistic the optimizer itself uses for broadcast decisions) — no
    job is run. None when the estimate is unavailable (Spark Connect,
    API drift)."""
    try:
        return int(
            df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        )
    except Exception:
        return None


def checkpoint_reset_stats(df: DataFrame) -> DataFrame:
    """Eager localCheckpoint that also RESETS Catalyst size statistics.

    ``Dataset.checkpoint`` preserves the pre-checkpoint plan's
    ``sizeInBytes`` on the resulting ``LogicalRDD`` (``originStats``),
    and the size-only estimator models every inner join as the
    PRODUCT of its children's BigInt sizes. In a loop where two
    EVOLVING relations join each other (the SGNS trainer's U and V —
    unlike PageRank/HITS/SVD, whose state only ever joins a static
    edge relation), the preserved estimate therefore compounds
    multiplicatively: its DIGIT count doubles-or-worse per round, and
    from ~round 11 the planner spends its time in BigInteger
    Karatsuba multiplications — measured ×3–4 wall growth PER ROUND
    on a 30-row fixture, 215 s for round 14 (driver-side, so a real
    cluster hits it identically). Re-wrapping the checkpointed
    InternalRow RDD in a fresh ``LogicalRDD`` WITHOUT origin stats
    caps every subsequent estimate at the constant
    ``defaultSizeInBytes``, making planner cost flat in round count;
    the data, schema, and truncated lineage are untouched.

    Falls back to the plain eager checkpoint if the private
    ``internalCreateDataFrame`` bridge is unavailable (cost: the
    compounding above — correctness is unaffected).
    """
    ck = df.localCheckpoint(eager=True)
    try:
        jdf = ck._jdf
        qe = jdf.queryExecution()
        fresh = ck.sparkSession._jsparkSession.internalCreateDataFrame(
            qe.toRdd(), jdf.schema(), False
        )
        out = DataFrame(fresh, ck.sparkSession)
        # the fresh LogicalRDD only wraps a map over the PERSISTED
        # checkpoint rdd: stash that one so a release can free it
        try:
            out._pagerank_spark_ckpt_jrdd = (
                jdf.queryExecution().analyzed().rdd()
            )
        except Exception:  # pragma: no cover - version drift
            pass
        return out
    except Exception:  # pragma: no cover - version-drift fallback
        return ck


def _root_rdd(df: DataFrame):
    """The RDD of the ``LogicalRDD`` at the root of ``df``'s analyzed
    plan (a checkpointed frame's plan is exactly that leaf), or None.
    A projection of a checkpoint is not rooted in it."""
    try:
        plan = df._jdf.queryExecution().analyzed()
        if plan.getClass().getSimpleName() == "LogicalRDD":
            return plan.rdd()
    except Exception:  # pragma: no cover - version drift
        pass
    return None


def _leaf_rdd_ids(df: DataFrame) -> set[int]:
    """Ids of the RDDs behind every ``LogicalRDD`` leaf of ``df``'s
    analyzed plan: the checkpoints a recomputation of ``df`` reads."""
    ids = set()
    try:
        leaves = df._jdf.queryExecution().analyzed().collectLeaves()
        it = leaves.iterator()
        while it.hasNext():
            leaf = it.next()
            if leaf.getClass().getSimpleName() == "LogicalRDD":
                ids.add(leaf.rdd().id())
    except Exception:  # pragma: no cover - version drift
        pass
    return ids


def _free_blocks(df: DataFrame) -> None:
    """Drop the storage blocks of a checkpointed frame, which nothing
    else ever unpersists, and of the checkpoints ``result`` left with
    it. No-op on frames that are not checkpoint-rooted or on API
    drift."""
    rdds = [getattr(df, "_pagerank_spark_ckpt_jrdd", None) or _root_rdd(df)]
    rdds += getattr(df, "_pagerank_spark_reads", [])
    for jrdd in rdds:
        try:
            if jrdd is not None:
                jrdd.unpersist(False)
        except Exception:  # pragma: no cover - version-drift fallback
            pass


class Pins:
    """Owner of the relations an operator pins; see the module
    docstring for the three lifetimes. ``reliable`` makes ``truncate``
    a reliable ``checkpoint`` (fault-tolerant across executor loss)
    instead of a ``localCheckpoint``.

    Each frame has one lifetime at a time: ``hold`` of a generation
    moves it to the scope, ``keep`` hands it to the caller. ``release``
    also takes frames the owner never pinned, e.g. a caller releasing
    what an operator returned: ``Pins().release(result)``.
    """

    def __init__(self, *, reliable: bool = False) -> None:
        self.reliable = reliable
        self._held: list[DataFrame] = []
        self._gens: list[DataFrame] = []
        self._late: list[DataFrame] = []

    def __enter__(self) -> Pins:
        return self

    def __exit__(self, *exc: object) -> None:
        self.release(*self._late, *self._gens, *self._held)

    def hold(self, df: DataFrame) -> DataFrame:
        """Persist ``df`` for the whole scope. A generation passed in
        (``hold(truncate(df))``: a leaf plan with exact cached stats)
        moves to the scope and keeps its checkpoint under the cache."""
        self._untrack(df)
        df = df.persist(StorageLevel.MEMORY_AND_DISK)
        self._held.append(df)
        return df

    def adopt(self, df: DataFrame) -> DataFrame:
        """Own, for the scope, a frame another owner handed out."""
        self._held.append(df)
        return df

    def persist(self, df: DataFrame) -> DataFrame:
        """Persist ``df`` as a generation."""
        df = df.persist(StorageLevel.MEMORY_AND_DISK)
        self._gens.append(df)
        return df

    def truncate(
        self, df: DataFrame, eager: bool = False, reset_stats: bool = False
    ) -> DataFrame:
        """Cut ``df``'s lineage with a checkpoint, as a generation.
        ``reset_stats`` takes ``checkpoint_reset_stats`` (always eager
        and local)."""
        if reset_stats:
            df = checkpoint_reset_stats(df)
        elif self.reliable:
            df = df.checkpoint(eager=eager)
        else:
            df = df.localCheckpoint(eager=eager)
        self._gens.append(df)
        return df

    def sweep(self, *keep: DataFrame) -> None:
        """Release every generation but ``keep`` now. Call only once
        the frames that read them have materialized."""
        self.release(
            *[df for df in self._late + self._gens if not _among(df, keep)]
        )

    def defer(self, *keep: DataFrame) -> None:
        """Release every generation but ``keep`` at the next ``flush``:
        the shape where the newest generation is a lazy checkpoint that
        only the next action materializes."""
        self._late += [df for df in self._gens if not _among(df, keep)]
        self._gens = [df for df in self._gens if _among(df, keep)]

    def flush(self) -> None:
        """Release the deferred generations (call right after the
        action that materialized their successor)."""
        self.release(*self._late)

    def keep(self, df: DataFrame) -> DataFrame:
        """Hand ``df`` to the caller: the owner no longer releases it."""
        self._untrack(df)
        return df

    def result(self, df: DataFrame) -> DataFrame:
        """Persist and materialize the frame the operator returns, then
        hand it to the caller. Released with the rest if the job
        fails.

        The checkpoints ``df``'s plan reads go with it (their caches do
        not): Spark recomputes through them whenever a plan misses
        ``df``'s cache, e.g. the deduplicated side of a self-join. The
        caller's release of ``df`` frees them. The frame is persisted
        as itself, never as a copy: ``unpersist()`` matches cache
        entries by plan, so releasing a generation would also drop the
        cache of a copy of it."""
        df = self.persist(df)
        df.count()
        self.keep(df)
        reads = _leaf_rdd_ids(df)
        df._pagerank_spark_reads = []
        for pin in self._held + self._gens + self._late:
            jrdd = _root_rdd(pin)
            if jrdd is not None and jrdd.id() in reads:
                df._pagerank_spark_reads.append(jrdd)
                pin._pagerank_spark_spared = True
        return df

    def release(self, *dfs: DataFrame) -> None:
        """Release ``dfs`` now: unpersist and free checkpoint blocks.
        A released frame is unreadable if it was checkpoint-rooted."""
        for df in dfs:
            self._untrack(df)
            df.unpersist()
            if not getattr(df, "_pagerank_spark_spared", False):
                _free_blocks(df)

    def _untrack(self, df: DataFrame) -> None:
        for pins in (self._held, self._gens, self._late):
            pins[:] = [p for p in pins if p is not df]


def _among(df: DataFrame, frames: tuple[DataFrame, ...]) -> bool:
    return any(df is f for f in frames)


class VertexLoop(Pins):
    """A ``Pins`` owner that also runs the per-round lifecycle of one
    vertex-state loop. ``checkpoint_every`` is the lineage-cut
    cadence."""

    def __init__(
        self, *, checkpoint_every: int = 1, reliable: bool = False
    ) -> None:
        super().__init__(reliable=reliable)
        self.checkpoint_every = checkpoint_every
        self.iteration = 0

    def advance(
        self,
        new_state: DataFrame,
        metrics: dict[str, Column] | None = None,
    ) -> tuple[DataFrame, Row | None]:
        """Run one round's lifecycle on ``new_state``:

        checkpoint-or-persist by cadence, execute the ONE materializing
        scalar aggregation (``metrics``: output name → aggregate
        Column), then, on a checkpoint round, release every earlier
        generation. Returns ``(state, row)`` where ``row`` is the
        metrics Row (None when no metrics were requested).
        """
        self.iteration += 1
        on_ckpt = self.iteration % self.checkpoint_every == 0
        if on_ckpt:
            # lazy when the metrics aggregation is there to materialize
            # it (one job per round even at cadence 1)
            new_state = self.truncate(new_state, eager=metrics is None)
        else:
            new_state = self.persist(new_state)
        row = None
        if metrics is not None:
            row = new_state.agg(
                *[c.alias(name) for name, c in metrics.items()]
            ).collect()[0]
        if on_ckpt:
            self.sweep(new_state)
        return new_state, row
