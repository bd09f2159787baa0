"""The shared engine idioms of the iterative operators.

Each idiom lives here once, so a fix lands once:

- ``Pins``: the owner of every relation a loop pins (below);
- ``VertexLoop``: a ``Pins`` that also runs the per-round cadence of
  the message-passing vertex loops;
- ``loop_conf``: the small-loop conf scope (AQE off, loop-sized
  ``spark.sql.shuffle.partitions``) and the measurements behind it;
- ``plan_size_bytes``: Catalyst's size estimate of a plan, read
  without running a job;
- ``state_side``: the state side of a loop's per-round join,
  broadcast or co-partitioned by one size cut.

PageRank, Katz, HITS, connected components, shortest paths, and label
propagation are all the same loop wearing different algebra: cached
edge layouts, a size-gated broadcast-or-copartitioned state join
(``state_side``), a vertex-sized state whose lineage is cut by a
checkpoint on a cadence, and exactly ONE driver scalar per round (the
aggregation that also materializes the round's pin; a broadcast state
side runs one more job of its own, the broadcast's collect). Each
algorithm keeps its message algebra in its own loop body; the pins
belong to the owner, opened as ``with VertexLoop(...) as loop:`` (or
``with Pins() as pins:`` for a loop without a cadence). It gives each
pin one of three lifetimes:

- the scope (``hold``): edge layouts, vertex sets, feature pins;
- a generation (``persist``, ``truncate``): the loop state, released
  early by ``sweep`` once a newer generation has materialized, or one
  action late by ``defer`` + ``flush`` when the newer one is still a
  lazy checkpoint;
- the caller's (``keep``, ``result``): the frame the operator returns,
  lazy or materialized, with the checkpoints its plan reads;
  ``Pins().release(frame)`` frees them all, where ``unpersist()``
  would leave the checkpoints pinned.

On exit, on any path, the owner releases everything it still tracks.
Release means ``unpersist()`` AND freeing the checkpoint's storage
blocks: ``unpersist()`` alone leaves a ``localCheckpoint``'s blocks
pinned until both the Python and the JVM frame are garbage-collected.
Generations are tracked BEFORE the action that materializes them, so a
failed job cannot strand a fresh pin outside the owner.

A loop's confs go on a session of its own, never on the caller's:
``loop_conf`` decides them and sets them on a clone of the caller's
session (``conf_session``, the package's one writer of a session
conf). The operator's input frames move onto the clone on the way in
and the frame it returns moves back on the way out (``rehome``), so
the caller's session stays as the caller left it while the loop runs.

Eager or lazy checkpoint, the one rule: LAZY when the next reader is
one sequential action (the checkpoint then materializes inside it, with
no job of its own); EAGER when several plan branches read the pin,
whose stages could race a lazy materialization, or when no action
materializes it before the pins it reads are released.
"""

from __future__ import annotations

import threading
from collections.abc import Iterator
from contextlib import contextmanager
from dataclasses import dataclass

from pyspark.rdd import RDD
from pyspark.sql import Column, DataFrame, Row, SparkSession
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

AQE_KEY = "spark.sql.adaptive.enabled"
PARTS_KEY = "spark.sql.shuffle.partitions"

# ``loop_conf`` defaults: the size gate (rows) above which the session
# sizing stands, the reduce-side rows per partition, and the partition
# floor. See ``loop_conf`` for the measurements.
SMALL_LOOP_EDGE_LIMIT = 64_000_000
LOOP_ROWS_PER_PARTITION = 2_000_000
LOOP_PARTS_FLOOR = 4

# ``state_side``'s cut on the rows of a loop's state side. Measured on
# PageRank (synthetic hash-mixed graphs, 6 fixed iterations, local[32]):
# broadcast wins 6.1 vs 8.2 s at 200k vertices, is within noise at
# 1-2M, and collapses by 3M (40.3 vs 16.7 s, the per-round collect and
# rebroadcast dominating; ``scale_probe.py`` reproduces the 3M point).
BROADCAST_STATE_ROW_LIMIT = 2_000_000

_TO_DF_LOCK = threading.Lock()


@dataclass(frozen=True)
class LoopScope:
    """The session a ``loop_conf`` scope runs on (``spark``: the
    caller's own, or a clone carrying the loop's confs) and the
    partition count its exchanges should use."""

    caller: SparkSession
    spark: SparkSession
    parts: int

    def out(self, df: DataFrame) -> DataFrame:
        """``df`` on the caller's session: the frame an operator
        returns."""
        return rehome(df, self.caller)


@contextmanager
def loop_conf(
    size: int | None,
    *frames: DataFrame,
    limit: int = SMALL_LOOP_EDGE_LIMIT,
    per_part: int = LOOP_ROWS_PER_PARTITION,
) -> Iterator[tuple]:
    """Run a small iterative job with AQE off and the shuffle sized to
    it, on a session of its own: yields ``(scope, *frames)``, a
    ``LoopScope`` and the operator's input ``frames`` moved onto
    ``scope.spark``. The first frame's session is the caller's.

    When ``size`` (rows, or bytes with a byte ``per_part``) is at most
    ``limit``, ``scope.spark`` is a clone of the caller's session
    (``conf_session``) with ``spark.sql.adaptive.enabled=false`` and
    ``spark.sql.shuffle.partitions`` at ``max(LOOP_PARTS_FLOOR,
    min(caller's, ceil(size / per_part)))``, which ``scope.parts``
    yields. Otherwise (unknown size, above the limit, or no clone
    bridge) ``scope.spark`` is the caller's session at its own
    partition count, and only frames of another session move.

    The caller's session is never written, so a query planned on it
    while the loop runs keeps its own confs. The rule inside the
    scope: every frame a loop reads comes from ``scope.spark``, either
    moved in as one of ``frames`` or built there
    (``scope.spark.range``, ``local_relation(scope.spark, ...)``); a
    join plans under the confs of its left side's session, whatever
    the right side's. The operator returns ``scope.out(result)``.

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
    """
    spark = frames[0].sparkSession
    scope = LoopScope(spark, spark, int(spark.conf.get(PARTS_KEY)))
    if size is not None and size <= limit:
        parts = max(LOOP_PARTS_FLOOR, min(scope.parts, -(-size // per_part)))
        try:
            clone = conf_session(
                spark, {AQE_KEY: "false", PARTS_KEY: str(parts)}
            )
            frames = tuple(rehome(df, clone) for df in frames)
            scope = LoopScope(spark, clone, parts)
        except Exception:  # no clone bridge (Spark Connect, API drift)
            pass
    yield (scope, *(rehome(df, scope.spark) for df in frames))


def conf_session(spark: SparkSession, confs: dict[str, str]) -> SparkSession:
    """A clone of ``spark`` with ``confs`` set on it: the one writer of
    a session conf in the package, and it writes only sessions it made.

    ``cloneSession`` keeps the caller's runtime confs (``newSession``
    drops them), temp views and UDFs, and shares its cache and
    SparkContext. Raises where the bridge is unavailable (Spark
    Connect, API drift).
    """
    # the wrapper's constructor rebinds ``RDD.toDF`` to the new session;
    # the lock keeps concurrent clones from restoring each other's
    with _TO_DF_LOCK:
        to_df = RDD.toDF
        clone = SparkSession(
            spark.sparkContext, spark._jsparkSession.cloneSession()
        )
        RDD.toDF = to_df
    for key, value in confs.items():
        clone.conf.set(key, value)
    return clone


def rehome(df: DataFrame, spark: SparkSession) -> DataFrame:
    """``df``'s plan as a frame of ``spark``, planned and run under
    ``spark``'s confs (``df`` itself when it is one already). The plan
    moves as analyzed, so a checkpoint-rooted frame stays rooted in its
    ``LogicalRDD`` and a persisted one still reads its cache; the
    checkpoints a release of ``df`` frees move with it."""
    if df.sparkSession is spark:
        return df
    out = DataFrame(
        spark._jvm.org.apache.spark.sql.classic.Dataset.ofRows(
            spark._jsparkSession, df._jdf.logicalPlan()
        ),
        spark,
    )
    for attr in ("_pagerank_spark_reads", "_pagerank_spark_ckpt_jrdd"):
        if hasattr(df, attr):
            setattr(out, attr, getattr(df, attr))
    return out


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


def state_strategy(rows: int) -> str:
    """The branch ``state_side`` takes for a state side of ``rows``
    rows: "broadcast" at or below ``BROADCAST_STATE_ROW_LIMIT``,
    "shuffle" above."""
    return "broadcast" if rows <= BROADCAST_STATE_ROW_LIMIT else "shuffle"


def state_side(df: DataFrame, rows: int, *keys: str) -> DataFrame:
    """``df``, the vertex-sized side of a loop's per-round join on
    ``keys``, planned by the one size rule (``state_strategy``, with
    each caller's own estimate of its ``rows``).

    Broadcast: the state is hinted as the broadcast build side, so
    the edge side never moves. Without the hint, Catalyst sizes a
    checkpointed state by its origin stats and can broadcast the
    EDGES instead, every round. Shuffle: the state is co-partitioned
    on ``keys`` at the session's shuffle partitions (the loop's, on
    a ``loop_conf`` session), aligned with an edge cache partitioned the
    same way, and hinted as the shuffled-hash build side; an unhinted
    repartition still lets Catalyst plan a broadcast over it.
    """
    if state_strategy(rows) == "broadcast":
        return F.broadcast(df)
    return df.repartition(*keys).hint("shuffle_hash")


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


def _checkpoint_rdds(df: DataFrame) -> list:
    """The RDDs holding the checkpoint blocks a release of ``df`` frees,
    which nothing else ever unpersists: its own when it is
    checkpoint-rooted, and those ``keep`` left with it."""
    own = getattr(df, "_pagerank_spark_ckpt_jrdd", None) or _root_rdd(df)
    reads = getattr(df, "_pagerank_spark_reads", [])
    return reads if own is None else [own, *reads]


class Pins:
    """Owner of the relations an operator pins; see the module
    docstring for the three lifetimes. ``reliable`` makes ``truncate``
    a reliable ``checkpoint`` (fault-tolerant across executor loss)
    instead of a ``localCheckpoint``.

    Each frame has one lifetime at a time: ``hold`` (cached) or
    ``adopt`` (as is) of a generation moves it to the scope, ``keep``
    hands it to the caller. ``release``
    also takes frames the owner never pinned, e.g. a caller releasing
    what an operator returned: ``Pins().release(result)``.
    """

    def __init__(self, *, reliable: bool = False) -> None:
        self.reliable = reliable
        self._held: list[DataFrame] = []
        self._gens: list[DataFrame] = []
        self._late: list[DataFrame] = []
        self._spared: set[int] = set()  # RDD ids ``keep`` handed out

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
        """Own, for the scope, a frame another owner handed out. A
        generation passed in moves to the scope, uncached."""
        self._untrack(df)
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
        """Hand ``df`` to the caller, together with every checkpoint its
        plan reads that the owner tracks, as a pin or through an
        adopted frame: a lazy ``df`` reads them when it runs, and a
        persisted one recomputes through them whenever a plan misses
        its cache, e.g. the deduplicated side of a self-join. The
        caller's release of ``df`` frees them. Caches stay with the
        owner: a cached pin ``df`` reads is recomputed after the exit.
        Only ``df``'s plan is walked, not the lineage of a lazy
        checkpoint it reads: a checkpoint read only through that
        lineage is released on exit, which the lazy one survives only
        if that checkpoint never ran (it is then recomputed)."""
        self._untrack(df)
        leaves = _leaf_rdd_ids(df)
        df._pagerank_spark_reads = [
            jrdd
            for pin in self._held + self._gens + self._late
            for jrdd in _checkpoint_rdds(pin)
            if jrdd.id() in leaves
        ]
        self._spared.update(jrdd.id() for jrdd in df._pagerank_spark_reads)
        return df

    def result(self, df: DataFrame) -> DataFrame:
        """Persist and materialize the frame the operator returns, then
        ``keep`` it. Released with the rest if the job fails. The frame
        is persisted as itself, never as a copy: ``unpersist()``
        matches cache entries by plan, so releasing a generation would
        also drop the cache of a copy of it."""
        df = self.persist(df)
        df.count()
        return self.keep(df)

    def release(self, *dfs: DataFrame) -> None:
        """Release ``dfs`` now: unpersist and free checkpoint blocks,
        except those this owner's ``keep`` handed out. A released frame
        is unreadable if it was checkpoint-rooted."""
        for df in dfs:
            self._untrack(df)
            df.unpersist()
            for jrdd in _checkpoint_rdds(df):
                try:
                    if jrdd.id() not in self._spared:
                        jrdd.unpersist(False)
                except Exception:  # pragma: no cover - version drift
                    pass

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
