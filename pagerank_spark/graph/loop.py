"""The shared engine idioms of the iterative operators.

This module is the single home of five idioms every loop needs, so a
fix lands once:

- ``VertexLoop``: the iteration lifecycle of the message-passing
  vertex loops (below);
- ``loop_conf``: the small-loop conf scope (AQE off, loop-sized
  ``spark.sql.shuffle.partitions``, both restored on exit) and the
  measurements behind it;
- ``plan_size_bytes``: Catalyst's size estimate of a plan, read
  without running a job;
- ``materialize_or_release``: materialize a fresh persist, dropping
  the mark if the job fails;
- ``checkpoint_reset_stats`` / ``release_checkpoint``: checkpoint
  pins that reset Catalyst statistics and release their blocks.

PageRank, Katz, HITS, connected components, shortest paths, and label
propagation are all the same loop wearing different algebra: cached
edge layouts, a size-gated broadcast-or-copartitioned state join, a
vertex-sized state whose lineage is truncated by LAZY localCheckpoint
on a cadence, exactly ONE driver scalar per round (the aggregation
that also materializes the cache/checkpoint), and a finally-sweep that
releases every pinned generation on any exit path. That discipline
took two rounds to harden (persist-before-track windows, mid-loop
non-convergence paths, one-generation-late releases).

``VertexLoop`` owns the LIFECYCLE only; each algorithm keeps its
message algebra (the joins and aggregates) in its own loop body. The
caller owns the ``cached`` list and sweeps it in a ``finally`` — the
loop appends to and clears that same list in place, so a mid-round
job failure releases exactly what was pinned when it died.

Invariants preserved from the hand-written loops (and locked in by
``tests/test_cache_release.py`` plus the loop A/B artifacts):

- persist generations are tracked BEFORE the materializing action —
  appending after it leaves a window where a failed job strands the
  fresh persist outside the caller's finally;
- on checkpoint rounds the state is checkpointed LAZILY, so it
  materializes inside the same per-round scalar aggregation — one job
  per iteration even at cadence 1;
- earlier generations are swept only AFTER that aggregation ran (the
  checkpoint is then materialized, so nothing recomputes through the
  released caches), clearing the shared list in place;
- a cadence round with NO per-round scalar uses an EAGER checkpoint
  instead (label-propagation shape): sweeping before a lazy
  checkpoint materialized would force recompute through released
  caches.
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


def materialize_or_release(df: DataFrame) -> DataFrame:
    """Materialize a FRESHLY persisted frame, releasing its lazy
    persist mark if the job fails. The fresh mark is in no shared
    release list yet (a loop's finally sweeps only its tracked
    generations), so a failed materializing count would otherwise pin
    the relation past every caller's cleanup — the last gap in the
    try/finally release discipline."""
    try:
        df.count()
    except Exception:
        df.unpersist()
        raise
    return df


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
        # stash the PERSISTED checkpoint rdd (the fresh LogicalRDD only
        # wraps a map over it) so release_checkpoint() can drop the
        # blocks explicitly once the frame's last reader has run
        try:
            out._pagerank_spark_ckpt_jrdd = (
                jdf.queryExecution().analyzed().rdd()
            )
        except Exception:  # pragma: no cover - version drift
            pass
        return out
    except Exception:  # pragma: no cover - version-drift fallback
        return ck


def release_checkpoint(df: DataFrame) -> None:
    """Best-effort EXPLICIT release of a localCheckpoint-rooted frame's
    storage blocks. ``localCheckpoint`` persists the materialized RDD
    (MEMORY_AND_DISK) and nothing ever unpersists it — the blocks stay
    pinned until both the Python wrapper and the JVM Dataset are
    garbage-collected, the long-lived-service leak the round-14 ADVICE
    flagged (a ``DataFrame.unpersist()`` on top releases only the SQL
    cache layer, not the checkpoint blocks underneath). The analyzed
    plan of a checkpointed frame is a ``LogicalRDD`` holding that RDD
    directly, so its blocks can be dropped the moment the frame's last
    reader has run. Call ONLY after the last read: the frame is
    unreadable afterwards (CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND). No-op
    on frames that are not checkpoint-rooted or on API drift."""
    try:
        jrdd = getattr(df, "_pagerank_spark_ckpt_jrdd", None)
        if jrdd is not None:  # checkpoint_reset_stats-wrapped frame
            jrdd.unpersist(False)
            return
        plan = df._jdf.queryExecution().analyzed()
        if plan.getClass().getSimpleName() == "LogicalRDD":
            plan.rdd().unpersist(False)
    except Exception:  # pragma: no cover - version-drift fallback
        pass


class VertexLoop:
    """Lifecycle manager for one iterative vertex-state loop.

    ``cached`` is the CALLER-OWNED generation list, released by the
    caller's ``finally`` — the loop shares it by reference and never
    replaces it. ``checkpoint_every`` is the lineage-truncation
    cadence; ``reliable`` switches the lazy ``localCheckpoint`` to a
    reliable ``checkpoint`` (fault-tolerant across executor loss).
    """

    def __init__(
        self,
        cached: list[DataFrame],
        *,
        checkpoint_every: int = 1,
        reliable: bool = False,
        deferred: list[DataFrame] | None = None,
    ) -> None:
        self.cached = cached
        self.checkpoint_every = checkpoint_every
        self.reliable = reliable
        # generations whose lazy checkpoint materializes one action
        # LATE (shortest-paths shape) — released by flush_deferred()
        self.deferred = deferred if deferred is not None else []
        self.iteration = 0

    # -- core cadence step (PageRank / CC / Katz shape) ----------------

    def advance(
        self,
        new_state: DataFrame,
        metrics: dict[str, Column] | None = None,
    ) -> tuple[DataFrame, Row | None]:
        """Run one round's lifecycle on ``new_state``:

        checkpoint-or-persist by cadence, execute the ONE materializing
        scalar aggregation (``metrics``: output name → aggregate
        Column), then sweep every earlier pinned generation if this
        round checkpointed. Returns ``(state, row)`` where ``row`` is
        the metrics Row (None when no metrics were requested).
        """
        self.iteration += 1
        on_ckpt = self.iteration % self.checkpoint_every == 0
        if on_ckpt:
            # Lazy: materializes inside the metrics aggregation below —
            # one job per iteration even at cadence 1. With no metrics
            # to run, eager — the sweep below must not release caches a
            # still-lazy checkpoint would recompute through.
            eager = metrics is None
            new_state = (
                new_state.checkpoint(eager=eager)
                if self.reliable
                else new_state.localCheckpoint(eager=eager)
            )
        else:
            new_state = new_state.persist(StorageLevel.MEMORY_AND_DISK)
            # tracked BEFORE the materializing agg — see module header
            self.cached.append(new_state)
        row = None
        if metrics is not None:
            row = new_state.agg(
                *[c.alias(name) for name, c in metrics.items()]
            ).collect()[0]
        if on_ckpt:
            # the agg (or eager checkpoint) materialized this round's
            # state: every earlier generation is dead weight
            for df in self.cached:
                df.unpersist()
            self.cached.clear()  # in place — the caller's finally shares it
        return new_state, row

    # -- cadence-free helpers (HITS half-steps, frontier loops) --------

    def truncate(self, df: DataFrame, eager: bool = False) -> DataFrame:
        """Lineage-truncate ``df`` outside the cadence (mid-round
        half-steps): lazy by default so the caller's next action
        materializes it."""
        return (
            df.checkpoint(eager=eager)
            if self.reliable
            else df.localCheckpoint(eager=eager)
        )

    def track(self, df: DataFrame) -> DataFrame:
        """Persist ``df`` and track it for the caller's finally —
        BEFORE whatever action materializes it."""
        df = df.persist(StorageLevel.MEMORY_AND_DISK)
        self.cached.append(df)
        return df

    def defer_all_but(self, keep: DataFrame) -> None:
        """Move every tracked generation except ``keep`` to the
        deferred list (released one materializing action LATE — the
        shortest-paths shape, where a lazy checkpoint only
        materializes in the NEXT round's anti-join)."""
        self.deferred.extend(df for df in self.cached if df is not keep)
        self.cached.clear()
        self.cached.append(keep)

    def flush_deferred(self) -> None:
        """Release generations whose lazy checkpoint has now
        materialized (call right after the action that scanned it)."""
        for df in self.deferred:
            df.unpersist()
        self.deferred.clear()
