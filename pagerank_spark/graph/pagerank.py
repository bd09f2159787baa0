"""PageRank as a DataFrame power-iteration loop (SURVEY.md §2.9, G1-G5).

Semantics are pinned to the reference implementation
(``pageRank.py:116-145``), NOT to GraphX/GraphFrames' built-in PageRank
(whose ranks do not sum to 1 — it skips the dangling-mass
renormalization the reference applies every iteration):

    r'[v] = (1-β)/N + β · Σ_{u→v} r[u] / deg(u)        (power step, :125-130)
    s = Σ_v r'[v];  r'[v] += (1-s)/N                    (renormalize, :133-135)
    stop when Σ_v |r'[v] - r[v]| <= δ                   (L1 check,    :138-139,123)

The renormalization constant is computed analytically instead of with a
second aggregation pass: every source vertex's rank is fully distributed
across its out-edges, so

    s = Σ r' = (1-β) + β · m,   m = Σ_{deg(u)>0} r[u] · dfrac(u)

and the correction is ``(1-s)/N = β·(1-m)/N`` — the classic uniform
redistribution of undistributed mass. ``dfrac`` (distributed fraction per
source) is 1 in "bag" mode; in "reference" mode it is
``distinct_out_degree/out_degree``, because the reference distributes
along deduplicated dst sets while dividing by the duplicate-counting
degree (``pageRank.py:102-110``) — its literal ``s = sum(new_rank.
values())`` picks that up automatically, and so does m_eff here. ``m``
is folded into the single per-iteration aggregation, so each iteration
runs ONE aggregation job, plus the broadcast's own job when the rank
vector is broadcast (below).
(The float value of ``s`` differs from the reference's literal
``sum(dict.values())`` only by summation rounding, orders of magnitude
below the 1e-9 golden-score tolerance; verified against the golden
top-100 and the 13-iteration trajectory.)

Scale design (the part that matters at 100 TB):

- The loop state is ONE DataFrame ``(node, deg, rank)`` — carrying the
  out-degree in the state means the L1 convergence check and the
  next-iteration dangling mass come from the same single aggregation,
  with no extra join against a separate degree or old-rank table.
- The loop-invariant ``edges ⋈ degrees`` relation is computed once and
  cached — the analogue of the reference's block-stripe structure
  (``pageRank.py:96-113``), which Spark replaces with a hash-partitioned
  shuffle exchange; no custom block structure is needed (SURVEY §4 X1/X2).
- The per-iteration rank vector joins the edge table by the engine's
  one state-join rule (graph/loop.py ``state_side``): **broadcast** up
  to ``BROADCAST_STATE_ROW_LIMIT`` vertices, **co-partitioned shuffled
  hash join** above it. Edges are pre-partitioned by ``src`` once
  outside the loop, so neither branch ever moves the edge table.
- Contributions aggregate map-side first (partial hash agg) before the
  exchange on ``dst``; AQE skew-join splitting covers hub-vertex skew.
- One tiny driver-side scalar row per iteration (L1 norm + dangling
  mass) drives the loop — the only driver materialization; the rank
  table itself never collects.
- Lineage is truncated with a LAZY ``localCheckpoint`` every
  ``checkpoint_every`` iterations so the logical plan doesn't grow per
  iteration (SURVEY §7.5.1). Lazy means the checkpoint materializes
  inside the iteration's one aggregation job — no dedicated checkpoint
  pass — so truncation is free and the default cadence is EVERY
  iteration. Measured on WikiData (warm, lazy): cadence 1 → 4.9s,
  2 → 5.7s, 3 → 6.5s, never → crash; Catalyst re-analysis of the
  growing plan dominates any plan reuse. (Reliable ``checkpoint()``
  writes state to the checkpoint dir — real I/O per truncation — so
  that mode amortizes over 3 iterations.)

One recurrence serves the whole PageRank family:

    x'[v] = (a + b·dm)·s[v] + c·Σ_{u→v} x[u]·w(u,v)

with ``dm`` the mass on dangling vertices (skipped when b = 0):

    variant                  a     b   s[v]            c    w(u,v)
    pagerank (uniform)       1−β   β   1/N             β    1/deg(u)
    personalized_pagerank    1−β   β   1/|S| on seeds  β    1/deg(u)
    weighted_pagerank        1−β   β   1/N             β    w(u,v)/W(u)
    katz_centrality          1     0   1               α    1

It runs in two shapes. ``_fixed_k`` unrolls k rounds into one lazy DAG
(per-round scalars ride broadcast one-row joins, nothing collects):
the declared fixed-k queries and their SQL twins. ``_iterate`` is the
checkpointed loop body (cached edge layout, one aggregation job per
round, an L1 stop), shared by ``pagerank`` and Katz's loop; there the
per-edge term ``c·x[u]·w(u,v)`` and the per-round constant
``(a + b·dm)·s`` come in as data. HITS alternates A and Aᵀ with a
normalization per half-step, so it keeps its own loop.
"""

from __future__ import annotations

import math
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, Row
from pyspark.sql import functions as F

from pagerank_spark.graph.loop import (
    Pins,
    VertexLoop,
    loop_conf,
    plan_size_bytes,
    rehome,
    state_side,
    state_strategy,
)

# ``loop_conf`` gates (vertex rows) of the loops: HITS and Katz tune
# only tiny graphs, PageRank up to 2M vertices.
TINY_VERTEX_LIMIT = 100_000
PAGERANK_TUNE_VERTEX_LIMIT = 2_000_000

# Setup-phase tuning gate (``loop_conf`` on bytes): the setup
# aggregations run tuned when Catalyst's size estimate of the edge plan
# is at most 64 MiB (≈ 4M edges at 16 bytes/row), one partition per
# 32 MiB. Deliberately conservative: tuning the setup of a 10M-edge
# graph down to 5 partitions measured 3.5s SLOWER (under-parallelized
# distinct+join), so above the gate setup keeps the session's full
# parallelism.
SETUP_TUNE_SIZE_BYTES = 64 << 20
SETUP_BYTES_PER_PARTITION = 32 << 20


@dataclass
class PageRankResult:
    """Converged ranks plus the convergence trajectory."""

    ranks: DataFrame  # (node BIGINT, rank DOUBLE), sums to 1
    iterations: int
    l1_trajectory: list[float]
    strategy: str = "broadcast"  # the state_side branch the loop took

    def top(self, k: int = 100) -> DataFrame:
        return top_k(self.ranks, k)


def vertices(edges: DataFrame) -> DataFrame:
    """A1/U1: distinct vertex set = union of both endpoint columns.

    Reference: ``pageRank.py:47-53`` (list extend + set + sort; the sort is
    an ordering artifact we don't need — hash aggregation doesn't care).
    """
    return (
        edges.select(F.col("src").alias("node"))
        .unionAll(edges.select(F.col("dst").alias("node")))
        .distinct()
    )


def degrees(edges: DataFrame) -> DataFrame:
    """A2: out-degree per source. Reference: ``pageRank.py:90-92``."""
    return edges.groupBy("src").agg(F.count("*").alias("deg"))


def top_k(ranks: DataFrame, k: int = 100) -> DataFrame:
    """O2/O3: top-k by rank desc (ties by node asc), as (page, score).

    Physical plan is TakeOrderedAndProject — per-partition top-k then a
    driver merge of k·P rows; no global sort of the full rank table.
    """
    return (
        ranks.orderBy(F.desc("rank"), F.asc("node"))
        .limit(k)
        .select(F.col("node").alias("page"), F.col("rank").alias("score"))
    )


def pagerank(
    edges: DataFrame,
    beta: float = 0.85,
    delta: float = 1e-5,
    max_iterations: int = 200,
    checkpoint_every: int | None = None,
    edge_semantics: str = "bag",
    reliable_checkpoint: bool | str = "auto",
    init_ranks: DataFrame | None = None,
) -> PageRankResult:
    """Power iteration with dangling-mass renormalization (G1-G4).

    ``init_ranks``: optional (node, rank) warm start — the incremental
    path for periodically refreshed graphs: restart from the previous
    converged vector instead of uniform. The fixed point is unique, so
    the result is unchanged; only the iteration count drops (a small
    graph delta leaves the old vector near the new fixed point). The
    vector is normalized over the CURRENT vertex set (new vertices get
    the uniform share, departed ones are dropped, then ranks rescale to
    sum 1), costing one extra setup aggregation.

    The rank vector joins the edges by ``state_side``'s one size rule
    (graph/loop.py): broadcast up to ``BROADCAST_STATE_ROW_LIMIT``
    vertices, a co-partitioned shuffled hash join above it, the only
    plan that survives a cluster whose rank vector exceeds executor
    memory. ``result.strategy`` names the branch taken.

    ``edge_semantics``: "bag" (default) lets every duplicate edge
    occurrence contribute; "reference" pins the reference's multigraph
    behavior (``pageRank.py:102-110``: dst sets are deduped per src while
    out-degree counts duplicate edges). Identical on simple graphs like
    WikiData; a test pins both on a multigraph.

    ``reliable_checkpoint``: use fault-tolerant ``checkpoint()`` (requires
    ``spark.sparkContext.setCheckpointDir``) instead of ``localCheckpoint``
    — the cluster-mode choice: localCheckpoint blocks die with their
    executor, killing a long iteration chain on any node loss. Default
    "auto" picks reliable whenever a checkpoint dir IS configured, so a
    cluster session that set one up never silently runs the
    non-fault-tolerant mode.

    Returns ranks over the full vertex set, summing to 1, persisted;
    ``Pins().release(result.ranks)`` (graph/loop.py) frees them and the
    last checkpoint they read.
    """
    if edge_semantics not in ("bag", "reference"):
        raise ValueError(f"unknown edge_semantics: {edge_semantics!r}")
    spark = edges.sparkSession
    if reliable_checkpoint == "auto":
        reliable_checkpoint = (
            spark.sparkContext.getCheckpointDir() is not None
        )
    if checkpoint_every is None:
        # Checkpoints are lazy (they materialize inside the iteration's
        # one aggregation job), so with localCheckpoint the truncation
        # is free and EVERY iteration should truncate — measured on
        # WikiData (warm, lazy): cadence 1 → 4.9s, 2 → 5.7s, 3 → 6.5s;
        # Catalyst re-analysis of the growing plan dominates any reuse.
        # Reliable checkpoints write the state table to the checkpoint
        # dir (HDFS/object store) — a real I/O cost per truncation, so
        # amortize over 3 iterations there.
        checkpoint_every = 3 if reliable_checkpoint else 1

    with VertexLoop(
        checkpoint_every=checkpoint_every, reliable=reliable_checkpoint
    ) as loop:
        # Two small-loop conf scopes (``loop_conf``). The vertex count
        # isn't known before setup, so the setup scope is gated on
        # Catalyst's size estimate of the edge plan (no job); the loop
        # scope is then decided from the exact vertex count, so a
        # big-vertex graph loops with AQE's skew handling even when the
        # estimate was small.
        with loop_conf(
            plan_size_bytes(edges),
            edges,
            limit=SETUP_TUNE_SIZE_BYTES,
            per_part=SETUP_BYTES_PER_PARTITION,
        ) as (setup, setup_edges):
            deg, state, counts = _setup(setup_edges, edge_semantics, loop)
        n = counts["n"]
        strategy = state_strategy(n)
        if n == 0:
            empty = state.withColumn("rank", F.lit(0.0)).select(
                "node", "rank"
            )
            return PageRankResult(setup.out(empty), 0, [], strategy)

        with loop_conf(
            n, edges, deg, state, limit=PAGERANK_TUNE_VERTEX_LIMIT
        ) as (scope, edges, deg, state):
            # Loop-invariant: edges decorated with the source's
            # out-degree (reference builds this once too — M_block_list
            # at pageRank.py:159). Built INSIDE the loop scope: it
            # materializes inside the first iteration, so its cached
            # partitioning must match the loop's sizing (a 32-partition
            # cache would put 32 map tasks in every iteration).
            contributing = (
                edges.distinct() if edge_semantics == "reference" else edges
            )
            # Partitioned by src at the loop's sizing, so a
            # co-partitioned rank side reuses this cached exchange.
            edge_deg = loop.hold(
                contributing.join(
                    deg.select("src", "deg"), on="src", how="inner"
                ).repartition(scope.parts, "src")
            )

            if init_ranks is None:
                state = state.withColumn("rank", F.lit(1.0 / n))
                # Distributed mass of the uniform init:
                # Σ_{deg(u)>0} (1/n)·dfrac(u). In bag mode sdfrac ==
                # n_src, giving the classic n_src/n.
                m = (counts["sdfrac"] or 0.0) / n
            else:
                state, m = _warm_start(state, init_ranks, n, loop)

            # G2-G4: the shared loop body. The per-round constant is
            # the teleport plus the renormalization β·(1−m)/n from the
            # previous iterate's distributed mass m (module docstring;
            # in reference mode m is Σ rank·dfrac, so multigraph
            # sources' partial distribution is accounted for), which
            # the same one aggregation per round also returns.
            state, iterations, trajectory = _iterate(
                loop,
                edge_deg,
                state,
                {"m": m},
                value="rank",
                senders=F.col("deg").isNotNull(),
                contrib=F.lit(beta) * F.col("rank") / F.col("deg"),
                const=lambda row: (
                    (1.0 - beta) / n + beta * (1.0 - row["m"]) / n
                ),
                metrics={
                    "m": F.sum(
                        F.when(
                            F.col("deg").isNotNull(),
                            F.col("rank") * F.col("dfrac"),
                        ).otherwise(0.0)
                    )
                },
                rows=n,
                delta=delta,
                max_iterations=max_iterations,
            )
            final = loop.result(state.select("node", "rank"))
            return PageRankResult(
                scope.out(final), iterations, trajectory, strategy
            )


def _setup(
    edges: DataFrame, edge_semantics: str, pins: Pins
) -> tuple[DataFrame, DataFrame, Row]:
    """Out-degrees (with ``dfrac``), the vertex state ``(node, deg,
    dfrac)`` (held by ``pins``), and its counts row ``(n, n_src,
    sdfrac)``."""
    # Out-degrees are computed ONCE and reused for both the decorated edge
    # relation and the state init (was: two scans+aggs of the edge table).
    deg = degrees(edges)

    # ``dfrac`` = fraction of a source's rank actually distributed by the
    # power step. In "bag" mode every edge occurrence contributes, so it's
    # exactly 1. In "reference" mode contributions flow along DISTINCT
    # (src, dst) pairs while deg counts duplicates (``pageRank.py:102-110``),
    # so a multigraph source distributes only rank·(distinct_deg/deg); the
    # renormalization must then use m_eff = Σ rank·dfrac, not Σ rank —
    # that is what the reference's literal ``s = sum(new_rank.values())``
    # computes implicitly. With dfrac carried in the loop state, m_eff
    # folds into the same single per-iteration aggregation.
    if edge_semantics == "reference":
        ddeg = edges.distinct().groupBy("src").agg(F.count("*").alias("ddeg"))
        deg = deg.join(ddeg, on="src", how="inner").select(
            "src", "deg", (F.col("ddeg") / F.col("deg")).alias("dfrac")
        )
    else:
        deg = deg.withColumn("dfrac", F.lit(1.0))

    # G1: uniform init over the full vertex set, with out-degree attached
    # (deg NULL ⇔ dangling vertex). One cached state relation per iterate.
    state = pins.hold(
        vertices(edges)
        .join(deg, on=[F.col("node") == F.col("src")], how="left")
        .select("node", "deg", "dfrac")
    )
    counts = state.agg(
        F.count("*").alias("n"),
        F.count("deg").alias("n_src"),
        F.sum("dfrac").alias("sdfrac"),
    ).collect()[0]
    return deg, state, counts


def _warm_start(
    state: DataFrame, init_ranks: DataFrame, n: int, loop: VertexLoop
) -> tuple[DataFrame, float]:
    """Previous vector onto the current vertex set (new vertices →
    uniform share), renormalized to sum exactly 1 so the analytic
    dangling correction stays valid from iteration 1. Returns the
    state and its distributed mass."""
    # a generation: released at the loop's first checkpoint sweep
    warm = loop.persist(
        state.join(
            rehome(init_ranks, state.sparkSession).select(
                "node", F.col("rank").alias("__r0")
            ),
            on="node",
            how="left",
        ).select(
            "node",
            "deg",
            "dfrac",
            F.coalesce(F.col("__r0"), F.lit(1.0 / n)).alias("rank"),
        )
    )
    row0 = warm.agg(
        F.sum("rank").alias("t"),
        F.sum(
            F.when(
                F.col("deg").isNotNull(), F.col("rank") * F.col("dfrac")
            ).otherwise(0.0)
        ).alias("mraw"),
    ).collect()[0]
    total = row0["t"] or 1.0
    state = warm.withColumn("rank", F.col("rank") / F.lit(float(total)))
    return state, (row0["mraw"] or 0.0) / total


def _iterate(
    loop: VertexLoop,
    edges: DataFrame,
    state: DataFrame,
    row: Row | dict | None,
    *,
    value: str,
    senders: Column,
    contrib: Column,
    const: Callable[[Row | dict | None], float],
    metrics: dict[str, Column],
    rows: int,
    delta: float,
    max_iterations: int,
) -> tuple[DataFrame, int, list[float]]:
    """The loop shape of the shared recurrence: rounds of

        x'[v] = const(row) + Σ_{u→v} contrib

    over the cached edge layout ``edges`` until the round's L1 change
    is ``<= delta`` or ``max_iterations`` rounds ran.

    ``state`` is ``(node, *carried, value)``; ``senders`` picks the
    state rows joined as sources; ``contrib`` is the per-edge term,
    evaluated over ``edges`` joined to the sources' ``(src, value)``;
    ``const`` maps the previous round's metrics row (``row`` before the
    first round) to this round's scalar; ``metrics`` are extra
    aggregates of the round's ONE aggregation job, beside ``l1``. The
    source side is planned by ``state_side`` on ``rows``, its size
    estimate; a broadcast side adds the broadcast's own job per round.
    Lineage is truncated by ``loop`` (graph/loop.py
    ``VertexLoop.advance``): the lazy checkpoint materializes inside
    the round's aggregation.

    Returns ``(state, rounds run, L1 per round)``.
    """
    carried = [c for c in state.columns if c not in ("node", value)]
    trajectory: list[float] = []
    iteration = 0
    while iteration < max_iterations:
        iteration += 1
        side = state_side(
            state.where(senders).select(F.col("node").alias("src"), value),
            rows,
            "src",
        )
        # One equi-join + partial-agg group-sum, then a left join back
        # to the full vertex set so in-edge-less vertices keep the
        # constant term (the reference gets that via dict re-init at
        # pageRank.py:125).
        sums = (
            edges.join(side, on="src")
            .groupBy(F.col("dst").alias("node"))
            .agg(F.sum(contrib).alias("__c"))
        )
        pre = (
            state.select("node", *carried, F.col(value).alias("__old"))
            .join(sums, on="node", how="left")
            .select(
                "node",
                *carried,
                "__old",
                (
                    F.lit(const(row)) + F.coalesce(F.col("__c"), F.lit(0.0))
                ).alias(value),
            )
        )
        pre, row = loop.advance(
            pre,
            metrics={
                "l1": F.sum(F.abs(F.col(value) - F.col("__old"))),
                **metrics,
            },
        )
        l1 = row["l1"] or 0.0
        trajectory.append(l1)
        state = pre.select("node", *carried, value)
        if l1 <= delta:
            break
    return state, iteration, trajectory


def compare_teleports(
    edges: DataFrame,
    betas: tuple[float, ...] = (0.80, 0.85, 0.90),
    delta: float = 1e-5,
    k: int = 100,
    max_iterations: int | None = None,
) -> DataFrame:
    """G5 parameter sweep (reference README-only ``compare_teleports``).

    Runs the pipeline per β, attaches 1-based positions (W1 row_number),
    and joins on position (J4) so each row compares the page ranked at
    position *i* across all runs, plus an ``all_match`` flag.

    ``max_iterations`` caps each run's power iterations (pass with
    ``delta=0.0`` for a fixed-iteration sweep — the SURVEY §5.3
    deterministic variant an exact SQL twin can reproduce). Ordering is
    on scores rounded to 9 decimals with page-id tiebreak, so positions
    don't depend on sub-1e-9 float summation-order noise.
    """
    from pyspark.sql import Window

    score9 = F.round("score", 9)
    w = Window.orderBy(F.desc(score9), F.asc("page"))
    kwargs = {} if max_iterations is None else {"max_iterations": max_iterations}
    out = None
    with Pins() as pins:
        for beta in betas:
            res = pagerank(edges, beta=beta, delta=delta, **kwargs)
            # k rows, cut from the ranks: the returned frame is read
            # after the ranks' pins are released
            t = pins.truncate(
                pins.adopt(res.ranks).select(
                    F.col("node").alias("page"), F.col("rank").alias("score")
                )
                .orderBy(F.desc(score9), F.asc("page"))
                .limit(k)
                .withColumn("position", F.row_number().over(w))
                .select("position", F.col("page").alias(f"page_{_beta_tag(beta)}")),
                eager=True,
            )
            pins.release(res.ranks)
            out = t if out is None else out.join(t, on="position", how="inner")
        page_cols = [c for c in out.columns if c.startswith("page_")]
        all_match = F.lit(True)
        for c in page_cols[1:]:
            all_match = all_match & (F.col(page_cols[0]) == F.col(c))
        return pins.keep(
            out.withColumn("all_match", all_match).orderBy("position")
        )


def _beta_tag(beta: float) -> str:
    return str(beta).replace(".", "_")


def personalized_pagerank(
    edges: DataFrame,
    seeds: DataFrame,
    beta: float = 0.85,
    iterations: int = 2,
) -> DataFrame:
    """Personalized PageRank: teleport (and dangling) mass returns to
    the seed set instead of the whole graph. Returns (node, rank).

    Extension tier (the reference teleports uniformly; README.md's
    ``compare_teleports`` sweeps β only). Fixed-iteration synchronous
    power steps starting from the teleport distribution (uniform over
    seeds), so the declared 2-iteration query has an exact SQL twin:

        r'[v] = (1-β+β·dm)·s[v] + β·Σ_{u→v} r[u]/deg(u)

    with ``s[v] = 1/|S|`` on seeds (0 elsewhere) and ``dm`` the dangling
    mass Σ_{deg(u)=0} r[u] of the previous iterate — ranks sum to 1
    every iteration.

    Scale shape: ``_fixed_k``'s one lazy DAG — |S| and dm are
    single-row aggregates attached by broadcast cross join, never
    collected to the driver, so the operator composes inside a larger
    declared query. For high iteration counts prefer the
    convergence-looped ``pagerank`` shape (per-iteration
    checkpointing); this fixed-k form targets k ≤ ~4.
    """
    seed_set = seeds.select("node").distinct()
    n_seeds = F.broadcast(seed_set.agg(F.count("*").alias("__ns")))
    base = (
        vertices(edges)
        .join(degrees(edges), on=[F.col("node") == F.col("src")], how="left")
        .join(
            seed_set.withColumn("__is_seed", F.lit(1)), on="node", how="left"
        )
        .crossJoin(n_seeds)
        .select(
            "node",
            F.col("deg").alias("out"),
            (
                F.coalesce(F.col("__is_seed"), F.lit(0)) / F.col("__ns")
            ).alias("s"),
        )
    )
    return _fixed_k(
        edges.select("src", "dst"),
        base,
        F.col("s"),
        F.lit(beta) * F.col("x") / F.col("out"),
        a=1.0 - beta,
        b=beta,
        iterations=iterations,
    ).select("node", F.col("x").alias("rank"))


def weighted_pagerank(
    edges: DataFrame,
    beta: float = 0.85,
    iterations: int = 2,
    weight_col: str = "w",
) -> DataFrame:
    """Weighted PageRank: contributions split ∝ edge weight instead of
    uniformly. Returns (node, rank).

    Extension tier (the reference's loop — pageRank.py:117-139 — is
    unweighted). Each step:

        r'[v] = (1-β)/n + β·dm/n + β·Σ_{u→v} r[u]·w(u,v)/W(u)

    with ``W(u)`` the sum of u's outgoing weights and ``dm`` the
    dangling mass — ranks sum to 1 every iteration. Fixed-iteration
    synchronous form so a k-step declared query has an exact SQL twin
    (same ``_fixed_k`` DAG as ``personalized_pagerank``); swap in the
    convergence-looped shape of ``pagerank`` for large k.

    Scale shape: one weight-sum aggregation up front (reused every
    iteration, analogous to the degree table), then per iteration one
    shuffle join + one partial-agg sum; the scalars (n, dm) ride along
    as broadcast single-row joins — nothing collects to the driver.
    """
    e = edges.select("src", "dst", F.col(weight_col).alias("w"))
    wsum = e.groupBy(F.col("src").alias("node")).agg(F.sum("w").alias("out"))
    verts = vertices(e)
    n = F.broadcast(verts.agg(F.count("*").alias("__n")))
    base = (
        verts.join(wsum, on="node", how="left")
        .crossJoin(n)
        .select("node", "out", (1.0 / F.col("__n")).alias("s"))
    )
    return _fixed_k(
        e,
        base,
        F.col("s"),
        F.lit(beta) * F.col("x") * F.col("w") / F.col("out"),
        a=1.0 - beta,
        b=beta,
        iterations=iterations,
    ).select("node", F.col("x").alias("rank"))


def _fixed_k(
    edges: DataFrame,
    base: DataFrame,
    x0: Column,
    contrib: Column,
    *,
    a: float,
    b: float,
    iterations: int,
) -> DataFrame:
    """The DAG shape of the shared recurrence: ``iterations`` unrolled
    synchronous rounds of

        x'[v] = (a + b·dm)·s[v] + Σ_{u→v} contrib

    from ``x = x0``, built as ONE lazy DAG that runs no job.

    ``base`` is the static vertex relation ``(node, s, *carried)``;
    ``contrib`` is the per-edge term, evaluated over ``edges`` joined
    to the sources' ``(src, x, *carried)``. ``dm`` is Σ x over the
    dangling vertices (``out`` NULL, so b ≠ 0 needs an ``out`` column
    in ``base``), a one-row aggregate riding a broadcast cross join;
    b = 0 plans no such aggregation.

    Each round's left side is the static ``base``; the previous round
    is read once as the source side, plus once for dm when b ≠ 0. The
    plan therefore stays linear in k for b = 0 and doubles per round
    otherwise — fine for the declared k ≤ ~4. Returns ``(node, x)``.
    """
    carried = [c for c in base.columns if c not in ("node", "s")]
    state = base.withColumn("x", x0)
    for _ in range(iterations):
        sums = (
            edges.join(
                state.select(F.col("node").alias("src"), "x", *carried),
                on="src",
            )
            .groupBy(F.col("dst").alias("node"))
            .agg(F.sum(contrib).alias("__c"))
        )
        nxt = base.join(sums, on="node", how="left")
        k = F.lit(a)
        if b:
            dm = state.where(F.col("out").isNull()).agg(
                F.coalesce(F.sum("x"), F.lit(0.0)).alias("__dm")
            )
            nxt = nxt.crossJoin(F.broadcast(dm))
            k = k + F.lit(b) * F.col("__dm")
        state = nxt.select(
            *base.columns,
            (k * F.col("s") + F.coalesce(F.col("__c"), F.lit(0.0))).alias(
                "x"
            ),
        )
    return state.select("node", "x")


def hits(
    edges: DataFrame,
    iterations: int = 2,
    *,
    delta: float | None = None,
    max_iterations: int | None = None,
) -> DataFrame:
    """HITS hubs-and-authorities (Kleinberg 1999): the other classic
    link-analysis fixed point beside PageRank. Returns
    ``(node, hub, auth)`` after synchronous rounds of

        a[v] ∝ Σ_{u→v} h[u]        (authority: pointed to by good hubs)
        h[u] ∝ Σ_{u→v} a[v]        (hub: points at good authorities)

    each L1-normalized (scores sum to 1 — keeps the fixed-iteration
    algebra rational, so a declared k-step query has an exact SQL
    twin; the classical L2 norm only rescales the ranking).

    Runs as the checkpointed loop ``_hits_loop``: edges cached once,
    per-round lazy localCheckpoint truncating lineage, plan-side
    normalization constants, cost linear in k. Without ``delta`` it
    runs ``max_iterations`` rounds (default ``iterations``); with
    ``delta`` set, it iterates until the combined L1 change of both
    vectors is ≤ delta (capped by ``max_iterations``, default 100).

    Extension tier: same family as the reference's PageRank loop
    (``pageRank.py:116-145``) but the two-sided mutual-reinforcement
    recursion, so it does not run on the shared recurrence.
    """
    if delta is None and iterations < 1:
        raise ValueError(f"hits: iterations must be >= 1, got {iterations}")
    return _hits_loop(
        edges,
        delta=0.0 if delta is None else delta,
        max_iterations=(
            max_iterations
            if max_iterations is not None
            else (iterations if delta is None else 100)
        ),
    )


def _hits_loop(
    edges: DataFrame, *, delta: float, max_iterations: int
) -> DataFrame:
    """Convergence-loop HITS on the ``pagerank`` checkpoint pattern.

    Edges cached once; per iteration two equi-join + partial-agg jobs
    (authority half-step, hub half-step) over a lazy-localCheckpointed
    vertex-sized state — lineage never grows, edges scan from cache.
    Normalization constants stay PLAN-SIDE as broadcast one-row
    relations (never per-round driver collects): for fixed-k runs the
    whole loop is then a single final action — zero driver round trips
    per iteration — and for delta-convergence runs the authority and
    hub L1 deltas fold into ONE scalar action per round (the previous
    shape paid three: s_a collect, s_h+l1a collect, l1h collect).
    Measured A/B in GRAPH_LOOP_AB.json. The convergence metric is
    ``L1(auth_t - auth_{t-1}) + L1(hub_t - hub_{t-1})`` (delta=0 → run
    exactly ``max_iterations`` rounds, equal to q124's unrolled SQL
    twin up to float summation order).

    Hub contributions aggregate the UNNORMALIZED authority vector: the
    hub normalization divides by the sum anyway, so the s_a factor
    cancels and each half-step needs only one scalar.

    Join strategy: HITS joins edges on BOTH ends (src for the
    authority step, dst for the hub step), so the loop caches TWO
    pre-partitioned edge layouts, and each half-step plans its
    vertex-sized side with ``state_side`` (broadcast, or co-partitioned
    with that half-step's layout) — no per-round exchange moves the
    edge table. The 2× edge cache is the price of zero per-round edge
    movement above the cut; a memory-tight cluster can keep one layout
    and accept one edge shuffle per round.
    """
    e = edges.select("src", "dst")
    with VertexLoop() as loop:
        verts = loop.hold(vertices(e))
        n = verts.count()
        if n == 0:
            return verts.select(
                "node", F.lit(0.0).alias("hub"), F.lit(0.0).alias("auth")
            )
        # Same small-loop tuning as the PageRank loop: AQE's runtime
        # coalescing re-plans every round (breaking reuse of the cached
        # edge partitioning) and the session's shuffle sizing is far
        # too wide for a small graph's vertex-sized exchanges.
        with loop_conf(n, e, verts, limit=TINY_VERTEX_LIMIT) as (
            scope, e, verts
        ):
            e_src = loop.hold(e.repartition(scope.parts, "src"))
            e_dst = loop.hold(e.repartition(scope.parts, "dst"))
            # the initial state at the loop's width, so every round's
            # join back to it runs at ``scope.parts``
            state = verts.repartition(scope.parts, "node").select(
                "node",
                F.lit(1.0 / n).alias("hub"),
                F.lit(1.0 / n).alias("auth"),
            )
            return scope.out(
                _hits_iterate(
                    loop, e_src, e_dst, state, n, max_iterations, delta
                )
            )


def _hits_iterate(
    loop: VertexLoop,
    e_src: DataFrame,
    e_dst: DataFrame,
    state: DataFrame,
    n: int,
    max_iterations: int,
    delta: float,
) -> DataFrame:

    def _norm(col: str) -> Column:
        # empty/zero sum -> divide by 1 (keeps the all-zero vector),
        # matching the old `collect()[0][col] or 1.0` driver guard
        s = F.col(col)
        return F.when(F.coalesce(s, F.lit(0.0)) == 0.0, 1.0).otherwise(s)

    # HITS is the TWO-half-step variant of the shared loop: each round
    # truncates lineage twice (after the authority and hub steps), and
    # the per-round scalar is conditional on delta — so it uses the
    # owner's cadence-free truncate() rather than advance().
    iteration = 0
    while iteration < max_iterations:
        iteration += 1
        contrib_a = (
            e_src.join(
                state_side(
                    state.select(F.col("node").alias("src"), "hub"), n, "src"
                ),
                on="src",
            )
            .groupBy(F.col("dst").alias("node"))
            .agg(F.sum("hub").alias("__ca"))
        )
        mid = (
            state.select(
                "node",
                F.col("hub").alias("old_hub"),
                F.col("auth").alias("old_auth"),
            )
            .join(contrib_a, on="node", how="left")
            .select(
                "node",
                "old_hub",
                "old_auth",
                F.coalesce(F.col("__ca"), F.lit(0.0)).alias("va"),
            )
        )
        mid = loop.truncate(mid)
        s_a = F.broadcast(mid.agg(F.sum("va").alias("__sa")))
        contrib_h = (
            e_dst.join(
                state_side(
                    mid.select(F.col("node").alias("dst"), "va"), n, "dst"
                ),
                on="dst",
            )
            .groupBy(F.col("src").alias("node"))
            .agg(F.sum("va").alias("__ch"))
        )
        nxt = (
            mid.join(contrib_h, on="node", how="left")
            .crossJoin(s_a)
            .select(
                "node",
                "old_hub",
                "old_auth",
                (F.col("va") / _norm("__sa")).alias("auth"),
                F.coalesce(F.col("__ch"), F.lit(0.0)).alias("vh"),
            )
        )
        nxt = loop.truncate(nxt)
        s_h = F.broadcast(nxt.agg(F.sum("vh").alias("__sh")))
        scored = nxt.crossJoin(s_h).select(
            "node",
            (F.col("vh") / _norm("__sh")).alias("hub"),
            "auth",
            "old_hub",
            "old_auth",
        )
        if delta > 0:
            # The ONE driver action per round: both L1 deltas in a
            # single scan of the checkpointed vertex-sized relation.
            row = scored.agg(
                F.sum(F.abs(F.col("auth") - F.col("old_auth"))).alias(
                    "l1a"
                ),
                F.sum(F.abs(F.col("hub") - F.col("old_hub"))).alias("l1h"),
            ).collect()[0]
            # the scan materialized this round's checkpoints: every
            # earlier one is dead (a fixed-k run has no such scan, so
            # its checkpoints live until the result materializes)
            loop.sweep(nxt)
        state = scored.select("node", "hub", "auth")
        if delta > 0 and (row["l1a"] or 0.0) + (row["l1h"] or 0.0) <= delta:
            break
    return loop.result(state)


def katz_centrality(
    edges: DataFrame,
    alpha: float = 0.1,
    iterations: int = 3,
    *,
    delta: float | None = None,
    max_iterations: int | None = None,
    mode: str = "auto",
) -> DataFrame:
    """Katz centrality, fixed-iteration form: counts in-paths of every
    length, geometrically damped —

        x_{t+1}[v] = 1 + α · Σ_{u→v} x_t[u],   x_0 = 0

    so after k rounds ``x_k[v] = Σ_{j<=k-1} α^j · (#paths of length j
    ending at v)`` — the truncated Katz series over path lengths
    0..k-1 (x_1 = 1 is the j=0 term; converges for α below the
    inverse spectral radius). Returns (node, katz).

    Extension tier — the damped-path cousin of PageRank that does NOT
    divide by out-degree, so prolific linkers transfer full weight:
    the shared recurrence with a = 1, b = 0, s = 1, c = α, w = 1.
    ``mode="dag"`` (auto default for fixed k): ``_fixed_k``'s one lazy
    DAG — per round one edge join + one partial-combined aggregation,
    no driver collects, no scalar aggregation at all. Edges and
    vertices stay uncached: Catalyst's size estimates on the raw plan
    keep every round's join a broadcast, while caching swaps in
    InMemoryRelation stats that flip the joins to sort-merge (measured
    3× SLOWER on an unrolled HITS DAG, 17s vs 5s at sf0.1, k=2). Katz
    references its state ONCE per round, so the unrolled plan stays
    linear: measured at sf0.1 (warm best-of-2) dag wins at every
    tested k — k=3 1.6s vs loop 3.4s, k=10 3.2 vs 6.8, k=40 20.9 vs
    24.1 (converging slopes; the loop's per-round scalar-collect
    overhead dominates at this scale). ``mode="loop"`` (auto when
    ``delta`` is set): the shared loop body over cached edges, lazy
    localCheckpoint per round, one scalar agg driving the
    ``L1(x_t - x_{t-1}) <= delta`` stop. On a cluster where the edge
    table exceeds page cache, the dag's k cold re-scans dominate and
    the loop's one cached scan wins far earlier — force
    ``mode="loop"`` there.
    """
    if delta is None and iterations < 1:
        raise ValueError(
            f"katz_centrality: iterations must be >= 1, got {iterations}"
        )
    if mode not in ("auto", "dag", "loop"):
        raise ValueError(f"katz_centrality: unknown mode {mode!r}")
    if mode == "auto":
        mode = "loop" if delta is not None else "dag"
    if mode == "loop":
        return _katz_loop(
            edges,
            alpha,
            # no delta: never stop on L1, run exactly the rounds asked
            delta=-math.inf if delta is None else delta,
            max_iterations=(
                max_iterations
                if max_iterations is not None
                else (iterations if delta is None else 100)
            ),
        )
    e = edges.select("src", "dst")
    return _fixed_k(
        e,
        vertices(e).select("node", F.lit(1.0).alias("s")),
        F.lit(0.0),
        F.lit(alpha) * F.col("x"),
        a=1.0,
        b=0.0,
        iterations=iterations,
    ).select("node", F.col("x").alias("katz"))


def _katz_loop(
    edges: DataFrame,
    alpha: float,
    *,
    delta: float,
    max_iterations: int,
) -> DataFrame:
    """Convergence-loop Katz on the shared loop body (``_iterate``):
    cached SRC-PARTITIONED edges, the state side planned by
    ``state_side`` (neither branch moves the edge table), per round
    ONE aggregation job (edge join + partial agg + the L1 scalar,
    materializing the lazy localCheckpoint) plus the broadcast's own
    job on the broadcast branch, lineage truncated every round; small
    graphs get the PageRank loop's AQE-off + vertex-sized partition
    tuning. delta=-inf → exactly ``max_iterations`` rounds, matching
    the unrolled DAG up to float summation order."""
    base = edges.select("src", "dst")
    with VertexLoop() as loop:
        verts = loop.hold(vertices(base))
        n = verts.count()
        # an empty graph runs untuned
        with loop_conf(n or None, base, verts, limit=TINY_VERTEX_LIMIT) as (
            scope, base, verts
        ):
            e = loop.hold(base.repartition(scope.parts, "src"))
            state, _, _ = _iterate(
                loop,
                e,
                # at the loop's width, like HITS's initial state
                verts.repartition(scope.parts, "node").select(
                    "node", F.lit(0.0).alias("katz")
                ),
                None,
                value="katz",
                senders=F.lit(True),
                contrib=F.lit(alpha) * F.col("katz"),
                const=lambda _: 1.0,
                metrics={},
                rows=n,
                delta=delta,
                max_iterations=max_iterations,
            )
            return scope.out(loop.result(state))
