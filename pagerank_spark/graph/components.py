"""Generic message-passing and connected components on edge DataFrames.

``aggregate_messages`` is the Pregel-style primitive the PageRank loop
specializes: attach vertex state to edge endpoints, send an expression
along each edge, aggregate at the destination. ``connected_components``
builds min-label propagation on top of it — the standard iterative
algorithm (converges in graph-diameter rounds), with the same
persist/checkpoint/one-job-per-iteration discipline as the PageRank loop
(``pagerank.py``), so it scales the same way: per round, one shuffle on
the message key plus one scalar convergence collect.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from pagerank_spark.graph.loop import Pins, VertexLoop, loop_conf
from pagerank_spark.graph.pagerank import vertices

# Below this bound on the loop's STATE rows (vertex-table-sized; the
# wrappers bound it by the edge count they already compute), the
# per-round state joins broadcast instead of shuffling — the same cut
# the PageRank loop applies via broadcast_vertex_limit (~5M rows ≈
# 80 MB hashed). With AQE off inside the loop tuning, Catalyst has no
# runtime sizes for the derived per-round intermediates and would
# default the joins to sort-merge, shuffling the big edge side every
# round; the explicit hint keeps the only per-round exchange the
# message aggregation itself. Above the bound the hint is withheld
# and the joins shuffle — correct at cluster scale.
BROADCAST_STATE_ROW_LIMIT = 5_000_000

# connected_components auto mode: label-propagation round budget before
# falling back to star contraction. Real web/social graphs propagate
# min labels in well under 30 rounds (CC_PROBE.json: attachment-tree
# topology converges in ~log2 V ≈ 22 at 3M vertices); only
# pathological long-chain components exhaust this and trigger the
# diameter-independent fallback.
LABEL_FALLBACK_ROUNDS = 30


def _bc(df: DataFrame, broadcast_state: bool) -> DataFrame:
    return F.broadcast(df) if broadcast_state else df


def aggregate_messages(
    edges: DataFrame,
    vertex_state: DataFrame,
    msg: Column,
    agg: Column,
    broadcast_state: bool = False,
) -> DataFrame:
    """One message round: for each edge, evaluate ``msg`` over the edge
    row joined with the source's state (columns of ``vertex_state``
    except ``node``), then aggregate ``agg`` per destination.

    Returns (node, msg_agg) for destinations that received ≥1 message.
    ``broadcast_state`` pins the state side of the join as a broadcast
    (callers gate it on ``BROADCAST_STATE_ROW_LIMIT``); otherwise the
    join broadcasts or shuffles per Catalyst's choice. The aggregate
    partial-combines map-side either way.
    """
    src_state = vertex_state.select(
        F.col("node").alias("src"),
        *[c for c in vertex_state.columns if c != "node"],
    )
    return (
        edges.join(_bc(src_state, broadcast_state), on="src")
        .select(F.col("dst").alias("node"), msg.alias("__msg"))
        .groupBy("node")
        .agg(agg.alias("msg_agg"))
    )


def undirected_edges(edges: DataFrame) -> DataFrame:
    """The distinct undirected edge set of ``edges``: self-loops
    dropped, each edge once as ``(src, dst)`` with ``src < dst``."""
    return (
        edges.where(F.col("src") != F.col("dst"))
        .select(
            F.least("src", "dst").alias("src"),
            F.greatest("src", "dst").alias("dst"),
        )
        .distinct()
    )


def triangles(und: DataFrame) -> DataFrame:
    """Every triangle of the undirected edge set ``und`` (as returned
    by ``undirected_edges``) exactly once, as ``(a, b, c)`` with
    ``a < b < c``.

    The canonical two-join plan: paths a→b→c over the ``src < dst``
    edges, closed by an (a, c) edge. Both joins are equi-joins on node
    keys (shuffle or broadcast per Catalyst); no enumeration of wedges
    beyond the join itself.
    """
    e1 = und.select(F.col("src").alias("a"), F.col("dst").alias("b"))
    e2 = und.select(F.col("src").alias("b"), F.col("dst").alias("c"))
    e3 = und.select(F.col("src").alias("a"), F.col("dst").alias("c"))
    return e1.join(e2, on="b").join(e3, on=["a", "c"]).select("a", "b", "c")


def triangle_count(edges: DataFrame) -> DataFrame:
    """Global triangle count of the distinct undirected graph: each
    triangle counted once (``triangles``). Returns one row:
    (n_triangles).
    """
    return triangles(undirected_edges(edges)).agg(
        F.count("*").alias("n_triangles")
    )


def connected_components(
    edges: DataFrame,
    max_iterations: int = 50,
    checkpoint_every: int = 1,
    tune: bool = True,
    algorithm: str = "auto",
) -> DataFrame:
    """Undirected connected components: (node, component) where
    ``component`` is the minimum node id in the node's component.

    Two algorithms, selected by ``algorithm``:

    - ``"label"`` — min-label propagation: each round every vertex
      takes the min of its own label and its neighbors' labels; stops
      when no label changes. Rounds scale with the label propagation
      DISTANCE (≈ how far each node is from its component's min-id
      node) — cheap fixed cost per round, ideal for small or
      low-diameter graphs; raises if ``max_iterations`` is exhausted
      before convergence.
    - ``"star"`` — alternating large-star/small-star contraction
      (Kiveris et al., "Connected Components in MapReduce and
      Beyond"): rounds are O(log²) in the component size REGARDLESS of
      diameter — the cluster-scale choice, and the only one that
      terminates usefully on long-path/chain components (near-dup
      chains produce exactly those).
    - ``"auto"`` — HYBRID, validated by ``CC_PROBE.json``: run label
      propagation with a bounded round budget
      (``min(LABEL_FALLBACK_ROUNDS, max_iterations)``) and fall back
      to star contraction on non-convergence. Measured at local[32]:
      label beats star on low-diameter graphs at BOTH probe sizes
      (1M edges: 7.7s vs 12.5s; 10M edges: 20.4s vs 34.9s — the old
      size-based cut wrongly picked star above 5M state rows), while
      on a 100k-diameter chain graph label cannot converge in any
      usable budget (~100k rounds needed) and star finishes in
      O(log²) rounds. Diameter is unknowable a priori, so the budget
      IS the detector: real web/social graphs propagate min labels in
      well under ``LABEL_FALLBACK_ROUNDS`` rounds; pathological
      long-chain components (e.g. near-dup pair chains) exhaust it
      and pay one label-budget's cost before the star restart.

    Small-graph loops run under ``loop_conf`` (AQE off,
    right-sized shuffle) — the same measured tuning the PageRank loop
    applies; a no-op above ``SMALL_LOOP_EDGE_LIMIT`` edges. Pass
    ``tune=False`` (mirroring ``pagerank(tune_aqe=False)``) in sessions
    shared with concurrent queries: the tuning flips session-global
    confs for the duration of the loop.
    """
    if algorithm not in ("auto", "label", "star"):
        raise ValueError(f"unknown algorithm: {algorithm!r}")
    spark = edges.sparkSession
    approx = 2 * edges.count()
    small = approx <= BROADCAST_STATE_ROW_LIMIT
    with loop_conf(spark, approx, enabled=tune):
        if algorithm == "auto":
            budget = min(LABEL_FALLBACK_ROUNDS, max_iterations)
            try:
                return _cc_rounds(edges, budget, checkpoint_every, small)
            except RuntimeError:
                # label budget exhausted: high-diameter component —
                # restart with the diameter-independent contraction
                return _star_rounds(edges, max_iterations, small)
        if algorithm == "star":
            return _star_rounds(edges, max_iterations, small)
        return _cc_rounds(edges, max_iterations, checkpoint_every, small)


def _star_rounds(
    edges: DataFrame,
    max_iterations: int,
    broadcast_state: bool,
) -> DataFrame:
    """Alternating large-star/small-star (Kiveris et al.): contract the
    edge list toward a star forest where every node points at its
    component's minimum id. Diameter-independent — O(log²) rounds.

    Per round (two shuffle-bounded steps, no collect_list so hub
    neighborhoods never materialize in one task):

    - large-star: with the symmetric neighbor view, every neighbor
      LARGER than u repoints to ``m(u) = min(N(u) ∪ {u})``.
    - small-star: on the resulting (child > parent) list, every parent
      of u except the minimum repoints to that minimum, and u follows.

    Convergence: the small-star output is compared to the previous
    round's edge set with an anti join (exact, order-free); a stable
    set IS the star forest. Output matches the label algorithm exactly:
    (node, component) over the full vertex set, component = min id.
    Every pin is eager: each is read by two plan branches.
    """
    with Pins() as pins:
        verts = pins.hold(vertices(edges))
        # child → smaller parent orientation
        cur = pins.truncate(
            undirected_edges(edges).select(
                F.col("dst").alias("src"), F.col("src").alias("dst")
            ),
            eager=True,
        )

        iteration = 0
        while iteration < max_iterations:
            iteration += 1
            sym = cur.unionAll(
                cur.select(
                    F.col("dst").alias("src"), F.col("src").alias("dst")
                )
            )
            # m(u) = min over neighborhood incl. self.
            mn = sym.groupBy("src").agg(
                F.least(F.min("dst"), F.first("src")).alias("m")
            )
            big = pins.truncate(
                sym.where(F.col("dst") > F.col("src"))
                .join(_bc(mn, broadcast_state), on="src")
                .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
                .where(F.col("src") != F.col("dst"))
                .distinct(),
                eager=True,
            )
            # small-star over the (child → smaller parent) list.
            pm = big.groupBy("src").agg(F.min("dst").alias("m"))
            small_edges = pins.truncate(
                big.join(_bc(pm, broadcast_state), on="src")
                .where(F.col("dst") != F.col("m"))
                .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
                .unionAll(pm.select(F.col("src"), F.col("m").alias("dst")))
                .where(F.col("src") != F.col("dst"))
                .distinct(),
                eager=True,
            )
            changed = (
                small_edges.join(cur, on=["src", "dst"], how="left_anti")
                .unionAll(
                    cur.join(small_edges, on=["src", "dst"], how="left_anti")
                )
                .limit(1)
                .count()
            )
            pins.sweep(small_edges)  # this round's cur and big
            cur = small_edges
            if changed == 0:
                break
        else:
            raise RuntimeError(
                "star contraction did not converge within "
                f"max_iterations={max_iterations} — unexpected (rounds are "
                "O(log² component size)); raise max_iterations"
            )

        return pins.result(
            verts.join(
                cur.select(
                    F.col("src").alias("node"), F.col("dst").alias("__c")
                ),
                on="node",
                how="left",
            ).select(
                "node", F.coalesce("__c", F.col("node")).alias("component")
            )
        )


def _cc_rounds(
    edges: DataFrame,
    max_iterations: int,
    checkpoint_every: int,
    broadcast_state: bool,
) -> DataFrame:
    with VertexLoop(checkpoint_every=checkpoint_every) as loop:
        und = loop.hold(
            edges.select("src", "dst").unionAll(
                edges.select(
                    F.col("dst").alias("src"), F.col("src").alias("dst")
                )
            )
        )
        state = loop.persist(
            vertices(edges).withColumn("comp", F.col("node"))
        )
        iteration = 0
        while iteration < max_iterations:
            iteration += 1
            nbr_min = aggregate_messages(
                und,
                state,
                msg=F.col("comp"),
                agg=F.min("__msg"),
                broadcast_state=broadcast_state,
            )
            # NOTE on pointer jumping: measured twice, rejected twice.
            # (a) Small graphs (sf0.01): halves iterations (30 → 14) but
            # nearly triples per-iteration cost — net LOSS (18.5s → 26.5s).
            # (b) Long-diameter graphs: a post-round comp←comp[comp]
            # self-join on the lazily checkpointed state re-derives the
            # doubly-referenced chain (geometric blowup, 2.2s → 200s/round
            # by round 23), and the safe in-plan variant against the
            # PREVIOUS state only shortcuts by a constant factor — path
            # components still need ~diameter rounds. The principled
            # O(log²) alternative is large-star/small-star (Kiveris et
            # al.), a different loop body; until that's needed, the cap
            # below raises instead of silently returning non-converged
            # labels.
            new_state = (
                state.select("node", F.col("comp").alias("old_comp"))
                .join(_bc(nbr_min, broadcast_state), on="node", how="left")
                .select(
                    "node",
                    "old_comp",
                    F.least(
                        F.col("old_comp"),
                        F.coalesce(F.col("msg_agg"), F.col("old_comp")),
                    ).alias("comp"),
                )
            )
            # One round of the shared lifecycle (graph/loop.py). sum()
            # over an empty relation is NULL — treat as converged.
            new_state, row = loop.advance(
                new_state,
                metrics={
                    "n": F.sum(
                        F.when(
                            F.col("comp") != F.col("old_comp"), 1
                        ).otherwise(0)
                    )
                },
            )
            changed = row["n"] or 0

            state = new_state.select("node", "comp")
            if changed == 0:
                break
        else:
            # Exhausting the cap without a changed==0 round means the
            # labels are NOT components yet (min-label needs ~the distance
            # from each node to its component's min-id node — long path
            # components legitimately need thousands of rounds). Silently
            # returning partial labels corrupts every downstream dedup /
            # canonicalization decision, so fail loudly instead.
            raise RuntimeError(
                "connected_components did not converge within "
                f"max_iterations={max_iterations} (last round still "
                f"changed {changed} labels); raise max_iterations — "
                "propagation rounds scale with the graph's label "
                "propagation distance, not just its size"
            )

        return loop.result(
            state.select("node", F.col("comp").alias("component"))
        )


def shortest_paths(
    edges: DataFrame,
    sources: DataFrame,
    max_iterations: int = 30,
    checkpoint_every: int = 1,
    tune: bool = True,
) -> DataFrame:
    """Directed BFS hop distances from a source set: (node, dist) for
    every node reachable within ``max_iterations`` hops.

    Frontier-based message passing over ``aggregate_messages``: each
    round sends dist+1 along out-edges of the CURRENT frontier only
    (never the whole reached set), and an anti join keeps just the
    newly reached nodes — with unit edge weights a node's first
    discovery round IS its minimum distance, so no relaxation or
    re-visit is ever needed. Per round: one shuffle join on ``src``
    sized by the frontier, one partial-combined min-aggregation on
    ``dst``, one anti join against the reached set. The reached set's
    union lineage is checkpoint-truncated on the same cadence as the
    other iterative loops. Small graphs run under
    ``loop_conf`` (AQE off, right-sized shuffle);
    ``tune=False`` opts out for shared sessions.
    """
    spark = edges.sparkSession
    ec = edges.count()
    with loop_conf(spark, ec, enabled=tune):
        return _sp_rounds(
            edges,
            sources,
            max_iterations,
            checkpoint_every,
            broadcast_state=2 * ec <= BROADCAST_STATE_ROW_LIMIT,
        )


def _sp_rounds(
    edges: DataFrame,
    sources: DataFrame,
    max_iterations: int,
    checkpoint_every: int,
    broadcast_state: bool,
) -> DataFrame:
    # The frontier variant of the shared loop (graph/loop.py): each
    # generation is tracked BEFORE its materializing count, and a
    # lazily checkpointed ``reached`` materializes only in the NEXT
    # round's anti-join — so on checkpoint rounds the superseded
    # generations are deferred and released one round late, never
    # under a still-lazy checkpoint. The new frontier is a (lazy)
    # checkpoint, not a persist: its plan reads ``reached``, so in
    # ``reached ∪ new_frontier`` Spark deduplicates that relation and
    # then misses the frontier's cache, recomputing the whole frontier
    # history through released generations.
    with VertexLoop(checkpoint_every=checkpoint_every) as loop:
        e = loop.hold(edges.select("src", "dst").distinct())
        frontier = loop.persist(
            sources.select("node").distinct().withColumn("dist", F.lit(0))
        )
        reached = frontier

        iteration = 0
        while iteration < max_iterations:
            iteration += 1
            msgs = aggregate_messages(
                e,
                frontier,
                msg=F.col("dist") + 1,
                agg=F.min("__msg"),
                broadcast_state=broadcast_state,
            )
            new_frontier = loop.truncate(
                msgs.join(
                    _bc(reached, broadcast_state), on="node", how="left_anti"
                ).select("node", F.col("msg_agg").alias("dist"))
            )
            n_new = new_frontier.count()
            # the count's anti join scanned ``reached`` fully: last
            # round's lazy checkpoint is materialized
            loop.flush()
            if n_new == 0:
                loop.release(new_frontier)
                break
            merged = reached.unionByName(new_frontier)
            if iteration % checkpoint_every == 0:
                reached = loop.truncate(merged)
                loop.defer(new_frontier, reached)
            else:
                reached = loop.persist(merged)
            frontier = new_frontier

        return loop.result(reached)


def multi_source_shortest_paths(
    edges: DataFrame,
    seeds: DataFrame,
    max_iterations: int = 30,
    checkpoint_every: int = 1,
    tune: bool = True,
) -> DataFrame:
    """Labeled multi-source BFS: hop distances from EVERY seed
    independently — ``(seed, node, dist)`` for each (seed, node) pair
    reachable within ``max_iterations`` hops. The landmark primitive
    behind closeness/harmonic centrality and distance-sketch
    embeddings: one synchronized frontier loop answers all seeds at
    once instead of |seeds| sequential BFS runs.

    Same frontier discipline as ``shortest_paths`` with the state
    keyed by (seed, node): per round one join of the edge table
    against the current frontier, one partial-combined min-agg on
    (seed, dst), one anti join against the reached set; first
    discovery IS the minimum distance, so no relaxation. State size
    is |seeds| × reached-nodes — the broadcast-vs-shuffle cut
    accounts for the multiplier.
    """
    spark = edges.sparkSession
    ec = edges.count()
    n_seeds = max(1, seeds.select("node").distinct().count())
    with loop_conf(spark, ec, enabled=tune):
        return _multi_sp_rounds(
            edges,
            seeds,
            max_iterations,
            checkpoint_every,
            broadcast_state=(
                2 * ec * n_seeds <= BROADCAST_STATE_ROW_LIMIT
            ),
        )


def _multi_sp_rounds(
    edges: DataFrame,
    seeds: DataFrame,
    max_iterations: int,
    checkpoint_every: int,
    broadcast_state: bool,
) -> DataFrame:
    # (seed, node)-keyed frontier variant of the shared loop — the
    # same defer-one-round-late lifecycle as _sp_rounds
    with VertexLoop(checkpoint_every=checkpoint_every) as loop:
        e = loop.hold(edges.select("src", "dst").distinct())
        frontier = loop.persist(
            seeds.select(F.col("node").alias("seed"))
            .distinct()
            .select("seed", F.col("seed").alias("node"))
            .withColumn("dist", F.lit(0))
        )
        reached = frontier

        iteration = 0
        while iteration < max_iterations:
            iteration += 1
            msgs = (
                e.join(
                    _bc(
                        frontier.select(
                            F.col("node").alias("src"), "seed", "dist"
                        ),
                        broadcast_state,
                    ),
                    on="src",
                )
                .select(
                    "seed",
                    F.col("dst").alias("node"),
                    (F.col("dist") + 1).alias("dist"),
                )
                .groupBy("seed", "node")
                .agg(F.min("dist").alias("dist"))
            )
            new_frontier = loop.truncate(
                msgs.join(
                    _bc(reached.select("seed", "node"), broadcast_state),
                    on=["seed", "node"],
                    how="left_anti",
                )
            )
            n_new = new_frontier.count()
            loop.flush()
            if n_new == 0:
                loop.release(new_frontier)
                break
            merged = reached.unionByName(new_frontier)
            if iteration % checkpoint_every == 0:
                reached = loop.truncate(merged)
                loop.defer(new_frontier, reached)
            else:
                reached = loop.persist(merged)
            frontier = new_frontier

        return loop.result(reached)


def harmonic_centrality(
    edges: DataFrame,
    seeds: DataFrame,
    max_iterations: int = 30,
    tune: bool = True,
) -> DataFrame:
    """Out-harmonic centrality of each seed over the directed graph:
    ``C(s) = Σ_{v ≠ s reachable} 1 / d(s, v)`` — well-defined on
    disconnected graphs (unreachable nodes contribute 0, no infinite
    closeness denominators). Returns (seed, harmonic, n_reached),
    harmonic rounded to 9dp. Exact for the given seeds; run on a
    landmark sample for the standard approximate all-nodes variant.
    """
    d = multi_source_shortest_paths(
        edges, seeds, max_iterations=max_iterations, tune=tune
    )
    return (
        d.where(F.col("dist") > 0)
        .groupBy("seed")
        .agg(
            F.round(F.sum(F.lit(1.0) / F.col("dist")), 9).alias(
                "harmonic"
            ),
            F.count("*").alias("n_reached"),
        )
    )


def label_propagation(
    edges: DataFrame, n_iterations: int = 2, tune: bool = True
) -> DataFrame:
    """Synchronous label propagation (community detection): (node, label).

    Extension tier — the reference has no community detection; this is
    the standard GraphFrames-style LPA re-expressed with DataFrames.
    Each round every vertex adopts the MOST FREQUENT label among its
    undirected neighbors, ties broken by the smallest label; vertices
    with no neighbors (self-loop-only) keep their own. Synchronous
    fixed-iteration semantics make the result deterministic AND give the
    declared 2-round query an exact SQL twin (mode-by-count with the
    same tie break).

    Scale shape per round: one shuffle join (labels onto the symmetric
    adjacency), one partial-combined (node, label) count, one
    row_number window partitioned by node (bounded by each node's
    distinct neighbor-label count, never global). Lineage is truncated
    like the other iterative loops; the final labels are
    materialized (eager localCheckpoint) INSIDE the tuning context so
    the loop actually executes under the tuned confs. ``tune=False``
    opts out for shared sessions.
    """
    spark = edges.sparkSession
    approx = 2 * edges.count()
    with loop_conf(spark, approx, enabled=tune):
        return _label_prop_rounds(
            edges,
            n_iterations,
            broadcast_state=approx <= BROADCAST_STATE_ROW_LIMIT,
        )


def _label_prop_rounds(
    edges: DataFrame, n_iterations: int, broadcast_state: bool
) -> DataFrame:
    # Fixed-round variant of the shared loop: no per-round scalar, so
    # each cut is EAGER (graph/loop.py), and the adjacency is the one
    # relation held for the scope.
    with Pins() as pins:
        und = undirected_edges(edges)
        adj = pins.hold(
            und.unionAll(
                und.select(
                    F.col("dst").alias("src"), F.col("src").alias("dst")
                )
            )
        )
        labels = vertices(edges).withColumn("label", F.col("node"))
        for i in range(1, n_iterations + 1):
            counts = (
                adj.join(
                    _bc(
                        labels.select(F.col("node").alias("src"), "label"),
                        broadcast_state,
                    ),
                    on="src",
                )
                .groupBy(F.col("dst").alias("node"), "label")
                .agg(F.count("*").alias("n"))
            )
            # Mode with smallest-label tie break as a hash aggregation:
            # min of (-n, label) orders first by larger count then by
            # smaller label — negating the COUNT (always numeric) keeps
            # the label column untouched, so string node ids order
            # correctly too. A row_number window over the same (node)
            # key would add a full in-partition SORT after the shuffle;
            # min_by keeps the second stage a partial-combined hash agg.
            picked = counts.groupBy("node").agg(
                F.min_by(
                    "label",
                    F.struct((-F.col("n")).alias("nn"), F.col("label")),
                ).alias("new_label")
            )
            labels = (
                labels.select("node", "label")
                .join(_bc(picked, broadcast_state), on="node", how="left")
                .select(
                    "node",
                    F.coalesce("new_label", "label").alias("label"),
                )
            )
            # Materialize the final labels while still inside the
            # caller's tuning context — otherwise (e.g. the default
            # n_iterations=2, which never hits the i%3 cut) the whole
            # loop would plan lazily and execute only after the confs
            # were restored.
            if i % 3 == 0 or i == n_iterations:
                labels = pins.truncate(labels, eager=True)
                pins.sweep(labels)
        return pins.keep(labels)


def twohop_recommendations(edges: DataFrame, k: int = 20) -> DataFrame:
    """Friend-of-friend motif: per source, how many distinct two-hop
    targets are NOT already direct neighbors — the classic
    recommendation-candidate count. Returns the top-``k`` sources
    (ties by node asc): (node, n_recs).

    Plan shape: two equi-joins on node keys over the distinct edge set
    (a→b→c), a distinct on the (a, c) pair, one LEFT ANTI join to
    remove existing a→c edges, then a partial-combined count and
    TakeOrdered — no cartesian stage, no window over the full table.
    """
    e = edges.where(F.col("src") != F.col("dst")).select("src", "dst").distinct()
    hops = (
        e.select(F.col("src").alias("a"), F.col("dst").alias("b"))
        .join(e.select(F.col("src").alias("b"), F.col("dst").alias("c")), on="b")
        .where(F.col("a") != F.col("c"))
        .select("a", "c")
        .distinct()
    )
    recs = hops.join(
        e.select(F.col("src").alias("a"), F.col("dst").alias("c")),
        on=["a", "c"],
        how="left_anti",
    )
    return (
        recs.groupBy(F.col("a").alias("node"))
        .agg(F.count("*").alias("n_recs"))
        .orderBy(F.desc("n_recs"), F.asc("node"))
        .limit(k)
    )


def weighted_shortest_paths(
    edges: DataFrame,
    sources: DataFrame,
    weight_col: str = "w",
    max_iterations: int = 20,
    checkpoint_every: int = 1,
    tune: bool = True,
) -> DataFrame:
    """Frontier Bellman-Ford: minimum-cost distances from a source set
    over positively weighted directed edges — (node, dist).

    After k rounds ``dist`` is exact over all paths of ≤ k edges, and
    the loop stops early once a round improves nothing, so with
    ``max_iterations ≥`` the shortest-path hop diameter the result is
    the true SSSP. Per round only the FRONTIER (nodes improved last
    round) relaxes its out-edges — a node whose distance is settled
    re-sends nothing (its edges were already relaxed with that value in
    the round it improved). Per round: one shuffle join on ``src``
    sized by the frontier, one partial-combined min-agg on ``dst``, one
    join against the distance table to keep strict improvements.
    Small graphs run under ``loop_conf``; ``tune=False``
    opts out for shared sessions.
    """
    spark = edges.sparkSession
    ec = edges.count()
    with loop_conf(spark, ec, enabled=tune):
        return _weighted_sp_rounds(
            edges,
            sources,
            weight_col,
            max_iterations,
            checkpoint_every,
            broadcast_state=2 * ec <= BROADCAST_STATE_ROW_LIMIT,
        )


def _weighted_sp_rounds(
    edges: DataFrame,
    sources: DataFrame,
    weight_col: str,
    max_iterations: int,
    checkpoint_every: int,
    broadcast_state: bool,
) -> DataFrame:
    # See _sp_rounds: the frontier variant of the shared loop — a
    # lazily checkpointed ``dist`` materializes in the NEXT round's
    # improved-count join, so superseded generations are deferred one
    # round.
    with VertexLoop(checkpoint_every=checkpoint_every) as loop:
        e = loop.hold(
            edges.select("src", "dst", F.col(weight_col).alias("__w"))
        )
        dist = loop.persist(
            sources.select("node").distinct().withColumn("dist", F.lit(0.0))
        )
        frontier = dist

        iteration = 0
        while iteration < max_iterations:
            iteration += 1
            msgs = (
                e.join(
                    _bc(
                        frontier.select(F.col("node").alias("src"), "dist"),
                        broadcast_state,
                    ),
                    on="src",
                )
                .select(
                    F.col("dst").alias("node"),
                    (F.col("dist") + F.col("__w")).alias("cand"),
                )
                .groupBy("node")
                .agg(F.min("cand").alias("cand"))
            )
            improved = loop.truncate(
                msgs.join(_bc(dist, broadcast_state), on="node", how="left")
                .where(
                    F.col("dist").isNull() | (F.col("cand") < F.col("dist"))
                )
                .select("node", F.col("cand").alias("dist"))
            )
            n_improved = improved.count()
            # the count's left join scanned ``dist`` fully: last round's
            # lazy checkpoint is materialized
            loop.flush()
            if n_improved == 0:
                loop.release(improved)
                break
            merged = (
                dist.join(
                    improved.select("node", F.col("dist").alias("better")),
                    on="node",
                    how="full",
                )
                .select(
                    "node",
                    F.coalesce(F.col("better"), F.col("dist")).alias("dist"),
                )
            )
            if iteration % checkpoint_every == 0:
                dist = loop.truncate(merged)
                loop.defer(improved, dist)
            else:
                dist = loop.persist(merged)
            frontier = improved

        return loop.result(dist)


def kcore_peel(
    edges: DataFrame, k: int = 3, rounds: int = 3
) -> DataFrame:
    """Bounded k-core peeling: iteratively drop vertices of undirected
    degree < k (and their edges) for ``rounds`` rounds; returns the
    surviving (node, deg) table.

    Extension tier (no reference analogue). Fixed-round peeling keeps
    the result deterministic and gives the declared query an exact
    unrolled-CTE SQL twin; full k-core = run until no node is dropped
    (at 100 TB each round is one partial-combined degree count plus two
    broadcast-or-shuffle semi joins — the surviving-node set shrinks
    monotonically, so later rounds are cheap).
    """
    e = undirected_edges(edges)
    for _ in range(rounds):
        deg = (
            e.select(F.col("src").alias("node"))
            .unionAll(e.select(F.col("dst").alias("node")))
            .groupBy("node")
            .agg(F.count("*").alias("deg"))
        )
        keep = deg.where(F.col("deg") >= k).select("node")
        e = e.join(
            keep.select(F.col("node").alias("src")), on="src", how="left_semi"
        ).join(
            keep.select(F.col("node").alias("dst")), on="dst", how="left_semi"
        )
    out = (
        e.select(F.col("src").alias("node"))
        .unionAll(e.select(F.col("dst").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("deg"))
    )
    return out


def degree_assortativity(edges: DataFrame) -> DataFrame:
    """Degree assortativity: Pearson correlation between the undirected
    degrees of the two endpoints across distinct non-loop edges — one
    scalar row summarizing hub-to-hub vs hub-to-leaf wiring.

    Two shuffles total: the degree count, then the edge-endpoint joins
    (broadcastable when the vertex set is small relative to edges);
    ``corr`` is a single-pass mergeable moment aggregate.
    """
    und = undirected_edges(edges)
    deg = (
        und.select(F.col("src").alias("node"))
        .unionAll(und.select(F.col("dst").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("deg"))
    )
    da = deg.select(F.col("node").alias("src"), F.col("deg").alias("deg_a"))
    db = deg.select(F.col("node").alias("dst"), F.col("deg").alias("deg_b"))
    return (
        und.join(da, on="src").join(db, on="dst")
        .agg(
            F.count("*").cast("long").alias("n_edges"),
            F.round(F.corr("deg_a", "deg_b"), 6).alias("assortativity"),
        )
    )


def local_clustering(edges: DataFrame) -> DataFrame:
    """Per-node local clustering coefficient on the distinct undirected
    graph: triangles_at(v) / C(deg(v), 2); nodes with deg < 2 get 0.

    The triangle enumeration is the canonical two-join plan of
    ``triangles`` (each triangle found once as a<b<c), then each
    triangle credits its three corners — an explode + count, never a
    per-node neighborhood materialization.
    """
    und = undirected_edges(edges)
    deg = (
        und.select(F.col("src").alias("node"))
        .unionAll(und.select(F.col("dst").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("deg"))
    )
    tri = triangles(und)
    corner = (
        tri.select(F.col("a").alias("node"))
        .unionAll(tri.select(F.col("b").alias("node")))
        .unionAll(tri.select(F.col("c").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("n_tri"))
    )
    out = (
        deg.join(corner, on="node", how="left")
        .select(
            "node",
            "deg",
            F.coalesce("n_tri", F.lit(0)).cast("long").alias("n_tri"),
            F.when(
                F.col("deg") >= 2,
                F.round(
                    F.coalesce("n_tri", F.lit(0))
                    / (F.col("deg") * (F.col("deg") - 1) / 2.0),
                    6,
                ),
            )
            .otherwise(0.0)
            .alias("clustering"),
        )
    )
    return out


def adamic_adar(
    edges: DataFrame, k: int = 50, max_degree: int = 64
) -> DataFrame:
    """Adamic-Adar link prediction on the distinct undirected graph:
    for each NON-adjacent pair (u < v), ``score = Σ_{w ∈ N(u)∩N(v)}
    1/ln(deg(w))``; returns the top-``k`` candidate links
    ``(u, v, score, n_common)`` by (score desc, u asc, v asc), score
    rounded to 6dp so the ranking is engine-reproducible.

    Scale shape: common-neighbor pairs are enumerated THROUGH each
    shared neighbor ``w`` (self-join of the neighbor relation on
    ``w``), so per-``w`` cost is deg(w)² — shared neighbors above
    ``max_degree`` are excluded, the standard hub cap in link
    prediction (a million-degree hub generates 10¹² pairs while
    contributing weight 1/ln(10⁶) ≈ 0.07; the cap bounds the join
    quadratically while discarding near-zero signal). Degrees in the
    WEIGHT use the true uncapped degree. The adjacency exclusion is a
    left-anti join; top-k is TakeOrdered, never a global sort.
    """
    und = undirected_edges(edges)
    nbr = und.select(
        F.col("src").alias("node"), F.col("dst").alias("nbr")
    ).unionAll(
        und.select(F.col("dst").alias("node"), F.col("src").alias("nbr"))
    )
    deg = nbr.groupBy("node").agg(F.count("*").alias("deg"))
    wn = (
        nbr.join(deg, on="node")
        .where((F.col("deg") >= 2) & (F.col("deg") <= max_degree))
        .select(
            F.col("node").alias("w"),
            F.col("nbr").alias("n"),
            (F.lit(1.0) / F.log(F.col("deg"))).alias("wt"),
        )
    )
    left = wn.select("w", F.col("n").alias("u"), "wt")
    right = wn.select("w", F.col("n").alias("v"))
    pairs = left.join(right, on="w").where(F.col("u") < F.col("v"))
    sc = pairs.groupBy("u", "v").agg(
        F.round(F.sum("wt"), 6).alias("score"),
        F.count("*").alias("n_common"),
    )
    nonadj = sc.join(
        und,
        (F.col("u") == F.col("src")) & (F.col("v") == F.col("dst")),
        how="left_anti",
    )
    return nonadj.orderBy(
        F.desc("score"), F.asc("u"), F.asc("v")
    ).limit(k)


def _min_label_rounds(
    edges: DataFrame,
    nodes: DataFrame,
    max_iterations: int,
    broadcast_state: bool,
) -> DataFrame:
    """Directed min-label propagation to fixpoint: for each node, the
    minimum node id among its ancestors (nodes that can reach it,
    itself included). Labels flow ALONG edge direction (src → dst).
    Returns an eager checkpoint the caller owns."""
    # the _cc_rounds lifecycle (graph/loop.py)
    with VertexLoop() as loop:
        state = loop.persist(nodes.withColumn("lab", F.col("node")))
        iteration = 0
        while iteration < max_iterations:
            iteration += 1
            nbr = aggregate_messages(
                edges, state.select("node", "lab"), msg=F.col("lab"),
                agg=F.min("__msg"), broadcast_state=broadcast_state,
            )
            new_state = (
                state.select("node", F.col("lab").alias("old"))
                .join(_bc(nbr, broadcast_state), on="node", how="left")
                .select(
                    "node",
                    "old",
                    F.least(
                        F.col("old"), F.coalesce("msg_agg", F.col("old"))
                    ).alias("lab"),
                )
            )
            new_state, row = loop.advance(
                new_state,
                metrics={
                    "n": F.sum(
                        F.when(F.col("lab") != F.col("old"), 1).otherwise(0)
                    )
                },
            )
            changed = row["n"] or 0
            state = new_state.select("node", "lab")
            if changed == 0:
                break
        else:
            # SCC correctness REQUIRES the fixpoint: with partial
            # labels, F(v) == B(v) can coincide spuriously and settle
            # nodes into the wrong SCC. Fail loudly like
            # connected_components.
            raise RuntimeError(
                "min-label propagation did not reach its fixpoint within "
                f"max_iterations={max_iterations} (last round changed "
                f"{changed} labels); raise max_label_iterations"
            )
        return loop.keep(loop.truncate(state, eager=True))


def strongly_connected_components(
    edges: DataFrame,
    max_rounds: int = 60,
    max_label_iterations: int = 30,
    tune: bool = True,
) -> DataFrame:
    """Strongly connected components by forward/backward min-pivot
    peeling: (node, component) with component = min node id in the SCC.

    Per outer round, over the residual graph: F(v) = min ancestor id
    (min-label propagation along edges), B(v) = min descendant id
    (along reversed edges). F(v) == B(v) == L means v and L reach each
    other, so every such v settles into SCC L — all local min-pivots
    settle concurrently, and the global min always does, so each round
    strictly shrinks the residual. Standard FW-BW-style decomposition
    (Fleischer et al.'s divide-and-conquer reachability idea) driven by
    label propagation instead of recursion — every step is a shuffle
    join + partial-agg, nothing driver-side but the scalar change
    counts. ``tune=False`` opts out of the session-conf tuning for
    shared sessions.
    """
    spark = edges.sparkSession
    ec = edges.count()
    with loop_conf(spark, ec, enabled=tune):
        return _scc_rounds(
            edges,
            max_rounds,
            max_label_iterations,
            broadcast_state=2 * ec <= BROADCAST_STATE_ROW_LIMIT,
        )


def _scc_rounds(
    edges: DataFrame,
    max_rounds: int,
    max_label_iterations: int,
    broadcast_state: bool,
) -> DataFrame:
    # Each round's pins are eager (two plan branches read each) and are
    # released once the next round's replacements have materialized;
    # the settled pieces live until the result has.
    with Pins() as pins:
        residual_edges = pins.hold(edges.select("src", "dst").distinct())
        residual_nodes = vertices(residual_edges)
        settled: DataFrame | None = None
        for _ in range(max_rounds):
            if residual_nodes.isEmpty():
                break
            fwd = pins.adopt(
                _min_label_rounds(
                    residual_edges,
                    residual_nodes,
                    max_label_iterations,
                    broadcast_state,
                )
            )
            bwd = pins.adopt(
                _min_label_rounds(
                    residual_edges.select(
                        F.col("dst").alias("src"), F.col("src").alias("dst")
                    ),
                    residual_nodes,
                    max_label_iterations,
                    broadcast_state,
                )
            )
            both = fwd.withColumnRenamed("lab", "f").join(
                bwd.withColumnRenamed("lab", "b"), on="node"
            )
            done = pins.truncate(
                both.where(F.col("f") == F.col("b")).select(
                    "node", F.col("f").alias("component")
                ),
                eager=True,
            )
            settled = done if settled is None else settled.unionByName(done)
            next_nodes = pins.truncate(
                both.where(F.col("f") != F.col("b")).select("node"),
                eager=True,
            )
            keep_src = _bc(
                next_nodes.select(F.col("node").alias("src")),
                broadcast_state,
            )
            keep_dst = _bc(
                next_nodes.select(F.col("node").alias("dst")),
                broadcast_state,
            )
            next_edges = pins.hold(
                pins.truncate(
                    residual_edges.join(keep_src, on="src", how="left_semi")
                    .join(keep_dst, on="dst", how="left_semi"),
                    eager=True,
                )
            )
            pins.release(fwd, bwd, residual_edges, residual_nodes)
            residual_edges, residual_nodes = next_edges, next_nodes
        if not residual_nodes.isEmpty():
            raise RuntimeError(
                "SCC peeling did not converge within max_rounds="
                f"{max_rounds}; raise max_rounds (each round settles "
                "every current min-pivot SCC, so adversarial id "
                "orderings can need up to #SCC rounds)"
            )
        return settled if settled is None else pins.result(settled)


def maximal_independent_set(
    edges: DataFrame, rounds: int = 3
) -> DataFrame:
    """Deterministic Luby-style maximal independent set — the classic
    symmetry-breaking primitive behind distributed coloring /
    scheduling (Luby 1986), with the random priorities replaced by a
    portable hash so every engine (and the q169 DuckDB twin) selects
    the same set. Returns ``(node, status)`` over the undirected
    closure of ``edges`` with status ``in_set`` / ``dominated`` /
    ``undecided`` (nodes still alive after ``rounds``).

    Per round over the ALIVE subgraph: a node joins the set iff its
    ``hash60(node || '#' || round)`` priority is strictly smaller
    than every alive neighbor's (ties by node id — priorities need
    not be unique); its neighbors become dominated. Each round is one
    join + one min-aggregation on the live edge relation — frontier
    work shrinks geometrically, the standard O(log n)-round shape.
    """
    from pagerank_spark.functions import portable_hash60

    if rounds < 1:
        raise ValueError(
            f"maximal_independent_set: rounds must be >= 1, got {rounds}"
        )
    und = (
        edges.select("src", "dst")
        .where(F.col("src") != F.col("dst"))
        .unionAll(
            edges.select(
                F.col("dst").alias("src"), F.col("src").alias("dst")
            ).where(F.col("src") != F.col("dst"))
        )
        .distinct()
    )
    nodes = und.select(F.col("src").alias("node")).distinct()
    live_edges = und
    # alive nodes tracked EXPLICITLY: a node whose neighbors all died
    # in earlier rounds has no live edges left but must still be able
    # to join the set (min_np comes back NULL -> automatic winner)
    live_nodes = nodes
    decided = None  # (node, status)
    for r in range(1, rounds + 1):
        # fixed-width string priority: 16-hex-digit hash || 8-digit id
        # — lexicographic order == numeric order, and a plain MIN over
        # strings is portable to any engine (no struct-min needed)
        pri = lambda c: F.concat(  # noqa: E731
            F.lpad(
                F.hex(
                    portable_hash60(
                        F.concat(F.col(c).cast("string"), F.lit(f"#m{r}"))
                    )
                ),
                16,
                "0",
            ),
            F.lpad(F.col(c).cast("string"), 8, "0"),
        )
        nbr_min = (
            live_edges.select(
                F.col("src").alias("node"), pri("dst").alias("np")
            )
            .groupBy("node")
            .agg(F.min("np").alias("min_np"))
        )
        winners = (
            live_nodes.join(nbr_min, on="node", how="left")
            .where(
                F.col("min_np").isNull()
                | (pri("node") < F.col("min_np"))
            )
            .select("node")
        )
        dominated = (
            live_edges.join(
                winners.select(F.col("node").alias("src")), on="src"
            )
            .select(F.col("dst").alias("node"))
            .distinct()
            .join(winners, on="node", how="left_anti")
        )
        new_decided = winners.select(
            "node", F.lit("in_set").alias("status")
        ).unionAll(
            dominated.select("node", F.lit("dominated").alias("status"))
        )
        decided = (
            new_decided
            if decided is None
            else decided.unionAll(new_decided)
        )
        gone = winners.unionAll(dominated.select("node"))
        live_edges = (
            live_edges.join(
                gone.select(F.col("node").alias("src")), on="src", how="left_anti"
            )
            .join(
                gone.select(F.col("node").alias("dst")), on="dst", how="left_anti"
            )
            .select("src", "dst")
            .localCheckpoint(eager=False)
        )
        live_nodes = live_nodes.join(
            gone, on="node", how="left_anti"
        ).localCheckpoint(eager=False)
    undecided = (
        nodes.join(decided.select("node"), on="node", how="left_anti")
        .select("node", F.lit("undecided").alias("status"))
    )
    return decided.unionAll(undecided)


def ktruss(
    edges: DataFrame,
    k: int = 3,
    rounds: int = 2,
) -> DataFrame:
    """k-truss edge peeling, ``rounds`` FIXED iterations (the SURVEY
    §5.3 determinism rule — an exact SQL twin can unroll fixed
    rounds; pass more rounds for a tighter fixpoint). Each round
    computes per-edge triangle support on the surviving subgraph via
    the canonical two-join wedge closure (``triangles``, kept
    per-edge instead of globally summed) and drops edges with
    support < k-2. Returns the surviving canonical undirected edges
    ``(src, dst, support)`` with the LAST round's support.

    The community-core primitive one notch stronger than k-core:
    every surviving edge participates in ≥ k-2 triangles among
    survivors. Scale shape: per round three equi-joins on node keys +
    one partial-combined count per edge — no wedge materialization
    beyond the joins, no windows; edge relation shrinks monotonically
    so later rounds are cheaper. Support counting mirrors the
    triangle plan: each triangle (a<b<c) contributes to all three of
    its edges via a union of the three role projections.
    """
    if k < 2:
        raise ValueError(f"ktruss: k must be >= 2, got {k}")
    if rounds < 1:
        raise ValueError(f"ktruss: rounds must be >= 1, got {rounds}")
    surv = undirected_edges(edges)
    out = None
    for r in range(rounds):
        tri = triangles(surv)
        # each triangle supports its three edges
        sup = (
            tri.select(F.col("a").alias("src"), F.col("b").alias("dst"))
            .unionAll(
                tri.select(F.col("b").alias("src"), F.col("c").alias("dst"))
            )
            .unionAll(
                tri.select(F.col("a").alias("src"), F.col("c").alias("dst"))
            )
            .groupBy("src", "dst")
            .agg(F.count("*").alias("support"))
        )
        out = (
            surv.join(sup, on=["src", "dst"], how="left")
            .select(
                "src",
                "dst",
                F.coalesce("support", F.lit(0)).cast("long").alias("support"),
            )
            .where(F.col("support") >= k - 2)
        )
        if r < rounds - 1:
            # lazy lineage cut, the graph-loop discipline: the next
            # round re-reads the survivor relation twice per join leg
            out = out.localCheckpoint(eager=False)
        surv = out.select("src", "dst")
    return out


def betweenness_centrality(
    edges: DataFrame,
    seeds: DataFrame,
    max_iterations: int = 30,
    checkpoint_every: int = 1,
    tune: bool = True,
    scaled: bool = True,
) -> DataFrame:
    """Approximate betweenness centrality: sampled Brandes over the
    multi-source frontier machinery (the classic centrality missing
    beside PageRank/HITS/Katz/harmonic). ``seeds`` holds the pivot
    set — deterministic hash-chosen in the callers, or the full vertex
    set for exact betweenness. Returns ``(node, betweenness)`` for
    every node with a nonzero dependency accumulation; with
    ``scaled=True`` each sum is multiplied by the Brandes–Pich
    estimator factor |V| / |pivots| (exact betweenness when the pivot
    set IS the vertex set, since the factor is then 1).

    Semantics are hop-bounded: shortest paths longer than
    ``max_iterations`` hops are not explored, on BOTH phases — the
    same truncation every BFS-based loop here applies, and the one an
    unrolled SQL twin can mirror exactly.

    Two phases, both synchronized (seed, node)-keyed loops:

    - **forward** — the ``multi_source_shortest_paths`` frontier loop
      extended with path counting: a node discovered in round d has
      ALL its shortest-path predecessors in round d-1's frontier, so
      ``sigma(s, v) = Σ sigma(s, u)`` over frontier in-neighbors is
      one extra SUM riding the existing per-round aggregation — no
      extra shuffle.
    - **backward** — level-synchronous dependency accumulation, from
      the deepest observed level down: for v at level d-1,
      ``delta(s,v) = Σ_w sigma_v/sigma_w · (1 + delta(s,w))`` over
      out-edges v→w landing exactly one level deeper (the shortest-
      path DAG edges — enforced by the inner join against level d-1,
      never materialized as a DAG). Per level: one join of the edge
      table against the (level-filtered, broadcast-gated) successor
      deltas, one partial-combined SUM. Each level's delta relation
      is eagerly checkpointed (one job per level), so lineage never
      compounds across levels.

    Scale shape: state is |pivots| × reached-nodes rows, same as the
    landmark BFS (the broadcast-vs-shuffle cut accounts for the
    multiplier); pivot sampling is exactly what bounds it at 100 TB.
    No global windows, no collects beyond one scalar per round plus
    the max-depth scalar between phases.
    """
    spark = edges.sparkSession
    ec = edges.count()
    n_seeds = max(1, seeds.select("node").distinct().count())
    with loop_conf(spark, ec, enabled=tune):
        return _betweenness_rounds(
            edges,
            seeds,
            max_iterations,
            checkpoint_every,
            broadcast_state=(2 * ec * n_seeds <= BROADCAST_STATE_ROW_LIMIT),
            n_seeds=n_seeds,
            scaled=scaled,
        )


def _betweenness_rounds(
    edges: DataFrame,
    seeds: DataFrame,
    max_iterations: int,
    checkpoint_every: int,
    broadcast_state: bool,
    n_seeds: int,
    scaled: bool,
) -> DataFrame:
    with VertexLoop(checkpoint_every=checkpoint_every) as loop:
        e = loop.hold(edges.select("src", "dst").distinct())
        # ---- forward: sigma-carrying multi-source BFS (the
        # _multi_sp_rounds lifecycle) ---------------------------------
        frontier = loop.persist(
            seeds.select(F.col("node").alias("seed"))
            .distinct()
            .select(
                "seed",
                F.col("seed").alias("node"),
                F.lit(0).alias("dist"),
                F.lit(1.0).alias("sigma"),
            )
        )
        reached = frontier

        iteration = 0
        while iteration < max_iterations:
            iteration += 1
            msgs = (
                e.join(
                    _bc(
                        frontier.select(
                            F.col("node").alias("src"), "seed", "dist", "sigma"
                        ),
                        broadcast_state,
                    ),
                    on="src",
                )
                .select(
                    "seed",
                    F.col("dst").alias("node"),
                    (F.col("dist") + 1).alias("dist"),
                    "sigma",
                )
                # every shortest-path predecessor of a round-d node sits
                # in round d-1's frontier, so this SUM is the full sigma
                .groupBy("seed", "node")
                .agg(
                    F.min("dist").alias("dist"),
                    F.sum("sigma").alias("sigma"),
                )
            )
            new_frontier = loop.truncate(
                msgs.join(
                    _bc(reached.select("seed", "node"), broadcast_state),
                    on=["seed", "node"],
                    how="left_anti",
                )
            )
            n_new = new_frontier.count()
            loop.flush()
            if n_new == 0:
                loop.release(new_frontier)
                break
            merged = reached.unionByName(new_frontier)
            if iteration % checkpoint_every == 0:
                reached = loop.truncate(merged)
                loop.defer(new_frontier, reached)
            else:
                reached = loop.persist(merged)
            frontier = new_frontier

        # one scalar between phases: the deepest observed level (the
        # Brandes–Pich factor below wants |V| over ALL graph vertices,
        # not the reached count, so nothing else is needed here). It
        # also materializes the held ``reached``, after which every
        # forward generation is dead. Held as a checkpoint: each level
        # below reads it twice, and the deduplicated copy misses the
        # cache and recomputes from the plan's leaves.
        reached = loop.hold(loop.truncate(reached))
        row = reached.agg(F.max("dist").alias("maxd")).collect()[0]
        loop.sweep()
        max_dist = row["maxd"] if row["maxd"] is not None else 0

        if scaled:
            # Brandes–Pich estimator over |V| (all graph vertices, not
            # just reached ones — matches the exact-betweenness limit)
            n_vertices = vertices(e).count()
            factor = n_vertices / n_seeds
        else:
            factor = 1.0

        # ---- backward: level-synchronous dependency accumulation ----
        # every level's delta is an eager checkpoint (one job per
        # level), kept until the final aggregate has read them all
        spark = e.sparkSession
        acc: list[DataFrame] = []
        delta_prev: DataFrame | None = None
        for d in range(max_dist, 0, -1):
            w = reached.where(F.col("dist") == d).select(
                "seed",
                F.col("node").alias("dst"),
                F.col("sigma").alias("sigma_w"),
            )
            if delta_prev is not None:
                w = w.join(
                    _bc(
                        delta_prev.select(
                            "seed", F.col("node").alias("dst"),
                            F.col("delta").alias("delta_w"),
                        ),
                        broadcast_state,
                    ),
                    on=["seed", "dst"],
                    how="left",
                ).fillna(0.0, subset=["delta_w"])
            else:
                w = w.withColumn("delta_w", F.lit(0.0))
            v = reached.where(F.col("dist") == d - 1).select(
                "seed", "node", F.col("sigma").alias("sigma_v")
            )
            contrib = (
                e.join(_bc(w, broadcast_state), on="dst")
                .select(
                    "seed",
                    F.col("src").alias("node"),
                    ((1.0 + F.col("delta_w")) / F.col("sigma_w")).alias(
                        "ratio"
                    ),
                )
                # inner join against level d-1 keeps only shortest-path
                # DAG edges and attaches the predecessor's sigma
                .join(_bc(v, broadcast_state), on=["seed", "node"])
                .groupBy("seed", "node")
                .agg(F.sum(F.col("sigma_v") * F.col("ratio")).alias("delta"))
            )
            delta_prev = loop.truncate(contrib, eager=True)
            acc.append(delta_prev)

        if not acc:
            return spark.createDataFrame([], "node BIGINT, betweenness DOUBLE")

        alldelta = acc[0]
        for piece in acc[1:]:
            alldelta = alldelta.unionByName(piece)
        # The final (node-bounded) relation is cut eagerly so it no
        # longer reads the per-level checkpoints, which the owner
        # releases on exit.
        return loop.keep(
            loop.truncate(
                alldelta.where(F.col("node") != F.col("seed"))
                .groupBy("node")
                .agg((F.sum("delta") * F.lit(factor)).alias("betweenness")),
                eager=True,
            )
        )
