"""Deterministic random-walk corpus generation (DeepWalk / node2vec
style, Perozzi et al. 2014) — the graph-embedding training-data step:
emit one fixed-length walk per source node, where every step picks the
next neighbor with a portable hash instead of an RNG, so the corpus is
reproducible by ANY engine (and by the DuckDB twin, q159).

Scale shape: the adjacency is indexed ONCE (per-src row_number — a
per-key bounded window), then each step is one equi-join of the walk
frontier against (degree, adjacency) on the current node — walk count
× O(1) rows per step, the standard distributed neighbor-sampling plan
(GraphSAGE-style). No RNG state, no driver participation; a walk that
reaches a dangling node simply stops growing (kept, shorter path).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from pagerank_spark.functions import portable_hash60


def random_walks(edges: DataFrame, steps: int = 4) -> DataFrame:
    """One walk per distinct source node: ``(start, path, walk_len)``
    with ``path`` the '->'-joined node sequence. Step ``t`` from node
    ``v`` picks neighbor index ``hash60(v || '#' || t) % out_deg(v)``
    over the dst-sorted adjacency — multi-edges keep their
    multiplicity (a doubled edge is picked twice as often), matching
    the unnormalized sampling of the walk corpus.
    """
    if steps < 1:
        raise ValueError(f"random_walks: steps must be >= 1, got {steps}")
    w = Window.partitionBy("src").orderBy("dst")
    # r15 optimization (§5): each step references the indexed
    # adjacency and the degree relation once, so one materialization
    # of the walk corpus executes the row_number window `steps` times
    # and the degree agg `steps` times (exchange reuse dedupes only
    # the shuffle BELOW the window — the sort+window above it re-runs
    # per reference). An eager checkpoint makes every step read the
    # one materialization. The returned lazy frame reads these pins,
    # so their lifetime is the caller's (GC-released).
    adj = (
        edges.select(
            "src", "dst", (F.row_number().over(w) - 1).alias("idx")
        )
        .localCheckpoint(eager=True)
    )
    deg = (
        edges.groupBy("src")
        .agg(F.count("*").alias("deg"))
        .localCheckpoint(eager=True)
    )
    # the distinct sources are exactly deg's keys — no extra pass
    state = deg.select(
        F.col("src").alias("start"),
        F.col("src").alias("cur"),
        F.col("src").cast("string").alias("path"),
        F.lit(1).alias("walk_len"),
    )
    for t in range(1, steps + 1):
        pick = F.pmod(
            portable_hash60(
                F.concat(F.col("cur").cast("string"), F.lit(f"#{t}"))
            ),
            F.col("deg"),
        )
        step = (
            state.join(deg, state["cur"] == deg["src"], "left")
            .withColumn("__pick", pick)
            .drop("src", "deg")
        )
        step = (
            step.join(
                adj,
                (step["cur"] == adj["src"]) & (step["__pick"] == adj["idx"]),
                "left",
            )
            .select(
                "start",
                F.col("dst").alias("cur"),
                F.when(
                    F.col("dst").isNotNull(),
                    F.concat(
                        F.col("path"),
                        F.lit("->"),
                        F.col("dst").cast("string"),
                    ),
                )
                .otherwise(F.col("path"))
                .alias("path"),
                F.when(
                    F.col("dst").isNotNull(), F.col("walk_len") + 1
                )
                .otherwise(F.col("walk_len"))
                .alias("walk_len"),
            )
        )
        state = step
    return state.select("start", "path", F.col("walk_len").cast("int").alias("walk_len"))


def node2vec_walks(
    edges: DataFrame,
    steps: int = 4,
    p: float = 1.0,
    q: float = 1.0,
    tune: bool = True,
    strict_parity: bool = False,
) -> DataFrame:
    """node2vec biased walks (Grover & Leskovec 2016): like
    :func:`random_walks` but the step from ``cur`` given the PREVIOUS
    node ``prev`` weights each out-edge ``cur → x`` by the
    return/in-out parameters::

        1/p  if x == prev                      (return)
        1    if edge prev → x exists           (stay local, distance 1)
        1/q  otherwise                         (explore, distance 2)

    ``p`` large → walks never return; ``q`` large → walks stay in
    ``prev``'s neighborhood (homophily); ``q`` small → outward DFS-like
    exploration (structural equivalence). Output matches random_walks:
    ``(start, path, walk_len)``, one walk per distinct source.

    RNG-free weighted selection: with weights in dst-sorted adjacency
    order, draw ``u = hash60(prev || '>' || cur || '#' || t) % 10^6 /
    10^6`` and take the lowest-index edge whose running cumulative
    weight exceeds ``u · total_weight`` — the inverse-CDF rule any
    engine reproduces exactly (step 1 has no ``prev`` and uses the
    uniform ``hash % deg`` rule, identical to random_walks). With p, q
    chosen as powers of two the weights are exact binary fractions, so
    even the cumulative sums are float-exact across engines (the q256
    twin relies on this). Multi-edges keep their multiplicity, exactly
    as in the uniform walker.

    Scale shape: per step one equi-join of the frontier against the
    indexed adjacency, one (prev, dst) membership join against the
    distinct edge set, and a per-WALK bounded window for the running
    sum (partition = one walk's ≤ out-degree candidate rows — never a
    global window). The second-order bias costs exactly the one extra
    membership join node2vec's definition demands. Below the engine's
    broadcast-state cut the frontier-side relations (walk state, the
    chosen-next relation, the distinct edge set) broadcast into the
    joins and the loop runs under the shared small-loop shuffle conf —
    the same size-gated treatment every VertexLoop-family loop gets;
    ``N2V_AB_r12.json``: 1.59× at sf0.1, value-identical.
    """
    if steps < 1:
        raise ValueError(f"node2vec_walks: steps must be >= 1, got {steps}")
    # Any p, q > 0 gives a correct biased walk on THIS engine; but the
    # inverse-CDF pick (`cum > u·total`) is only guaranteed drift-free
    # ACROSS engines when 1/p and 1/q are exact binary fractions, i.e.
    # p and q are powers of two — otherwise the cumulative float sums
    # can straddle the threshold differently per engine and silently
    # shift a step (r12 ADVICE). `strict_parity=True` enforces that
    # precondition when oracle/hash parity matters (the q256 twin runs
    # with p=2, q=0.5).
    if p <= 0 or q <= 0:
        raise ValueError("node2vec_walks: p and q must be > 0")
    if strict_parity:
        import math

        for name, val in (("p", p), ("q", q)):
            frac, _ = math.frexp(val)
            if frac != 0.5:  # powers of two have mantissa exactly 0.5
                raise ValueError(
                    f"node2vec_walks: strict_parity requires {name} to "
                    f"be a power of two (got {val}); other values are "
                    "valid but not guaranteed hash-reproducible across "
                    "engines"
                )
    from pagerank_spark.graph.components import BROADCAST_STATE_ROW_LIMIT
    from pagerank_spark.graph.loop import loop_conf

    spark = edges.sparkSession
    ec = edges.count()
    bcs = 2 * ec <= BROADCAST_STATE_ROW_LIMIT
    with loop_conf(spark, ec, enabled=tune):
        return _node2vec_steps(edges, steps, p, q, bcs)


def _node2vec_steps(
    edges: DataFrame, steps: int, p: float, q: float, bcs: bool
) -> DataFrame:
    from pagerank_spark.graph.components import _bc
    from pagerank_spark.graph.loop import Pins

    # r15 optimization (§5: reused AND expensive to recompute): the
    # per-step eager checkpoints split the walk into one job per step,
    # so the static relations below — the indexed adjacency (a window
    # over the full edge table), the degree agg, and the distinct edge
    # set — were RE-COMPUTED by every step's job (steps × a 600k-row
    # sort/window + steps × a 600k-row distinct at sf0.1; exchange
    # reuse never applies across jobs). Hold each once: eager
    # checkpoint → every step reads a leaf, persist on top → exact
    # stats keep the joins' broadcast decisions.
    w = Window.partitionBy("src").orderBy("dst")
    with Pins() as pins:
        adj = pins.hold(
            pins.truncate(
                edges.select(
                    "src", "dst", (F.row_number().over(w) - 1).alias("idx")
                ),
                eager=True,
            )
        )
        deg = pins.hold(
            pins.truncate(
                edges.groupBy("src").agg(F.count("*").alias("deg")),
                eager=True,
            )
        )
        eset = pins.hold(
            pins.truncate(
                edges.select(
                    F.col("src").alias("p_src"), F.col("dst").alias("p_dst")
                ).distinct(),
                eager=True,
            )
        )
        # step 1: uniform, no prev — the random_walks rule verbatim. The
        # distinct sources are exactly the pinned degree relation's keys
        # (one row per src), so no extra distinct pass over the edges.
        state = deg.select(
            F.col("src").alias("start"),
            F.col("src").alias("cur"),
            F.col("src").cast("string").alias("path"),
        )
        pick1 = F.pmod(
            portable_hash60(
                F.concat(F.col("cur").cast("string"), F.lit("#1"))
            ),
            F.col("deg"),
        )
        state = (
            _bc(state, bcs).join(deg, state["cur"] == deg["src"], "inner")
            .withColumn("__pick", pick1)
            .drop("src", "deg")
        )
        state = (
            _bc(state, bcs).join(
                adj,
                (state["cur"] == adj["src"]) & (state["__pick"] == adj["idx"]),
            )
            .select(
                "start",
                F.col("cur").alias("prev"),
                F.col("dst").alias("cur"),
                F.concat(
                    F.col("path"), F.lit("->"), F.col("dst").cast("string")
                ).alias("path"),
                F.lit(2).alias("walk_len"),
            )
        )
        # eager per-step checkpoint (r14: the pin-re-analysis fix applied
        # to the walk frontier): composing all steps into one lazy plan
        # makes the final action's ANALYSIS cost grow with the product of
        # the per-step subtrees (each step embeds two joins, two windows
        # and the previous step's whole plan) — measured as multi-second
        # driver gaps with only ~1s of executor work. Materializing the
        # walk-count-sized frontier per step keeps every plan step-shallow;
        # rows are identical, so the declared trajectory is unchanged.
        # The last step's checkpoint holds the returned columns, so the
        # caller's frame is the checkpoint itself (one pin to release).
        def cut(df: DataFrame, last: bool) -> DataFrame:
            if last:
                df = df.select(
                    "start",
                    "path",
                    F.col("walk_len").cast("int").alias("walk_len"),
                )
            return pins.truncate(df, eager=True)

        state = cut(state, steps == 1)

        win_cum = (
            Window.partitionBy("start")
            .orderBy("idx")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        # r15 optimization (§2.4): the partition total used to ride an
        # UNORDERED spec (partitionBy(start) alone) — a different window
        # spec than the running sum, so Catalyst stacked TWO Window
        # operators per step. The same total expressed over the SAME
        # (partition, order) spec with an unbounded frame folds both
        # functions into ONE Window operator (one pass over the sorted
        # candidates; the unbounded frame is computed once per partition).
        # Float-identical: the total is summed over the identical rows —
        # and for the strict-parity power-of-two p/q the weights are exact
        # binary fractions anyway. A HOF-fold rewrite (collect_list +
        # aggregate) was measured SLOWER (9.5-12.0 s vs 6.9-7.8 s at
        # sf0.1) and rejected — the object agg + interpreted fold loses to
        # the codegen'd window even with the extra sort.
        win_all = (
            Window.partitionBy("start")
            .orderBy("idx")
            .rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        )
        for t in range(2, steps + 1):
            cand = _bc(state, bcs).join(
                adj.select(
                    F.col("src").alias("__asrc"), "dst", "idx"
                ),
                state["cur"] == F.col("__asrc"),
            ).join(
                _bc(eset, bcs),
                (F.col("p_src") == F.col("prev"))
                & (F.col("p_dst") == F.col("dst")),
                "left",
            )
            wcol = (
                F.when(F.col("dst") == F.col("prev"), F.lit(1.0 / p))
                .when(F.col("p_dst").isNotNull(), F.lit(1.0))
                .otherwise(F.lit(1.0 / q))
            )
            u = (
                F.pmod(
                    portable_hash60(
                        F.concat(
                            F.col("prev").cast("string"),
                            F.lit(">"),
                            F.col("cur").cast("string"),
                            F.lit(f"#{t}"),
                        )
                    ),
                    F.lit(1000000),
                ).cast("double")
                / F.lit(1000000.0)
            )
            scored = cand.select(
                "start",
                "dst",
                "idx",
                F.sum(wcol).over(win_cum).alias("__cum"),
                (u * F.sum(wcol).over(win_all)).alias("__target"),
            )
            chosen = (
                scored.where(F.col("__cum") > F.col("__target"))
                .groupBy("start")
                .agg(F.min_by("dst", "idx").alias("__nxt"))
            )
            state = (
                state.join(_bc(chosen, bcs), on="start", how="left")
                .select(
                    "start",
                    F.when(F.col("__nxt").isNotNull(), F.col("cur"))
                    .otherwise(F.col("prev"))
                    .alias("prev"),
                    F.coalesce(F.col("__nxt"), F.col("cur")).alias("cur"),
                    F.when(
                        F.col("__nxt").isNotNull(),
                        F.concat(
                            F.col("path"),
                            F.lit("->"),
                            F.col("__nxt").cast("string"),
                        ),
                    )
                    .otherwise(F.col("path"))
                    .alias("path"),
                    F.when(F.col("__nxt").isNotNull(), F.col("walk_len") + 1)
                    .otherwise(F.col("walk_len"))
                    .alias("walk_len"),
                )
            )
            # per-step eager checkpoint — see the step 1 comment; the
            # previous step's has no reader left
            state = cut(state, t == steps)
            pins.sweep(state)
        return pins.keep(state)


def skipgram_pairs(
    walks: DataFrame, window: int = 2, path_col: str = "path"
) -> DataFrame:
    """Skip-gram training-pair emission over a walk corpus — the step
    that turns DeepWalk paths into (center, context) examples for the
    embedding model. Returns ``(center, context, cnt)`` aggregated
    over every co-occurrence within ``window`` positions (offset 0
    excluded).

    Plan: positions are exploded once; the window pairing is an
    EQUI-join — each position emits its 2·window candidate offsets
    (tiny constant fan-out) and joins back on (walk, position) — so
    no band/theta join and no per-walk quadratic blowup; one final
    partial-combined count shuffle.
    """
    if window < 1:
        raise ValueError(f"skipgram_pairs: window must be >= 1, got {window}")
    toks = walks.select(
        F.col("start").alias("wid"),
        F.posexplode(
            F.split(F.col(path_col), "->").cast("array<long>")
        ).alias("i", "node"),
    )
    offsets = [d for d in range(-window, window + 1) if d != 0]
    centers = toks.select(
        "wid",
        F.col("node").alias("center"),
        F.explode(
            F.array(*[F.col("i") + F.lit(d) for d in offsets])
        ).alias("j"),
    )
    return (
        centers.join(
            toks.select("wid", F.col("i").alias("j"), F.col("node").alias("context")),
            on=["wid", "j"],
        )
        .groupBy("center", "context")
        .agg(F.count("*").alias("cnt"))
    )


def ppmi_matrix(pairs: DataFrame) -> DataFrame:
    """Positive pointwise mutual information over a (center, context,
    cnt) co-occurrence relation — the classic count-based embedding
    matrix (Levy & Goldberg 2014 showed skip-gram factorizes exactly
    this). ``ppmi = max(0, ln(cnt·N / (cnt_center · cnt_context)))``.

    Plan: two marginal aggregations (node-sized relations, broadcast
    back onto the pair table) and one scalar total folded in as a
    broadcast — the pair relation is traversed once; no self-join, no
    window. Rounding is left to the caller (ln is libm-sensitive).
    """
    totals = pairs.agg(F.sum("cnt").alias("__n"))
    pc = pairs.groupBy("center").agg(F.sum("cnt").alias("__pc"))
    px = pairs.groupBy("context").agg(F.sum("cnt").alias("__px"))
    return (
        pairs.join(F.broadcast(pc), on="center")
        .join(F.broadcast(px), on="context")
        .crossJoin(F.broadcast(totals))
        .select(
            "center",
            "context",
            "cnt",
            F.greatest(
                F.lit(0.0),
                F.log(
                    F.col("cnt").cast("double")
                    * F.col("__n")
                    / (F.col("__pc") * F.col("__px"))
                ),
            ).alias("ppmi"),
        )
    )


def negative_samples(
    pairs: DataFrame, k: int = 2
) -> DataFrame:
    """Deterministic negative sampling for skip-gram training — the
    other half of the word2vec objective: for every (center, context)
    pair, draw ``k`` negatives from the context unigram distribution
    by integer inverse-CDF. The draw for slot ``s`` is
    ``hash60(center#context#s) mod total`` mapped through the
    cumulative count ranges — ALL-INTEGER arithmetic, so any engine
    reproduces the exact samples (the 3/4-power variant only swaps
    the weight column for floats). A negative colliding with the true
    context is kept and flagged (``is_collision``) rather than
    resampled, keeping the output closed-form.

    Plan: the context-marginal CDF is a VOCABULARY-sized relation
    (one partial-combined shuffle + a window over distinct nodes —
    cardinality-bounded, the AUC tier's rationale). Draws reach it
    through a FIXED-WIDTH BUCKET INDEX, not range containment: with
    bucket width ``W = ceil(total/vocab)``, each CDF range [lo, hi)
    is exploded to the buckets it spans (≤ vocab + vocab extra rows
    in total, still vocabulary-sized) and each draw computes
    ``bucket = u div W`` — a hashable equi-join key, so Catalyst
    plans a BroadcastHashJoin with the range check as a residual
    filter. The old containment-only form was a
    BroadcastNestedLoopJoin, O(draws × vocab) — a scale-killer at
    web-corpus vocabularies (round-6 verdict #4); this form is
    O(draws) with a vocab-sized build side.
    """
    if k < 1:
        raise ValueError(f"negative_samples: k must be >= 1, got {k}")
    from pyspark.sql import Window

    from pagerank_spark.functions import portable_hash60

    marg = (
        pairs.groupBy("context")
        .agg(F.sum("cnt").alias("c"))
        .filter(F.col("c") > 0)
    )
    w = Window.orderBy("context").rowsBetween(
        Window.unboundedPreceding, -1
    )
    cdf = marg.select(
        F.col("context").alias("neg"),
        F.coalesce(F.sum("c").over(w), F.lit(0)).alias("lo"),
        (F.coalesce(F.sum("c").over(w), F.lit(0)) + F.col("c")).alias("hi"),
    )
    # total mass + vocab size in ONE scalar relation; bucket width
    # W = ceil(total/vocab) keeps the exploded index vocabulary-sized
    # (each range adds at most range/W + 1 buckets; the sum telescopes
    # to <= 2 * vocab rows).
    total = marg.agg(
        F.sum("c").alias("__tot"),
        F.greatest(
            F.lit(1).cast("long"),
            F.ceil(F.sum("c") / F.count(F.lit(1))).cast("long"),
        ).alias("__w"),
    )
    cdf_idx = (
        cdf.crossJoin(F.broadcast(total))
        .select(
            "neg",
            "lo",
            "hi",
            F.explode(
                F.sequence(
                    F.floor(F.col("lo") / F.col("__w")),
                    F.floor((F.col("hi") - 1) / F.col("__w")),
                )
            ).alias("bkt"),
        )
    )
    draws = (
        pairs.select("center", "context")
        .crossJoin(F.broadcast(total))
        .select(
            "center",
            "context",
            F.explode(
                F.array(*[F.lit(s) for s in range(k)])
            ).alias("slot"),
            F.col("__tot"),
            F.col("__w"),
        )
        .withColumn(
            "u",
            F.pmod(
                portable_hash60(
                    F.concat(
                        F.col("center").cast("string"),
                        F.lit("#"),
                        F.col("context").cast("string"),
                        F.lit("#n"),
                        F.col("slot").cast("string"),
                    )
                ),
                F.col("__tot"),
            ),
        )
        .withColumn("bkt", F.floor(F.col("u") / F.col("__w")))
    )
    return (
        draws.join(
            F.broadcast(cdf_idx),
            (draws["bkt"] == cdf_idx["bkt"])
            & (F.col("u") >= F.col("lo"))
            & (F.col("u") < F.col("hi")),
        )
        .select(
            "center",
            "context",
            "slot",
            F.col("neg").alias("negative"),
            (F.col("neg") == F.col("context")).alias("is_collision"),
        )
    )
