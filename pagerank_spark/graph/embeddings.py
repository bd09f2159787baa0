"""Distributed truncated SVD of the PPMI co-occurrence matrix — the
step that turns the walk→skipgram→PPMI training-data pipeline
(q159/q160/q161) into actual node EMBEDDINGS. Levy & Goldberg 2014
showed skip-gram with negative sampling implicitly factorizes the
(shifted) PPMI matrix; the classic count-based alternative is to
factorize it explicitly with a truncated SVD and take ``U·Σ^½`` as
the embedding. The reference corpus emits walk training data but
never trains on it (SURVEY §7.4's similarity-search north star);
this closes that gap with a deterministic, engine-reproducible
factorization.

Algorithm: sequential power iteration with PROJECTION DEFLATION on
the Gram matrix ``G = MᵀM`` of the sparse PPMI relation ``M`` (rows =
centers, columns = contexts):

* each matvec ``G·v`` is computed as ``Mᵀ(M·v)`` — two equi-joins
  against the sparse (row, col, w) relation plus two partial-combined
  aggregations; ``G`` itself is NEVER materialized (vocab² dense in
  the worst case),
* component c > 0 orthogonalizes every iterate against the already-
  found vectors (``y ← y − Σₖ (vₖ·y) vₖ``, classical Gram–Schmidt:
  ALL k dots in one pass over the raw iterate + one summed
  vocabulary-sized adjustment join — a flat per-iteration job count,
  see ``_svd_loop``), i.e. power iteration on ``(I − VVᵀ)G``, whose
  top eigenvector is the (c+1)-th of ``G``. Projection deflation
  keeps EIGENVALUE-SCALE floats out of the loop — every subtraction
  is in units of the current iterate, and the subsequent
  normalize+round step absorbs cross-engine reduction-order drift
  BEFORE it can compound (Hotelling deflation would thread
  λₖ ≈ O(‖G‖) scalars through the arithmetic, where a 9-decimal
  round can no longer absorb a 1e-15 relative drift),
* every singular vector lives as a DISTRIBUTED (node, x) relation;
  only r eigenvalue scalars ever reach the driver — node-count-sized
  state never leaves the cluster (unlike the logreg trainer's
  dim-sized weights, the vocabulary here is corpus-scale).

Determinism (the oracle-twin contract, q259): fixed iteration count,
the deterministic ``1/√|V|`` all-ones start, input weights rounded to
9 decimals, every normalized vector re-rounded to 9 decimals ENGINE-
SIDE (``F.round`` ↔ ``ROUND``) so cross-engine ulps are absorbed at
each step instead of compounding. Eigenvalues are collected unrounded
and only ever re-enter as the λ^(−¼) embedding scale, where relative
drift ~1e-15 is invisible at the queries' 6-decimal output rounding.
An unrolled DuckDB CTE chain reproduces the exact trajectory.

Scale shape: the aggregated PPMI relation is bounded by the number of
DISTINCT co-occurring pairs (≤ vocab², typically ≪), independent of
how many raw walk windows produced it — so doubling the walk corpus
does not grow the per-step join inputs (SVD_PROBE.json measures
this). Per component per iteration: two shuffles of at most
nnz(M)-many rows plus c vocabulary-sized projection joins; iterates
are checkpoint-truncated each step (graph/loop.py ``Pins``) so
neither lineage nor analyzer cost ever compounds.
"""

from __future__ import annotations

import math
from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = [
    "svd_topk",
    "ppmi_svd_embeddings",
    "embedding_vectors",
    "sgns_train",
    "SgnsResult",
]


def svd_topk(
    matrix: DataFrame,
    rank: int = 3,
    iterations: int = 2,
    *,
    delta: float | None = None,
    iterations_out: list[int] | None = None,
    row_col: str = "center",
    col_col: str = "context",
    value_col: str = "ppmi",
    round_dp: int = 9,
    tune: bool = True,
) -> tuple[DataFrame, list[float]]:
    """Top-``rank`` right singular vectors of the sparse ``matrix``
    relation by projection-deflated power iteration on ``MᵀM``.

    Returns ``(v, lams)``: ``v`` is a persisted ``(node, component,
    x)`` relation (component ∈ [0, rank), vectors unit-norm rounded to
    ``round_dp``), ``lams`` the eigenvalue estimates of ``MᵀM``
    (= squared singular values, unrounded driver floats). Caller owns
    the returned DataFrame's unpersist.

    ``delta`` switches fixed-round iteration to δ-stopping — the
    PageRank/HITS convergence discipline: after each normalize+round
    step, ONE extra scalar job takes the L1 distance between
    successive iterates (a key-aligned join + sum — the audited
    bounded-collect class) and the component stops when it is
    ≤ ``delta``; ``iterations`` then acts as the per-component CAP. A
    stopped trajectory is bit-identical to the fixed-round trajectory
    of the same length (the check reads the already-checkpointed
    iterate; pytest-pinned), so the oracle twins — which unroll fixed
    rounds — remain exact for ``delta=None`` and library users get
    convergence control. Because iterates are rounded to ``round_dp``
    each step, ``delta=0.0`` is a natural fixed-point stop: two
    consecutive 9dp-identical iterates end the component.
    ``iterations_out``, if given a list, receives the rounds actually
    run per component.

    Only ``rank`` scalars are collected; all vectors stay distributed.

    ``tune`` runs the iteration under the engine's shared small-loop
    conf (``loop_conf``): below the 64M-row cut the
    matvec/projection shuffles are sized to nnz(M) and AQE is
    disabled — the per-round relations are nnz- and vocab-sized, so
    default session partitioning pays pure scheduler overhead per
    tiny job (the node2vec/VertexLoop rationale; a no-op above the
    cut, where session settings are the right call).
    """
    if rank < 1:
        raise ValueError(f"svd_topk: rank must be >= 1, got {rank}")
    if iterations < 1:
        raise ValueError(
            f"svd_topk: iterations must be >= 1, got {iterations}"
        )
    # r14 optimization: a caller that already holds the rounded,
    # positive-filtered relation persisted under the canonical
    # (r, c, w) names (ppmi_svd_embeddings) sets _prepared to skip a
    # second round/filter/persist/materialize pass over the same data
    # — round() and the w>0 filter are idempotent, so the relation is
    # identical either way.
    _prepared = (
        (row_col, col_col, value_col) == ("r", "c", "w")
        and getattr(matrix, "_pagerank_spark_svd_prepared", False)
    )
    from pagerank_spark.graph.loop import Pins, loop_conf

    spark = matrix.sparkSession
    with Pins() as pins:
        if _prepared:
            m = matrix
        else:
            # checkpoint-then-persist: leaf plan for cheap per-action
            # analysis, exact cached stats for join planning (see
            # ppmi_svd_embeddings for the measurement); lazy: the nnz
            # count below is the strictly-next reader
            m = pins.hold(
                pins.truncate(
                    matrix.select(
                        F.col(row_col).alias("r"),
                        F.col(col_col).alias("c"),
                        F.round(
                            F.col(value_col).cast("double"), round_dp
                        ).alias("w"),
                    ).where(F.col("w") > 0)
                )
            )

        def big_matvec(v: DataFrame) -> DataFrame:
            """y = Mᵀ(M v): two sparse joins, two partial-combined aggs."""
            t = (
                m.join(v.select(F.col("node").alias("c"), "x"), on="c")
                .groupBy("r")
                .agg(F.sum(F.col("w") * F.col("x")).alias("t"))
            )
            return (
                m.join(t, on="r")
                .groupBy("c")
                .agg(F.sum(F.col("w") * F.col("t")).alias("y"))
                .select(F.col("c").alias("node"), "y")
            )

        nnz = m.count()  # materialize the pin before the loop reuses it
        nctx = m.select("c").distinct().count()
        if nctx == 0:
            raise ValueError("svd_topk: matrix has no positive entries")
        init = 1.0 / math.sqrt(float(nctx))
        with loop_conf(spark, nnz, enabled=tune):
            comps = _svd_loop(
                pins, m, rank, iterations, init, round_dp, big_matvec,
                delta=delta, iterations_out=iterations_out,
            )
        out = None
        for ci, (vk, _lam) in enumerate(comps):
            part = vk.select(
                "node", F.lit(ci).cast("int").alias("component"), "x"
            )
            out = part if out is None else out.unionByName(part)
        # lazy persist: every component is checkpoint-rooted (no
        # lineage into the m pin), so materialization can ride the
        # caller's first action instead of a dedicated count job
        out = out.persist()
        return out, [lam for _, lam in comps]


def _svd_loop(
    pins, m, rank, iterations, init, round_dp, big_matvec,
    delta=None, iterations_out=None,
):
    """The component loop proper — runs under svd_topk's loop conf.
    Each iterate's checkpoint is released once the next iterate has
    read it; a component's last one is handed to the caller (the
    returned lazy vectors read it).

    Deflation is CLASSICAL Gram–Schmidt against the found factors
    (all dots taken on the raw iterate, subtracted as one summed
    adjustment). Mid-convergence iterates differ from the modified-GS
    (sequential-residual) form at the ~1e-6 level — both are valid
    projection deflations with the same fixed point, and the oracle
    twin mirrors THIS arithmetic exactly — and it buys a FLAT
    per-iteration job count: one scalar collect for all k dots + one
    eager checkpoint, instead of one broadcast-exchange subtree per
    previous component, each of which re-computed the matvec inside
    the same job (3.0× interleaved at sf0.1, SVD_AB_r13.json). The
    dot products and the norm are single floats (the audited
    bounded-collect class, like the Rayleigh scalars); vectors never
    reach the driver.
    """
    comps: list[tuple[DataFrame, float]] = []
    factors_u = None  # (node, x, comp) union of found factors
    for _comp in range(rank):
        v = m.select(F.col("c").alias("node")).distinct().select(
            "node", F.lit(init).alias("x")
        )
        rounds_run = 0
        for _ in range(iterations):
            # ONE eager checkpoint per iteration, taken on the RAW
            # matvec: the GS dots, the adjustment join and the norm
            # all read this cache. (r14 optimization: the previous
            # shape checkpointed the ADJUSTED y, so each deflated
            # iteration executed the full matvec twice — once under
            # the dots collect, again under the checkpoint — and paid
            # a createDataFrame+broadcast round trip for the k dot
            # scalars; the dots now fold back as a literal CASE
            # expression. Values are identical: same rows, same
            # per-group reduction inputs, and the per-node adjustment
            # sums at most rank−1 ≤ 2 terms, where float addition is
            # order-exact.)
            # LAZY checkpoint (r15; graph/loop.py's rule): it
            # materializes INSIDE the next reader (the dots collect for
            # deflated components, the norm otherwise), deleting the
            # dedicated checkpoint job each iteration paid (~0.2 s/job
            # driver floor × rank × iterations).
            yc = pins.truncate(big_matvec(v))
            if factors_u is not None:
                # all k dots in ONE pass over the cached y
                # (classical GS)
                sks = (
                    yc.join(factors_u, on="node")
                    .groupBy("comp")
                    .agg(F.sum(F.col("y") * F.col("x")).alias("s"))
                    .collect()
                )
                s_expr = F.lit(0.0)
                for r in sks:
                    s_expr = F.when(
                        F.col("comp") == int(r["comp"]),
                        F.lit(float(r["s"])),
                    ).otherwise(s_expr)
                adj = (
                    factors_u.select(
                        "node", (s_expr * F.col("x")).alias("sx")
                    )
                    .groupBy("node")
                    .agg(F.sum("sx").alias("a"))
                )
                y = yc.join(adj, on="node").select(
                    "node", (F.col("y") - F.col("a")).alias("y")
                )
            else:
                y = yc
            norm = float(
                y.agg(
                    F.sqrt(F.sum(F.col("y") * F.col("y")))
                ).collect()[0][0]
                or 0.0
            )
            if norm > 0:
                vx = F.round(F.col("y") / F.lit(norm), round_dp)
            else:
                vx = F.lit(0.0)
            # v is a constant-depth map over the checkpointed RDD —
            # cheap to re-evaluate wherever it is referenced later
            v_prev = v
            v = y.select("node", vx.alias("x"))
            rounds_run += 1
            stop = False
            if delta is not None and rounds_run < iterations:
                # one scalar L1 between successive iterates, reading
                # the checkpointed yc (the PageRank δ discipline);
                # stopping here leaves the trajectory bit-identical
                # to a fixed-round run of length rounds_run
                l1 = float(
                    v.join(
                        v_prev.select(
                            "node", F.col("x").alias("__px")
                        ),
                        on="node",
                        how="outer",
                    )
                    .agg(
                        F.sum(
                            F.abs(
                                F.coalesce(F.col("x"), F.lit(0.0))
                                - F.coalesce(F.col("__px"), F.lit(0.0))
                            )
                        )
                    )
                    .collect()[0][0]
                    or 0.0
                )
                stop = l1 <= delta
            pins.sweep(yc)  # the previous iterate has no reader left
            if stop:
                break
        pins.keep(yc)
        if iterations_out is not None:
            iterations_out.append(rounds_run)
        comps.append(v)
        part = v.select(
            "node", F.lit(_comp).cast("int").alias("comp"), "x"
        )
        factors_u = (
            part if factors_u is None else factors_u.unionByName(part)
        )
    # Rayleigh quotients for ALL components in ONE job (λₖ = ‖Mvₖ‖²
    # with the final, mutually-orthogonal vₖ): per-(row, component)
    # matvec then a rank-sized aggregation — rank scalars collected,
    # rank-1 fewer jobs than a per-component collect
    lam_rows = (
        m.join(
            factors_u.select(F.col("node").alias("c"), "x", "comp"),
            on="c",
        )
        .groupBy("r", "comp")
        .agg(F.sum(F.col("w") * F.col("x")).alias("t"))
        .groupBy("comp")
        .agg(F.sum(F.col("t") * F.col("t")).alias("l"))
        .collect()
    )
    lam_by_comp = {r["comp"]: float(r["l"] or 0.0) for r in lam_rows}
    return [
        (v, lam_by_comp.get(ci, 0.0)) for ci, v in enumerate(comps)
    ]


def ppmi_svd_embeddings(
    ppmi: DataFrame,
    rank: int = 3,
    iterations: int = 2,
    *,
    delta: float | None = None,
    row_col: str = "center",
    col_col: str = "context",
    value_col: str = "ppmi",
    round_dp: int = 9,
    tune: bool = True,
) -> DataFrame:
    """Train node embeddings from a PPMI relation: factorize with
    :func:`svd_topk`, then emit the Levy–Goldberg ``U·Σ^½`` rows as a
    long-form ``(node, dim, value)`` relation::

        value[node, k] = (M vₖ)[node] · λₖ^(−¼)    (λₖ = σₖ², so this
                         is uₖ σₖ^½ — the PPMI-SVD embedding of choice)

    Components with a non-positive eigenvalue estimate (rank exceeds
    the matrix's numerical rank) emit 0.0. One extra sparse join per
    component; the output is node×rank-sized and returned PERSISTED
    (materialized before the factor pin is released) — caller owns the
    unpersist. Feed through :func:`embedding_vectors` to get the
    ``array<double>`` form that ``ann_topk_bruteforce`` / ``ann_ivf``
    consume.
    """
    # materialize the rounded sparse matrix ONCE: the factorization's
    # internal scan and every per-component projection below read this
    # cache instead of re-running the (possibly expensive) PPMI
    # lineage a second time (pre-fix, the walk pipeline materialized
    # twice — once per pin). r14 session 2: the pin is ROOTED IN AN
    # EAGER localCheckpoint before the persist — Catalyst re-analyzes
    # a cached relation's FULL logical lineage on every downstream
    # action before the cache lookup substitutes it (measured 0.85 s
    # per matvec plan over the walk-pipeline lineage vs 0.08 s over a
    # leaf LogicalRDD; ~20 actions reference m per training run), so
    # truncating the plan to a leaf removes seconds of pure driver
    # planning. The persist ON TOP keeps materialized exact-size
    # statistics driving the loop's join strategy exactly as before;
    # rows and arithmetic are untouched.
    from pagerank_spark.graph.loop import Pins

    with Pins() as pins:
        # lazy: svd_topk's nnz count is the strictly-next reader
        m = pins.hold(
            pins.truncate(
                ppmi.select(
                    F.col(row_col).alias("r"),
                    F.col(col_col).alias("c"),
                    F.round(F.col(value_col).cast("double"), round_dp).alias(
                        "w"
                    ),
                ).where(F.col("w") > 0)
            )
        )
        # r14 optimization: hand the pinned relation to svd_topk under
        # its canonical (r, c, w) names with the prepared mark, so the
        # factorization skips its own (identical) round/filter/persist/
        # materialize pass — one cache and one materialization instead
        # of two for the same rows. svd_topk's own count() materializes
        # the pin, so no separate count here.
        m._pagerank_spark_svd_prepared = True
        v, lams = svd_topk(
            m,
            rank=rank,
            iterations=iterations,
            delta=delta,
            row_col="r",
            col_col="c",
            value_col="w",
            round_dp=round_dp,
            tune=tune,
        )
        pins.adopt(v)
        out = None
        for k, lam in enumerate(lams):
            scale = lam ** -0.25 if lam > 0 else 0.0
            part = (
                m.join(
                    v.where(F.col("component") == k).select(
                        F.col("node").alias("c"), "x"
                    ),
                    on="c",
                )
                .groupBy("r")
                .agg(
                    (F.sum(F.col("w") * F.col("x")) * F.lit(scale)).alias(
                        "value"
                    )
                )
                .select(
                    F.col("r").alias("node"),
                    F.lit(k).cast("int").alias("dim"),
                    "value",
                )
            )
            out = part if out is None else out.unionByName(part)
        # materialized before the factor pins are released
        return pins.result(out)


def embedding_vectors(
    emb: DataFrame,
    *,
    node_col: str = "node",
    dim_col: str = "dim",
    value_col: str = "value",
    out_col: str = "embedding",
) -> DataFrame:
    """Pivot long-form ``(node, dim, value)`` embeddings to the
    ``(node, array<double>)`` shape the ANN operators take: one
    partial-combined collect per node, dims sorted inside the array
    expression (no window)."""
    return (
        emb.groupBy(F.col(node_col).alias(node_col))
        .agg(
            F.array_sort(
                F.collect_list(F.struct(F.col(dim_col), F.col(value_col)))
            ).alias("__s")
        )
        .select(
            node_col,
            F.transform(F.col("__s"), lambda s: s[value_col]).alias(
                out_col
            ),
        )
    )


@dataclass
class SgnsResult:
    """Trained skip-gram-negative-sampling factors: ``u`` the input
    (center) embeddings — the vectors word2vec ships — and ``v`` the
    output (context) embeddings, both long-form ``(node, dim, value)``
    relations persisted and DISTRIBUTED (vocabulary-scale state never
    reaches the driver; only the example-mass scalar does). Caller
    owns both unpersists."""

    u: DataFrame
    v: DataFrame
    rounds: int
    example_mass: float
    lr: float = 0.0  # effective step size (resolved from lr=None)


def _sgns_init(nodes: DataFrame, tag: str, dim: int) -> DataFrame:
    """Deterministic hash init in [-0.1, 0.1]: value = ((hash60(tag ||
    node || '/' || dim) mod 2001) - 1000) / 10000 — exact integer
    arithmetic through the division of identical doubles, so any
    engine reproduces every start value bit-for-bit (the q170
    all-integer-sampling rationale applied to initialization)."""
    from pagerank_spark.functions import portable_hash60

    return nodes.select(
        "node",
        F.explode(
            F.array(*[F.lit(j).cast("int") for j in range(dim)])
        ).alias("dim"),
    ).select(
        "node",
        "dim",
        (
            (
                F.pmod(
                    portable_hash60(
                        F.concat(
                            F.lit(tag),
                            F.col("node").cast("string"),
                            F.lit("/"),
                            F.col("dim").cast("string"),
                        )
                    ),
                    F.lit(2001),
                ).cast("double")
                - F.lit(1000.0)
            )
            / F.lit(10000.0)
        ).alias("value"),
    )


def sgns_train(
    pairs: DataFrame,
    negatives: DataFrame | None = None,
    *,
    dim: int = 4,
    rounds: int = 2,
    lr: float | None = None,
    neg_k: int = 2,
    round_dp: int = 9,
    tune: bool = True,
    init: tuple[DataFrame, DataFrame] | None = None,
) -> SgnsResult:
    """Skip-gram with negative sampling — the LEARNED counterpart to
    the count-based :func:`ppmi_svd_embeddings` factorization (Levy &
    Goldberg 2014 showed SGNS implicitly factorizes shifted PPMI;
    this trains the explicit objective those q170 negatives exist
    for). Full-batch gradient descent on::

        L = Σ_(c,w,ℓ,m) m · [ ℓ·(−ln σ(u_c·v_w)) + (1−ℓ)·(−ln σ(−u_c·v_w)) ]
        g(c,w)      = (σ(u_c·v_w) − ℓ) · m
        ∂L/∂u_c[j]  = (1/M) Σ_w g(c,w) · v_w[j]      (M = Σ m)
        ∂L/∂v_w[j]  = (1/M) Σ_c g(c,w) · u_c[j]      (simultaneous)

    ``pairs``: the q160 ``(center, context, cnt)`` relation;
    ``negatives``: the q170 draw relation (built here with ``neg_k``
    when omitted). Collision draws (negative == true context) are
    DROPPED — they would put the same (c, w) cell on both sides of
    the objective. Examples aggregate to one ``(c, w, label, m)``
    relation bounded by distinct (center, word) pairs — like the SVD
    trainer's nnz, INDEPENDENT of how many raw walk windows produced
    a pair, so the per-round join inputs don't grow with the walk
    corpus.

    ``lr`` is the step size against the MEAN loss, so a fixed value
    must scale with the example mass M to produce O(1) parameter
    steps — a constant lr that trains a 60-example toy is inert on a
    60k-mass corpus (every update is lr·Σg·v/M). ``lr=None``
    (default) uses the measured-stable ``0.1 · M`` heuristic
    (calibration sweep at sf0.01: 0.09·M separates at 10 rounds,
    0.35·M diverges; ``trained_ann_probe.py`` re-measures auto-lr
    separation vs the inert fixed toy lr every run and asserts it),
    so library callers train by default at any corpus size; oracle
    twins pass an explicit lr to pin the trajectory.

    Plan shape (the q259 discipline, adapted to two factor sides):
    all state is distributed — U and V are vocab×dim long-form
    relations, only the example-mass scalar M is collected. Per round
    THREE jobs: (1) scores+residuals — two sparse equi-joins of the
    cached example relation against U and V and one partial-combined
    agg, eagerly checkpointed because BOTH gradients read it; (2)/(3)
    each gradient — one sparse join + one partial-combined agg +
    a left-join update, ROUND(round_dp)-ed and checkpointed so
    neither lineage nor cross-engine reduction-order drift (~1e-15)
    ever compounds across rounds. Every checkpoint here is
    :func:`~pagerank_spark.graph.loop.checkpoint_reset_stats`, NOT a
    plain localCheckpoint: because U and V are two EVOLVING relations
    that join each other (unlike the PageRank/SVD loops, whose state
    joins a static edge relation), the size-only join estimator's
    product rule compounds the preserved ``sizeInBytes`` so its digit
    count doubles per round — measured ×3–4 planner wall PER ROUND
    from ~round 11 (BigInteger Karatsuba on the driver) before the
    reset was added. With it, round cost is flat in round count. An
    unrolled DuckDB CTE chain reproduces the exact trajectory (the
    q266 twin).

    ``init`` warm-starts from prior factors — the incremental-ingest
    path: pass a previous result's ``(u, v)`` and training CONTINUES
    from those vectors; vocabulary new to this batch is hash-init as
    usual, and prior vocabulary absent from this batch's examples
    receives no gradient (its vectors persist unchanged). Full-batch
    determinism makes continuation exact: with the same example
    relation, ``rounds=a`` then warm-start ``rounds=b`` is
    bit-identical to ``rounds=a+b`` (pytest-pinned) — note a
    mass-derived auto lr must then be pinned explicitly across calls,
    or each call re-derives it from its own batch.

    Reference tie: SURVEY §7.4's similarity north star; the reference
    corpus emits walk training data but never trains on it.
    """
    if dim < 1:
        raise ValueError(f"sgns_train: dim must be >= 1, got {dim}")
    if rounds < 1:
        raise ValueError(
            f"sgns_train: rounds must be >= 1, got {rounds}"
        )
    # r15 optimization (§5 caching / §2.4): the example build below
    # references ``pairs`` from FOUR subtrees — the positive side, the
    # negative sampler's context-marginal CDF, its draw fan-out, and
    # the multiplicity re-join — and every reference re-executes the
    # final pair aggregation and everything above the reused exchange
    # (for q266 that is the whole walk→explode→join pipeline's tail,
    # four times over). Pin the pair relation once: eager checkpoint →
    # the four consumers analyze and read a leaf, persist on top →
    # exact row stats keep driving the sampler's join planning.
    # Measured (sf0.1, q266 shape, interleaved min-of-2): example
    # build 6.54 → 3.94 s, identical 110627 example rows. The pin is
    # eager (four plan branches read it) and is released as soon as
    # the example relation is materialized — the last read of
    # ``pairs``.
    from pagerank_spark.graph.loop import Pins, loop_conf

    with Pins() as pins:
        pairs = pins.hold(pins.truncate(pairs, eager=True))
        if negatives is None:
            from pagerank_spark.graph.walks import negative_samples

            negatives = negative_samples(pairs, k=neg_k)

        p = pairs.select(
            F.col("center").alias("c"),
            F.col("context").alias("w"),
            F.col("cnt").cast("double").alias("m"),
        )
        # negatives carry the pair's multiplicity: k draws per
        # OCCURRENCE (word2vec semantics), so each draw row weighs the
        # pair's cnt
        neg = (
            negatives.where(~F.col("is_collision"))
            .select("center", "context", "negative")
            .join(
                pairs.select("center", "context", "cnt"),
                on=["center", "context"],
            )
            .select(
                F.col("center").alias("c"),
                F.col("negative").alias("w"),
                F.col("cnt").cast("double").alias("m"),
            )
        )
        # checkpoint-then-persist (the ppmi_svd_embeddings rationale):
        # the example relation's lineage is the whole pair+negative
        # pipeline, and every round's score join plus the init
        # distincts re-analyze it before the cache lookup substitutes
        # the rows — a leaf LogicalRDD makes each of those plans O(1)
        # to analyze while the persist keeps exact-size statistics
        # driving the join strategy. Lazy (r15): ex.count() below is
        # the strictly-next reader.
        ex = pins.hold(
            pins.truncate(
                p.withColumn("label", F.lit(1.0))
                .unionByName(neg.withColumn("label", F.lit(0.0)))
                .groupBy("c", "w", "label")
                .agg(F.sum("m").alias("m"))
            )
        )

        spark = pairs.sparkSession
        n_ex = ex.count()  # materialize the pin
        # the example relation is a leaf now: the pair pin's last
        # reader has run
        pins.release(pairs)
        if n_ex == 0:
            raise ValueError("sgns_train: no training examples")
        mass = float(ex.agg(F.sum("m")).collect()[0][0])
        if lr is None:
            lr = 0.1 * mass  # O(1) steps against the mean loss
        with loop_conf(spark, n_ex * dim, enabled=tune):

            def _start_plan(
                nodes: DataFrame, tag: str, prior
            ) -> DataFrame:
                fresh_nodes = nodes
                if prior is not None:
                    fresh_nodes = nodes.join(
                        prior.select("node").distinct(),
                        on="node",
                        how="left_anti",
                    )
                start = _sgns_init(fresh_nodes, tag, dim)
                if prior is not None:
                    start = prior.select(
                        "node", "dim", "value"
                    ).unionByName(start)
                return start

            iu, iv = init if init is not None else (None, None)
            # r14 optimization: U and V ride ONE side-tagged state
            # relation, so each round pays a single update-checkpoint
            # job (and init a single one) instead of two — the joins
            # read side-filtered views of the cached checkpoint. Cell
            # arithmetic (init hash, gradient sums, update, rounding)
            # is untouched, so the trajectory is bit-identical.
            state = pins.truncate(
                _start_plan(
                    ex.select(F.col("c").alias("node")).distinct(),
                    "sgnsU=",
                    iu,
                )
                .withColumn("side", F.lit("u"))
                .unionByName(
                    _start_plan(
                        ex.select(F.col("w").alias("node")).distinct(),
                        "sgnsV=",
                        iv,
                    ).withColumn("side", F.lit("v"))
                ),
                reset_stats=True,
            )
            u = state.where(F.col("side") == "u").select(
                "node", "dim", "value"
            )
            v = state.where(F.col("side") == "v").select(
                "node", "dim", "value"
            )
            for _ in range(rounds):
                s = (
                    ex.join(
                        u.select(
                            F.col("node").alias("c"),
                            "dim",
                            F.col("value").alias("__u"),
                        ),
                        on="c",
                    )
                    .join(
                        v.select(
                            F.col("node").alias("w"),
                            "dim",
                            F.col("value").alias("__v"),
                        ),
                        on=["w", "dim"],
                    )
                    .groupBy("c", "w", "label", "m")
                    .agg(F.sum(F.col("__u") * F.col("__v")).alias("s"))
                )
                # residuals feed BOTH gradients — one eager checkpoint
                # so the score chain is computed once and the plan
                # truncates (the _svd_loop yc discipline)
                g = pins.truncate(
                    s.select(
                        "c",
                        "w",
                        (
                            (
                                F.lit(1.0)
                                / (F.lit(1.0) + F.exp(-F.col("s")))
                                - F.col("label")
                            )
                            * F.col("m")
                        ).alias("g"),
                    ),
                    reset_stats=True,
                )
                grad_u = (
                    g.join(
                        v.select(
                            F.col("node").alias("w"),
                            "dim",
                            F.col("value").alias("__v"),
                        ),
                        on="w",
                    )
                    .groupBy("c", "dim")
                    .agg(
                        (
                            F.sum(F.col("g") * F.col("__v"))
                            / F.lit(mass)
                        ).alias("__gr")
                    )
                    .select(F.col("c").alias("node"), "dim", "__gr")
                )
                grad_v = (
                    g.join(
                        u.select(
                            F.col("node").alias("c"),
                            "dim",
                            F.col("value").alias("__u"),
                        ),
                        on="c",
                    )
                    .groupBy("w", "dim")
                    .agg(
                        (
                            F.sum(F.col("g") * F.col("__u"))
                            / F.lit(mass)
                        ).alias("__gr")
                    )
                    .select(F.col("w").alias("node"), "dim", "__gr")
                )
                # simultaneous update: grad_v reads the OLD u (both
                # gradients hang off the same checkpointed residuals).
                # One fused update job over the side-tagged state; the
                # per-cell expression is identical to the separate
                # u/v updates it replaces.
                grads = grad_u.withColumn(
                    "side", F.lit("u")
                ).unionByName(grad_v.withColumn("side", F.lit("v")))
                state = pins.truncate(
                    state.join(
                        grads, on=["side", "node", "dim"], how="left"
                    )
                    .select(
                        "side",
                        "node",
                        "dim",
                        F.round(
                            F.col("value")
                            - F.lit(lr)
                            * F.coalesce(F.col("__gr"), F.lit(0.0)),
                            round_dp,
                        ).alias("value"),
                    ),
                    reset_stats=True,
                )
                # the new state materialized eagerly above: the previous
                # round's state and this round's residuals have no
                # readers left
                pins.sweep(state)
                u = state.where(F.col("side") == "u").select(
                    "node", "dim", "value"
                )
                v = state.where(F.col("side") == "v").select(
                    "node", "dim", "value"
                )
        # the returned u and v read the final state: the caller's
        pins.keep(state)
        return SgnsResult(
            u=u, v=v, rounds=rounds, example_mass=mass, lr=lr
        )
