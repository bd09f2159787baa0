"""Distributed training of a linear quality classifier.

The curation pipeline could gate (Gopher rules), score with FIXED
heuristics (quality_score), and EVALUATE a scorer (binary_auc /
calibration_report) — but not *train* one. This module closes that
loop with the CCNet / GPT-3-style pattern: a cheap linear classifier
over hashed bag-of-words features, trained ON the cluster by
full-batch gradient descent, then applied as a corpus-wide quality
gate. (The reference engine has no learning stage at all — this is a
beyond-reference LLM-pipeline operator; its iterative shape follows
the reference's convergence-loop discipline, pageRank.py:159-194,
re-expressed as the engine's per-round broadcast/aggregate cycle.)

Why full-batch GD and not SGD: at 100 TB the expensive thing is the
PASS over the data, not the arithmetic per pass. One full-batch round
is exactly one co-partitioned join + two partial-combined aggregations
— the margin sum per doc and the gradient sum per feature — i.e. the
same per-round cost profile as one PageRank iteration, with
map-side combine doing most of the reduction. The model state (the
weight vector) is feature-dimension-sized, lives on the driver
between rounds, and is BROADCAST into each round's plan as a literal
relation — so lineage NEVER compounds across rounds: every round's
plan reads only the cached feature relation plus a tiny broadcast.
No checkpoints needed; the VertexLoop cadence machinery is unnecessary
because the mutable state never lives in a DataFrame.

Model: logistic regression, p = sigmoid(w·x + b), minimizing mean
log-loss with optional L2. Update per round (eta = learning rate)::

    r_i   = sigmoid(w·x_i + b) - y_i          (residual)
    g_j   = (1/n) * sum_i r_i * x_ij + l2 * w_j
    w_j  -= eta * g_j

The intercept is feature index -1 with constant value 1.0, appended as
real feature rows so margins and gradients are one uniform pipeline.
Weights start at zero, so the whole trajectory is deterministic — a
fixed-round run unrolls exactly into SQL (the q253 oracle twin).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from pagerank_spark.session import local_relation
from pyspark.sql import functions as F

from pagerank_spark.functions import word_tokens

BIAS_INDEX = -1


def hashed_token_features(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_features: int = 1024,
    lowercase: bool = True,
    normalize: bool = False,
) -> DataFrame:
    """Signed hashing-trick bag-of-words: explode whitespace tokens and
    feed them through the exact feature_hash arithmetic (portable-md5
    index + sign bit, Weinberger 2009), so token multiplicity sums with
    ±1 signs into a fixed ``n_features``-dim sparse vector. Memoryless:
    no vocabulary relation to build or ship — the 100 TB-sane text
    featurizer, and the standard input to a fastText-class quality
    classifier.

    Returns sparse long form ``(id_col, feature_index, feature_value)``.
    Scale shape: one explode + one partial-combined (id, index)
    aggregation; output rows are bounded by tokens-per-doc, never by
    vocabulary.

    ``normalize=True`` L2-normalizes each doc's vector (one extra
    per-id aggregation joined back on the same key). Raw signed counts
    reach magnitudes ~O(repeats), which blows up full-batch GD at
    ordinary learning rates (the gradient-Lipschitz constant scales
    with max Σx²); unit-norm rows bound it at 1/4, so the trained gate
    is stable for any corpus — use it whenever the features feed
    logreg_train.
    """
    from pagerank_spark.operators.text import feature_hash

    text = F.col(text_col)
    if lowercase:
        text = F.lower(text)
    toks = df.select(
        F.col(id_col),
        F.explode(word_tokens(text)).alias("tok"),
    ).where(F.col("tok") != "")
    out = feature_hash(toks, ["tok"], n_features=n_features, id_col=id_col)
    if not normalize:
        return out
    norms = out.groupBy(id_col).agg(
        F.sqrt(F.sum(F.col("feature_value") ** 2)).alias("__n")
    )
    return out.join(norms, on=id_col).select(
        id_col,
        "feature_index",
        (F.col("feature_value") / F.col("__n")).alias("feature_value"),
    )


@dataclass
class LogRegResult:
    """Trained model: ``weights`` is a small ``(feature_index, weight)``
    relation (intercept at ``feature_index = -1``) built from the
    driver-side vector — self-contained, no lineage into the training
    data. ``losses`` is the mean log-loss measured at the START of each
    round (only when ``track_loss``)."""

    weights: DataFrame
    iterations: int
    losses: list = field(default_factory=list)


def _sigmoid(col):
    return F.lit(1.0) / (F.lit(1.0) + F.exp(-col))


def logreg_train(
    features: DataFrame,
    labels: DataFrame,
    *,
    id_col: str = "doc_id",
    label_col: str = "y",
    rounds: int = 20,
    lr: float = 0.5,
    l2: float = 0.0,
    tol: float | None = None,
    track_loss: bool = False,
) -> LogRegResult:
    """Full-batch logistic-regression GD over a sparse feature relation.

    ``features``: ``(id_col, feature_index, feature_value)`` long form
    (feature_hash / hashed_token_features output). ``labels``:
    ``(id_col, label_col)`` with labels in {0, 1} (numeric or boolean).
    The rounds run under the engine's shared small-loop conf
    (``loop_conf``).

    Per round ONE action (the gradient collect) whose plan is: broadcast
    the current weights into a margin sum per doc (co-partitioned
    groupBy on ``id_col``), join residuals back to the cached feature
    relation on the SAME partitioning, and reduce to one
    ``n_features``-sized gradient via partial aggregation. The driver
    holds only feature-dimension-sized vectors — the audited bounded-
    collect class. Stops early when ``tol`` is set and the max absolute
    weight update falls below it.
    """
    if rounds < 1:
        raise ValueError(f"logreg_train: rounds >= 1, got {rounds}")
    y = F.col(label_col).cast("double")
    lab = labels.select(F.col(id_col), y.alias("__y"))

    # bias rows make the intercept an ordinary feature — margins and
    # gradients stay one uniform pipeline, and every labeled doc has at
    # least one feature row (so no left-join corner for empty docs)
    xb = features.select(
        F.col(id_col),
        F.col("feature_index").cast("long").alias("feature_index"),
        F.col("feature_value").cast("double").alias("feature_value"),
    ).unionByName(
        lab.select(
            F.col(id_col),
            F.lit(BIAS_INDEX).cast("long").alias("feature_index"),
            F.lit(1.0).alias("feature_value"),
        )
    )
    # checkpoint-below-repartition, then persist (see
    # graph/embeddings.py): every round's margin/gradient action
    # re-analyzes the pinned relations' full lineage (the feature
    # pipeline) before the cache lookup replaces it; rooting the pin
    # in an eager localCheckpoint makes each of the ~2·rounds
    # downstream plans leaf-based while the persist keeps exact
    # stats. The checkpoint must sit BELOW the repartition: a
    # checkpointed scan reports unknown partitioning
    # (tests/test_checkpoint_pin.py pins this), so checkpointing the
    # repartitioned rows would silently re-add a per-round exchange
    # of the big feature relation — the co-partitioning this pin
    # exists to establish.
    # The physical plan of a lazy checkpoint is compiled at creation,
    # so the loop conf below cannot re-shape it.
    # Run the rounds under the engine's shared small-loop conf (the
    # SVD/SGNS/node2vec discipline, a no-op above the 64M-row cut):
    # with AQE on, every tiny per-round job re-plans its stages and
    # shuffles into session-count micro-partitions — measured as
    # multi-second per-action driver gaps on the fixture trainers.
    # The co-partitioning repartition happens INSIDE the conf so the
    # pins and every per-round exchange share the loop sizing.
    from pagerank_spark.graph.loop import Pins, loop_conf

    # every pin is released on exit: nothing reads the trainer's
    # relations after the rounds return their driver-side weights
    with Pins() as pins:
        xb_ck = pins.truncate(xb)
        lab_ck = pins.truncate(lab)
        n_rows = xb_ck.count()
        with loop_conf(n_rows, xb_ck, lab_ck) as (scope, xb_ck, lab_ck):
            xb = pins.hold(xb_ck.repartition(scope.parts, id_col))
            lab = pins.hold(lab_ck.repartition(scope.parts, id_col))
            n = float(lab.count())
            xb.count()  # materialize the pin before the rounds start
            return _logreg_rounds(
                scope, xb, lab, n,
                id_col=id_col, rounds=rounds, lr=lr, l2=l2, tol=tol,
                track_loss=track_loss,
            )


def _logreg_rounds(
    scope, xb, lab, n, *, id_col, rounds, lr, l2, tol, track_loss
) -> LogRegResult:
    """The GD rounds proper — runs under logreg_train's loop conf;
    pins are caller-owned. The weights return on the caller's
    session."""
    w: dict[int, float] = {}  # zero-init: absent index == 0.0
    losses: list[float] = []
    it = 0
    for it in range(1, rounds + 1):
        if w:
            wdf = local_relation(
                scope.spark,
                [(int(k), float(v)) for k, v in w.items()],
                "feature_index long, __w double",
            )
            margins = (
                xb.join(F.broadcast(wdf), on="feature_index")
                .groupBy(id_col)
                .agg(
                    F.sum(
                        F.col("feature_value") * F.col("__w")
                    ).alias("__m")
                )
            )
            scored = lab.join(margins, on=id_col, how="left").select(
                F.col(id_col),
                F.col("__y"),
                _sigmoid(F.coalesce(F.col("__m"), F.lit(0.0))).alias(
                    "__p"
                ),
            )
        else:
            # round 1, w == 0 exactly: p = 0.5 with no join at all
            scored = lab.select(
                F.col(id_col), F.col("__y"), F.lit(0.5).alias("__p")
            )
        if track_loss:
            eps = F.lit(1e-12)
            losses.append(
                scored.agg(
                    F.avg(
                        -F.col("__y") * F.log(F.col("__p") + eps)
                        - (F.lit(1.0) - F.col("__y"))
                        * F.log(F.lit(1.0) - F.col("__p") + eps)
                    ).alias("loss")
                ).collect()[0]["loss"]
            )
        resid = scored.select(
            F.col(id_col), (F.col("__p") - F.col("__y")).alias("__r")
        )
        grad_rows = (
            xb.join(resid, on=id_col)
            .groupBy("feature_index")
            .agg(
                (F.sum(F.col("feature_value") * F.col("__r")) / n).alias(
                    "__g"
                )
            )
            .collect()
        )
        max_step = 0.0
        new_w = dict(w)
        for row in grad_rows:
            j = row["feature_index"]
            step = lr * (row["__g"] + l2 * w.get(j, 0.0))
            new_w[j] = w.get(j, 0.0) - step
            max_step = max(max_step, abs(step))
        w = new_w
        if tol is not None and max_step < tol:
            break

    wdf = local_relation(
        scope.caller,
        sorted((int(k), float(v)) for k, v in w.items()),
        "feature_index long, weight double",
    )
    return LogRegResult(weights=wdf, iterations=it, losses=losses)


def logreg_predict(
    features: DataFrame,
    weights: DataFrame,
    id_col: str = "doc_id",
) -> DataFrame:
    """Score docs with a trained model: ``(id_col, score)`` with
    ``score = sigmoid(w·x + b)``. ``weights`` is the
    ``(feature_index, weight)`` relation from :func:`logreg_train`
    (feature-dimension-sized → broadcast). Docs with no feature rows
    produce no output row; keep empty docs by feeding features that
    include at least one row per doc (hashed_token_features does for
    any non-blank text).

    Plan: one broadcast join + one partial-combined per-doc sum + a
    one-row broadcast intercept fold — no shuffle of anything wider
    than ``(id, margin)``.
    """
    wpos = weights.where(F.col("feature_index") != BIAS_INDEX)
    # the weight relation is feature-dimension-sized (the audited
    # bounded-collect class), so the intercept folds in as a literal
    bias_rows = weights.where(
        F.col("feature_index") == BIAS_INDEX
    ).collect()
    b = float(bias_rows[0]["weight"]) if bias_rows else 0.0
    margins = (
        features.join(F.broadcast(wpos), on="feature_index")
        .groupBy(id_col)
        .agg(F.sum(F.col("feature_value") * F.col("weight")).alias("__m"))
    )
    return margins.select(
        F.col(id_col),
        _sigmoid(F.col("__m") + F.lit(b)).alias("score"),
    )


@dataclass
class SoftmaxResult:
    """Trained multiclass model: ``weights`` is a small ``(class_index,
    feature_index, weight)`` relation (intercepts at ``feature_index =
    -1``), ``classes`` the deterministic ``(label, class_index)``
    mapping (labels sorted ascending), both built from driver-side
    state — self-contained, no lineage into the training data."""

    weights: DataFrame
    classes: DataFrame
    iterations: int
    losses: list = field(default_factory=list)


def softmax_train(
    features: DataFrame,
    labels: DataFrame,
    *,
    id_col: str = "doc_id",
    label_col: str = "label",
    rounds: int = 20,
    lr: float = 0.5,
    track_loss: bool = False,
) -> SoftmaxResult:
    """Full-batch SOFTMAX (multinomial) regression over a sparse
    feature relation — the multiclass extension of :func:`logreg_train`
    (fastText-style language-ID / domain-ID training; gives the q22
    char-class heuristic a trained competitor).

    ``labels``: ``(id_col, label_col)`` with arbitrary (string) class
    labels; the class index is their SORTED order — deterministic, so
    a fixed-round run unrolls into SQL (the q262 oracle twin).

    Per round ONE action: broadcast the (K·dim)-sized weight relation
    into per-(doc, class) margin sums (co-partitioned groupBy), apply
    a max-shifted softmax (two more id-keyed aggregations — exact
    comparisons, deterministic), join residuals back to the cached
    feature relation on the same id partitioning, and reduce to one
    (K·dim)-sized gradient via partial aggregation. Driver state is
    K·dim floats — the audited bounded-collect class. Update::

        p_ik  = exp(z_ik − max_k z_ik) / Σ_k exp(…)
        r_ik  = p_ik − 1[y_i = k]
        g_jk  = (1/n) Σ_i x_ij · r_ik ;   w_jk −= lr · g_jk

    Round 1 from zero init collapses to p = 1/K exactly (both engines
    compute the same 1.0/K double), which the twin exploits in closed
    form.
    """
    if rounds < 1:
        raise ValueError(f"softmax_train: rounds >= 1, got {rounds}")
    spark = features.sparkSession
    lab = labels.select(
        F.col(id_col), F.col(label_col).cast("string").alias("__lab")
    )
    class_rows = sorted(
        r["__lab"] for r in lab.select("__lab").distinct().collect()
    )
    kk = len(class_rows)
    if kk < 2:
        raise ValueError(
            f"softmax_train: need >= 2 classes, got {kk}"
        )
    classes = local_relation(spark, 
        [(c, i) for i, c in enumerate(class_rows)],
        "label string, class_index int",
    )
    lab = lab.join(
        F.broadcast(
            classes.select(
                F.col("label").alias("__lab"),
                F.col("class_index").alias("__y"),
            )
        ),
        on="__lab",
    ).select(id_col, "__y")

    xb = features.select(
        F.col(id_col),
        F.col("feature_index").cast("long").alias("feature_index"),
        F.col("feature_value").cast("double").alias("feature_value"),
    ).unionByName(
        lab.select(
            F.col(id_col),
            F.lit(BIAS_INDEX).cast("long").alias("feature_index"),
            F.lit(1.0).alias("feature_value"),
        )
    )
    # checkpoint-below-repartition + small-loop conf, with the pins'
    # lifetimes — the logreg_train rationale verbatim
    from pagerank_spark.graph.loop import Pins, loop_conf

    with Pins() as pins:
        xb_ck = pins.truncate(xb)
        lab_ck = pins.truncate(lab)
        n_rows = xb_ck.count()
        with loop_conf(n_rows, xb_ck, lab_ck) as (scope, xb_ck, lab_ck):
            xb = pins.hold(xb_ck.repartition(scope.parts, id_col))
            lab = pins.hold(lab_ck.repartition(scope.parts, id_col))
            n = float(lab.count())
            xb.count()
            return _softmax_rounds(
                scope, xb, lab, n,
                id_col=id_col, rounds=rounds, lr=lr, kk=kk,
                classes=classes, track_loss=track_loss,
            )


def _softmax_rounds(
    scope, xb, lab, n, *, id_col, rounds, lr, kk, classes, track_loss
) -> "SoftmaxResult":
    """The GD rounds proper — runs under softmax_train's loop conf;
    pins are caller-owned. The weights return on the caller's
    session."""
    w: dict[tuple[int, int], float] = {}  # (class, feature) -> w
    losses: list[float] = []
    it = 0
    for it in range(1, rounds + 1):
        if w:
            wdf = local_relation(
                scope.spark,
                [
                    (int(k), int(j), float(v))
                    for (k, j), v in w.items()
                ],
                "__k int, feature_index long, __w double",
            )
            z = (
                xb.join(F.broadcast(wdf), on="feature_index")
                .groupBy(id_col, "__k")
                .agg(
                    F.sum(
                        F.col("feature_value") * F.col("__w")
                    ).alias("__z")
                )
            )
            zmax = z.groupBy(id_col).agg(
                F.max("__z").alias("__zm")
            )
            e = z.join(zmax, on=id_col).select(
                F.col(id_col),
                F.col("__k"),
                F.exp(F.col("__z") - F.col("__zm")).alias("__e"),
            )
            esum = e.groupBy(id_col).agg(F.sum("__e").alias("__es"))
            probs = e.join(esum, on=id_col).select(
                F.col(id_col),
                F.col("__k"),
                (F.col("__e") / F.col("__es")).alias("__p"),
            )
        else:
            # round 1, w == 0 exactly: p = 1/K with no join at all
            probs = lab.select(
                F.col(id_col),
                F.explode(
                    F.array(*[F.lit(k) for k in range(kk)])
                ).alias("__k"),
                F.lit(1.0 / kk).alias("__p"),
            ).select(id_col, "__k", "__p")
        if track_loss:
            eps = F.lit(1e-12)
            losses.append(
                probs.join(lab, on=id_col)
                .where(F.col("__k") == F.col("__y"))
                .agg(F.avg(-F.log(F.col("__p") + eps)))
                .collect()[0][0]
            )
        resid = probs.join(lab, on=id_col).select(
            F.col(id_col),
            F.col("__k"),
            (
                F.col("__p")
                - (F.col("__k") == F.col("__y")).cast("double")
            ).alias("__r"),
        )
        grad_rows = (
            xb.join(resid, on=id_col)
            .groupBy("__k", "feature_index")
            .agg(
                (
                    F.sum(F.col("feature_value") * F.col("__r")) / n
                ).alias("__g")
            )
            .collect()
        )
        new_w = dict(w)
        for row in grad_rows:
            key = (row["__k"], row["feature_index"])
            new_w[key] = new_w.get(key, 0.0) - lr * row["__g"]
        w = new_w

    wdf = local_relation(
        scope.caller,
        sorted(
            (int(k), int(j), float(v)) for (k, j), v in w.items()
        ),
        "class_index int, feature_index long, weight double",
    )
    return SoftmaxResult(
        weights=wdf, classes=classes, iterations=it, losses=losses
    )


def softmax_predict(
    features: DataFrame,
    model: SoftmaxResult,
    id_col: str = "doc_id",
    round_probs: int | None = None,
) -> DataFrame:
    """Score docs with a trained softmax model: ``(id_col, label,
    prob)`` — the argmax class per doc and its probability. One
    broadcast join + per-(doc, class) margin sums + the max-shifted
    softmax; the argmax is a per-doc max_by over K rows (ties break to
    the lower class index — deterministic).

    ``round_probs`` rounds the probabilities BEFORE the argmax (and in
    the output): with it, near-ties resolve identically on any engine
    — cross-engine reduction-order drift (~1e-15) can no longer flip
    the winner (the q257 round-the-input discipline); oracle-parity
    callers pass 9."""
    wdf = model.weights.select(
        F.col("class_index").alias("__k"),
        "feature_index",
        F.col("weight").alias("__w"),
    )
    z = (
        features.select(
            F.col(id_col),
            F.col("feature_index").cast("long").alias("feature_index"),
            F.col("feature_value").cast("double").alias("feature_value"),
        )
        .unionByName(
            features.select(id_col)
            .distinct()
            .select(
                F.col(id_col),
                F.lit(BIAS_INDEX).cast("long").alias("feature_index"),
                F.lit(1.0).alias("feature_value"),
            )
        )
        .join(F.broadcast(wdf), on="feature_index")
        .groupBy(id_col, "__k")
        .agg(F.sum(F.col("feature_value") * F.col("__w")).alias("__z"))
    )
    zmax = z.groupBy(id_col).agg(F.max("__z").alias("__zm"))
    e = z.join(zmax, on=id_col).select(
        F.col(id_col),
        "__k",
        F.exp(F.col("__z") - F.col("__zm")).alias("__e"),
    )
    esum = e.groupBy(id_col).agg(F.sum("__e").alias("__es"))
    p = F.col("__e") / F.col("__es")
    if round_probs is not None:
        p = F.round(p, round_probs)
    best = (
        e.join(esum, on=id_col)
        .select(F.col(id_col), "__k", p.alias("__p"))
        .groupBy(id_col)
        .agg(
            F.max(
                F.struct(
                    F.col("__p"), (-F.col("__k")).alias("__nk")
                )
            ).alias("__b")
        )
        .select(
            F.col(id_col),
            (-F.col("__b.__nk")).cast("int").alias("class_index"),
            F.col("__b.__p").alias("prob"),
        )
    )
    return best.join(F.broadcast(model.classes), on="class_index").select(
        id_col, "label", "prob"
    )
