"""Similarity search over embedding columns (array<float>).

- ``ann_topk_bruteforce``: exact cosine top-k per query via a join +
  window — the correctness baseline. The query set is broadcast (it's
  the small side); the corpus streams through one pass; ranking is
  per-query TakeOrdered, never a global sort.
- ``ann_lsh``: scale path — random-hyperplane LSH buckets both sides,
  compares only within buckets (multi-probe over B bit-sampled bands).
  Recall is tunable with bands/bits; exactness is traded for a
  shuffle-on-bucket plan that survives a 100×-larger corpus.

All cosine math is native Catalyst array expressions (zip_with +
aggregate), JVM-side; no Python in the hot path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window

from pagerank_spark.session import local_relation
from pyspark.sql import functions as F

from pagerank_spark.functions import dot, l2_norm


def _as_double(df: DataFrame, id_col: str, vec_col: str, prefix: str) -> DataFrame:
    """Project (id, vec, norm) — the L2 norm is computed ONCE per row
    below the join, not per candidate pair (a |Q|× saving on the corpus
    side of a top-k join)."""
    v = F.col(vec_col).cast("array<double>")
    return df.select(
        F.col(id_col).alias(f"{prefix}_id"),
        v.alias(f"{prefix}_vec"),
        l2_norm(v).alias(f"{prefix}_norm"),
    )


def ann_topk_bruteforce(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int | None = 6,
) -> DataFrame:
    """Exact cosine top-k: (query_id, neighbor_id, cos, rank ≤ k).

    Ties are broken by neighbor id AFTER rounding so the result is
    deterministic across engines and summation orders.
    """
    q = _as_double(queries, id_col, vec_col, "query")
    c = _as_double(corpus, id_col, vec_col, "nb")
    cos = dot(F.col("query_vec"), F.col("nb_vec")) / (
        F.col("query_norm") * F.col("nb_norm")
    )
    if round_digits is not None:
        cos = F.round(cos, round_digits)
    scored = (
        F.broadcast(q)
        .crossJoin(c)
        .where(F.col("query_id") != F.col("nb_id"))
        .select("query_id", "nb_id", cos.alias("cos"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cos"), F.asc("nb_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "nb_id", "cos", "rank")
    )


def _hyperplanes(dim: int, n_planes: int, seed: int = 7) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes (LCG — no RNG dependency)."""
    state = seed
    planes = []
    for _ in range(n_planes):
        row = []
        for _ in range(dim):
            state = (1_103_515_245 * state + 12_345) % (1 << 31)
            row.append((state / float(1 << 31)) * 2.0 - 1.0)
        planes.append(row)
    return planes


def lsh_bucket(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    n_planes: int = 12,
    n_bands: int = 3,
    seed: int = 7,
) -> DataFrame:
    """Random-hyperplane signature split into bands: (id, vec, band, bucket).

    sign(v·h) per plane → n_planes bits → n_bands bucket keys. A vector
    lands in n_bands buckets; candidates must collide in ≥1.
    """
    planes = _hyperplanes(dim, n_planes, seed)
    v = F.col(vec_col).cast("array<double>")
    bits = [
        F.when(dot(v, F.array(*[F.lit(x) for x in plane])) >= 0, 1).otherwise(0)
        for plane in planes
    ]
    per_band = n_planes // n_bands
    rows = []
    for band in range(n_bands):
        bucket = F.concat_ws(
            "",
            *[
                b.cast("string")
                for b in bits[band * per_band : (band + 1) * per_band]
            ],
        )
        rows.append(
            df.select(
                F.col(id_col).alias("id"),
                v.alias("vec"),
                l2_norm(v).alias("norm"),
                F.lit(band).alias("band"),
                bucket.alias("bucket"),
            )
        )
    out = rows[0]
    for r in rows[1:]:
        out = out.unionAll(r)
    return out


def _centroids(
    corpus: DataFrame, id_col: str, vec_col: str, n_centroids: int,
    refine: int = 1,
) -> list[tuple[int, list[float]]]:
    """Deterministic IVF codebook: seed with the first ``n_centroids``
    vectors by id order, then ``refine`` Lloyd refinements (assign-all +
    per-dimension mean via posexplode/groupBy — fully distributed; only
    the n_centroids × dim codebook ever reaches the driver).
    ``refine=0`` keeps the raw seed vectors — lower recall, but the
    codebook is then reproducible by any engine without matching float
    mean-reduction order, which is what the exact SQL twin needs."""
    v = F.col(vec_col).cast("array<double>")
    seeds = (
        corpus.orderBy(F.col(id_col))
        .limit(n_centroids)
        .select(F.col(id_col), v.alias("cvec"))
        .collect()
    )
    if refine == 0:
        return [(i, [float(x) for x in r["cvec"]]) for i, r in enumerate(seeds)]
    seed_df = local_relation(corpus.sparkSession, 
        [(i, [float(x) for x in r["cvec"]]) for i, r in enumerate(seeds)],
        "cid INT, cvec ARRAY<DOUBLE>",
    )
    assigned = _assign_nearest(
        corpus.select(F.col(id_col).alias("id"), v.alias("vec")), seed_df, 1
    )
    means = (
        assigned.select("cid", F.posexplode("vec").alias("pos", "x"))
        .groupBy("cid", "pos")
        .agg(F.avg("x").alias("m"))
        .groupBy("cid")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "m"))).alias("pm"))
        .select("cid", F.transform("pm", lambda s: s["m"]).alias("cvec"))
        .collect()
    )
    return [(r["cid"], list(r["cvec"])) for r in means]


def _assign_nearest(
    points: DataFrame, centroids: DataFrame, n_probe: int
) -> DataFrame:
    """(id, vec) × broadcast codebook → top-``n_probe`` centroids per
    point by cosine-free dot ranking (centroids are near-unit after
    averaging normalized-ish data; ranking by dot/|c| is equivalent for
    a fixed point).

    Round 14 (optimization, guide §2.4/§8): the old shape exploded
    every point |codebook|× — each copy carrying the FULL vector
    payload — and ranked with a window, i.e. one Exchange + sort of
    n_centroids·|corpus| heavy rows just to pick 1-4 small cids per
    point. Now the codebook rides as ONE broadcast array row and each
    point ranks it locally (transform + array_sort over ≤ n_centroids
    elements), so the operator is shuffle-free and emits n_probe rows
    per point directly. The comparator replicates the window's exact
    ordering (affinity DESC with NaN first / NULL last, cid ASC
    tie-break), so output rows are identical."""
    cb = centroids.agg(
        F.collect_list(F.struct(F.col("cid"), F.col("cvec"))).alias("cb")
    )

    def _aff(c):
        return dot(F.col("vec"), c["cvec"]) / l2_norm(c["cvec"])

    def _cmp(x, y):
        xa, ya = x["a"], y["a"]
        return (
            F.when(xa.isNull() & ya.isNull(), F.lit(0))
            .when(xa.isNull(), F.lit(1))       # NULL last (desc default)
            .when(ya.isNull(), F.lit(-1))
            .when(F.isnan(xa) & F.isnan(ya), F.lit(0))
            .when(F.isnan(xa), F.lit(-1))      # NaN sorts greatest
            .when(F.isnan(ya), F.lit(1))
            .when(xa > ya, F.lit(-1))
            .when(xa < ya, F.lit(1))
            .when(x["cid"] < y["cid"], F.lit(-1))
            .when(x["cid"] > y["cid"], F.lit(1))
            .otherwise(F.lit(0))
        )

    ranked = F.slice(
        F.array_sort(
            F.transform(
                F.col("cb"),
                lambda c: F.struct(
                    _aff(c).alias("a"), c["cid"].alias("cid")
                ),
            ),
            _cmp,
        ),
        1,
        n_probe,
    )
    return (
        points.crossJoin(F.broadcast(cb))
        .select("id", "vec", F.explode(ranked).alias("pick"))
        .select("id", "vec", F.col("pick")["cid"].alias("cid"))
    )


def ann_ivf(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int = 16,
    n_probe: int = 4,
    refine: int = 1,
) -> DataFrame:
    """IVF approximate top-k: partition the corpus by nearest centroid,
    probe only the query's ``n_probe`` closest lists. ``refine`` is the
    Lloyd-refinement count for the codebook (0 = raw seed vectors,
    engine-reproducible — see ``_centroids``).

    The scale story: corpus assignment is one broadcast join + window
    (each vector lands in exactly ONE inverted list, unlike LSH's
    multi-band copies), and the candidate join shuffles on ``cid`` —
    per-query work is |corpus| · n_probe / n_centroids. Same output
    schema as the exact baseline so recall is directly measurable.
    """
    spark = corpus.sparkSession
    codebook = local_relation(spark, 
        _centroids(corpus, id_col, vec_col, n_centroids, refine=refine),
        "cid INT, cvec ARRAY<DOUBLE>",
    )
    v = F.col(vec_col).cast("array<double>")
    c_assigned = _assign_nearest(
        corpus.select(F.col(id_col).alias("id"), v.alias("vec")), codebook, 1
    ).select(
        F.col("id").alias("nb_id"),
        F.col("vec").alias("nb_vec"),
        l2_norm(F.col("vec")).alias("nb_norm"),
        "cid",
    )
    q_assigned = _assign_nearest(
        queries.select(F.col(id_col).alias("id"), v.alias("vec")),
        codebook,
        n_probe,
    ).select(
        F.col("id").alias("query_id"),
        F.col("vec").alias("query_vec"),
        l2_norm(F.col("vec")).alias("query_norm"),
        "cid",
    )
    scored = (
        q_assigned.join(c_assigned, on="cid")
        .where(F.col("query_id") != F.col("nb_id"))
        .select(
            "query_id",
            "nb_id",
            F.round(
                dot(F.col("query_vec"), F.col("nb_vec"))
                / (F.col("query_norm") * F.col("nb_norm")),
                6,
            ).alias("cos"),
        )
    )
    # No distinct needed: each corpus vector lives in exactly one list,
    # so a (query, neighbor) pair meets at most once.
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("nb_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "nb_id", "cos", "rank")
    )


def ann_lsh(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 12,
    n_bands: int = 3,
) -> DataFrame:
    """Approximate top-k: compare only within shared LSH buckets.

    The join shuffles on (band, bucket) — corpus-size-proportional work
    per bucket instead of |queries|×|corpus|. Returns the same schema
    as the brute-force baseline so recall can be measured directly.
    """
    cb = lsh_bucket(corpus, id_col, vec_col, dim, n_planes, n_bands)
    qb = lsh_bucket(queries, id_col, vec_col, dim, n_planes, n_bands)
    pairs = (
        qb.select(
            F.col("id").alias("query_id"),
            F.col("vec").alias("query_vec"),
            F.col("norm").alias("query_norm"),
            "band",
            "bucket",
        )
        .join(
            cb.select(
                F.col("id").alias("nb_id"),
                F.col("vec").alias("nb_vec"),
                F.col("norm").alias("nb_norm"),
                "band",
                "bucket",
            ),
            on=["band", "bucket"],
        )
        .where(F.col("query_id") != F.col("nb_id"))
    )
    # Score BEFORE the cross-band dedup: cos is a deterministic function
    # of the pair, so duplicates (one per shared band) collapse to
    # identical (query_id, nb_id, cos) rows — the distinct then shuffles
    # three scalar columns instead of two dim-sized vectors per row
    # (~30× fewer shuffle bytes at dim=64 for ≤ n_bands extra dot
    # products per pair, which whole-stage codegen makes cheap).
    scored = pairs.select(
        "query_id",
        "nb_id",
        F.round(
            dot(F.col("query_vec"), F.col("nb_vec"))
            / (F.col("query_norm") * F.col("nb_norm")),
            6,
        ).alias("cos"),
    ).distinct()
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("nb_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "nb_id", "cos", "rank")
    )


def _assign_euclidean(points: DataFrame, centroids: DataFrame) -> DataFrame:
    """(id, vec) × broadcast codebook → nearest centroid by EUCLIDEAN
    distance (ties → smallest cid). One broadcast join + one
    partial-combined min_by aggregation — no window, no shuffle of the
    points beyond the groupBy(id) combine."""
    d2 = F.aggregate(
        F.zip_with(
            F.col("vec"), F.col("cvec"), lambda a, b: (a - b) * (a - b)
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    scored = points.join(F.broadcast(centroids)).select(
        "id", "vec", "cid", d2.alias("d2")
    )
    return scored.groupBy("id").agg(
        F.min_by("cid", F.struct("d2", "cid")).alias("cid"),
        F.first("vec").alias("vec"),
    )


def kmeans(
    df: DataFrame,
    k: int = 4,
    iterations: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Lloyd's k-means over an embedding column — the corpus-curation
    clustering step (data mixing by cluster, diversity sampling,
    cluster-level dedup). Returns ``(id, cluster)``.

    Determinism/oracle design (the q33 fixed-iteration pattern):
    seeds are the first ``k`` vectors by id (engine-reproducible, no
    RNG), assignment is euclidean argmin with ties to the smallest
    centroid id, and exactly ``iterations`` assign→mean rounds run —
    so a bounded SQL twin reproduces every assignment (q141). A
    cluster that loses all members keeps its previous centroid.

    Scale shape: per round ONE broadcast join against the k×dim
    codebook + one partial-combined ``min_by`` per point + one
    posexplode mean (k×dim rows to the driver — the codebook is the
    only driver materialization, same contract as IVF's ``_centroids``).
    """
    spark = df.sparkSession
    v = F.col(vec_col).cast("array<double>")
    pts = df.select(F.col(id_col).alias("id"), v.alias("vec"))
    seeds = (
        pts.orderBy("id")
        .limit(k)
        .select("vec")
        .collect()
    )
    codebook = [(i, [float(x) for x in r["vec"]]) for i, r in enumerate(seeds)]
    for _ in range(iterations):
        cb_df = local_relation(spark, codebook, "cid INT, cvec ARRAY<DOUBLE>")
        assigned = _assign_euclidean(pts, cb_df)
        means = (
            assigned.select("cid", F.posexplode("vec").alias("pos", "x"))
            .groupBy("cid", "pos")
            .agg(F.avg("x").alias("m"))
            .groupBy("cid")
            .agg(
                F.array_sort(F.collect_list(F.struct("pos", "m"))).alias("pm")
            )
            .select("cid", F.transform("pm", lambda s: s["m"]).alias("cvec"))
            .collect()
        )
        new_cb = {r["cid"]: list(r["cvec"]) for r in means}
        codebook = [
            (cid, new_cb.get(cid, old)) for cid, old in codebook
        ]
    cb_df = local_relation(spark, codebook, "cid INT, cvec ARRAY<DOUBLE>")
    return _assign_euclidean(pts, cb_df).select(
        F.col("id").alias(id_col), F.col("cid").alias("cluster")
    )


def semantic_dedup(
    df: DataFrame,
    k: int = 4,
    iterations: int = 2,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): semantic near-duplicate removal
    over an embedding column with the quadratic pair work BOUNDED by
    clustering — k-means first, cosine scored only WITHIN clusters,
    then the greedy keep-first rule: a document is dropped iff an
    earlier (smaller-id) same-cluster document sits within the cosine
    threshold. Returns ``(id, cluster, keep)`` covering every input
    row.

    Scale shape: the pair join is an equi-join on ``cluster`` (never
    all-pairs — per-cluster work is (n/k)² instead of n², and k grows
    with the corpus in practice), scored before a semi-join back; the
    clustering itself is ``kmeans``'s broadcast-codebook loop. Fully
    deterministic (kmeans seeds, smallest-id ties, 6dp-rounded cosine
    thresholding), so q142's twin reproduces every keep/drop decision.
    """
    assigned = kmeans(df, k=k, iterations=iterations, id_col=id_col,
                      vec_col=vec_col)
    v = F.col(vec_col).cast("array<double>")
    pts = df.select(F.col(id_col), v.alias("__v")).join(assigned, on=id_col)
    a = pts.select(
        F.col(id_col).alias("__ida"), F.col("__v").alias("__va"), "cluster"
    )
    b = pts.select(
        F.col(id_col).alias("__idb"), F.col("__v").alias("__vb"), "cluster"
    )
    cos = F.round(
        dot(F.col("__va"), F.col("__vb"))
        / (l2_norm(F.col("__va")) * l2_norm(F.col("__vb"))),
        6,
    )
    dup_ids = (
        a.join(b, on="cluster")
        .where(F.col("__ida") < F.col("__idb"))
        .where(cos >= threshold)
        .select(F.col("__idb").alias(id_col))
        .distinct()
    )
    return assigned.join(
        dup_ids.withColumn("__dup", F.lit(True)), on=id_col, how="left"
    ).select(
        id_col,
        "cluster",
        F.coalesce(~F.col("__dup"), F.lit(True)).alias("keep"),
    )


def pca_top_component(
    df: DataFrame,
    iterations: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Top principal component by POWER ITERATION on the covariance —
    the curation dimension-reduction/whitening primitive. Returns 64
    (= dim) rows ``(pos, component, eigenvalue)``: the L2-normalized
    leading eigenvector after exactly ``iterations`` matvec rounds
    from the deterministic all-ones start, plus the Rayleigh-quotient
    eigenvalue estimate (same value on every row for hash simplicity).

    Scale shape: the covariance is computed ONCE as a (i, j, cov)
    RELATION — per input row a dim² self-pairing of its posexploded
    components, partially aggregated map-side, so the shuffle carries
    at most dim² rows per partition regardless of corpus size; each
    power step is then a broadcast of the dim-sized vector into one
    join + one dim-row aggregation. Only dim-sized vectors ever reach
    the driver. Fixed iterations + fixed start ⇒ an unrolled SQL twin
    reproduces every component (q143).
    """
    import math

    if iterations < 1:
        raise ValueError(
            f"pca_top_component: iterations must be >= 1, got {iterations}"
        )
    v = F.col(vec_col).cast("array<double>")
    pts = df.select(v.alias("vec"))
    exploded = pts.select(F.posexplode("vec").alias("i", "x"))
    n = pts.count()
    if n == 0:
        raise ValueError("pca_top_component: empty input")
    means = exploded.groupBy("i").agg((F.sum("x") / n).alias("mi"))
    # dim² covariance relation: pair the components of each row
    # (two chained posexplodes — one generator per projection)
    pairs = pts.select(
        F.posexplode("vec").alias("i", "xi"), F.col("vec")
    ).select("i", "xi", F.posexplode("vec").alias("j", "xj"))
    exy = (
        pairs.groupBy("i", "j")
        .agg((F.sum(F.col("xi") * F.col("xj")) / n).alias("exy"))
    )
    from pagerank_spark.graph.loop import Pins

    # the owner releases the dim²-row covariance pin on any exit, a
    # failed power-iteration job included
    with Pins() as pins:
        cov = pins.hold(
            exy.join(means.select(F.col("i"), F.col("mi")), on="i")
            .join(
                means.select(
                    F.col("i").alias("j"), F.col("mi").alias("mj")
                ),
                on="j",
            )
            .select(
                "i",
                "j",
                (F.col("exy") - F.col("mi") * F.col("mj")).alias("cov"),
            )
        )
        dim = cov.agg(F.max("i")).collect()[0][0] + 1
        x = [1.0 / math.sqrt(dim)] * dim
        spark = df.sparkSession
        for _ in range(iterations):
            xdf = local_relation(spark, 
                list(enumerate(x)), "j INT, xj DOUBLE"
            )
            y = (
                cov.join(F.broadcast(xdf), on="j")
                .groupBy("i")
                .agg(F.sum(F.col("cov") * F.col("xj")).alias("y"))
                .orderBy("i")
                .collect()
            )
            vec = [0.0] * dim
            for r in y:
                vec[r["i"]] = r["y"]
            norm = math.sqrt(sum(c * c for c in vec))
            x = [c / norm for c in vec] if norm > 0 else vec
        # Rayleigh quotient: xᵀCx with the final normalized x
        xdf = local_relation(spark, list(enumerate(x)), "j INT, xj DOUBLE")
        lam = (
            cov.join(F.broadcast(xdf), on="j")
            .join(
                F.broadcast(
                    local_relation(spark, 
                        list(enumerate(x)), "i INT, xi DOUBLE"
                    )
                ),
                on="i",
            )
            .agg(F.sum(F.col("xi") * F.col("cov") * F.col("xj")))
            .collect()[0][0]
        )
    out = local_relation(spark, 
        [(i, float(c), float(lam)) for i, c in enumerate(x)],
        "pos INT, component DOUBLE, eigenvalue DOUBLE",
    )
    return out


def pca_project(
    df: DataFrame,
    iterations: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Project every embedding onto the leading principal component —
    the 1-D whitening / dimension-reduction step that follows
    ``pca_top_component``. Returns ``(id_col, proj)`` where
    ``proj = (x - mean) . u`` for the power-iteration eigenvector
    ``u``.

    Scale shape: the eigenvector and the mean-offset scalar are
    dim-sized DRIVER constants (the only things ``pca_top_component``
    ever collects), folded into the plan as literals — the projection
    itself is one whole-stage-codegen map over the corpus
    (``zip_with`` + ``aggregate`` dot product minus a constant), ZERO
    shuffles and zero Python. ``(x - m) . u = x . u - m . u``, so the
    centering costs one literal subtraction, not a second array op.
    """
    comp = pca_top_component(
        df, iterations=iterations, id_col=id_col, vec_col=vec_col
    ).collect()
    u = [0.0] * len(comp)
    for r in comp:
        u[r["pos"]] = r["component"]
    v = F.col(vec_col).cast("array<double>")
    exploded = df.select(F.posexplode(v).alias("i", "x"))
    n = df.count()
    mean_rows = exploded.groupBy("i").agg((F.sum("x") / n).alias("m")).collect()
    m = [0.0] * len(u)
    for r in mean_rows:
        m[r["i"]] = r["m"]
    offset = sum(mi * ui for mi, ui in zip(m, u))
    u_lit = F.array(*[F.lit(c) for c in u])
    proj = F.aggregate(
        F.zip_with(v, u_lit, lambda a, b: a * b),
        F.lit(0.0),
        lambda acc, y: acc + y,
    ) - F.lit(float(offset))
    return df.select(F.col(id_col), proj.alias("proj"))


def _grid_stats(
    df: DataFrame, vec_col: str, levels: int
) -> tuple[list[float], list[float]]:
    """One corpus pass → per-dimension (min, scale) lists for a uniform
    ``levels``-step quantization grid. Map-side partial agg, dim-row
    shuffle, dim-sized collect — the only driver materialization in the
    quantization tier. A constant dimension gets scale 0."""
    stats = (
        df.select(
            F.posexplode(F.col(vec_col).cast("array<double>")).alias("i", "x")
        )
        .groupBy("i")
        .agg(F.min("x").alias("mn"), F.max("x").alias("mx"))
        .collect()
    )
    if not stats:
        raise ValueError("quantize_embeddings: empty input")
    dim = max(r["i"] for r in stats) + 1
    mn = [0.0] * dim
    scale = [0.0] * dim
    for r in stats:
        mn[r["i"]] = r["mn"]
        scale[r["i"]] = (r["mx"] - r["mn"]) / levels if r["mx"] > r["mn"] else 0.0
    return mn, scale


def quantize_embeddings(
    df: DataFrame,
    bits: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-dimension scalar quantization of an embedding column — the
    int8 compression step in front of large-scale ANN serving (a 4×
    memory/shuffle cut vs float32 at ~1% recall cost). Uniform grid
    between the per-dimension corpus min and max::

        code_j  = clamp(floor((x_j - min_j) / scale_j + 0.5), 0, 2^bits - 1)
        scale_j = (max_j - min_j) / (2^bits - 1)

    (explicit ``floor(.. + 0.5)`` so ties round identically in every
    engine; a constant dimension quantizes to code 0 and reconstructs
    to its min). Returns ``(id_col, codes array<int>, mse double)``
    with ``mse`` the mean squared reconstruction error per vector.

    Scale shape: one corpus pass for the dim-sized min/max (map-side
    partial agg, dim-row shuffle), collected ONLY as dim-sized arrays
    and folded into the plan as literals; the quantization itself is a
    single whole-stage-codegen map (indexed ``transform`` +
    ``zip_with``) — zero shuffles, zero Python, corpus never leaves
    the executors.
    """
    if not 1 <= bits <= 16:
        raise ValueError(f"quantize_embeddings: bits must be in [1,16], got {bits}")
    levels = (1 << bits) - 1
    v = F.col(vec_col).cast("array<double>")
    mn, scale = _grid_stats(df, vec_col, levels)
    dim = len(mn)
    mn_lit = F.array(*[F.lit(float(m)) for m in mn])
    sc_lit = F.array(*[F.lit(float(s)) for s in scale])

    def _code(x, i):
        s = F.element_at(sc_lit, i + 1)
        m = F.element_at(mn_lit, i + 1)
        return (
            F.when(s > 0.0,
                   F.least(F.lit(levels),
                           F.floor((x - m) / s + F.lit(0.5))))
            .otherwise(F.lit(0))
            .cast("int")
        )

    codes = F.transform(v, _code)
    dequant = F.transform(
        codes,
        lambda c, i: F.element_at(mn_lit, i + 1)
        + c.cast("double") * F.element_at(sc_lit, i + 1),
    )
    mse = F.aggregate(
        F.zip_with(v, dequant, lambda a, b: (a - b) * (a - b)),
        F.lit(0.0),
        lambda acc, y: acc + y,
    ) / F.lit(float(dim))
    return df.select(
        F.col(id_col), codes.alias("codes"), mse.alias("mse")
    )


def quantized_ann_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    bits: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Asymmetric quantized search — the reason you quantize: the
    corpus is held as ``bits``-wide codes (4× less memory/shuffle than
    float32 at 8 bits) while queries stay full-precision; distances
    are computed query-float × reconstructed-corpus (ADC, the
    IVFADC/ScaNN serving pattern). Same output schema as
    ``ann_topk_bruteforce`` (query_id, nb_id, cos, rank) so recall
    loss from quantization is directly measurable against the exact
    baseline.

    The reconstruction ``x̂_j = min_j + code_j·scale_j`` is folded into
    the scan as a literal-indexed ``transform`` (grid stats are the
    only shuffle + dim-sized collect); ranking reuses the broadcast
    query-side top-k. Quantize-then-dequantize composes to the same
    IEEE doubles in any engine, so the DuckDB twin (q147) is
    value-exact at the shared 6dp rounding.
    """
    if not 1 <= bits <= 16:
        raise ValueError(f"quantized_ann_topk: bits must be in [1,16], got {bits}")
    levels = (1 << bits) - 1
    mn, scale = _grid_stats(corpus, vec_col, levels)
    v = F.col(vec_col).cast("array<double>")
    corpus_hat = corpus.select(
        F.col(id_col),
        F.transform(v, _dequant_fn(mn, scale, levels)).alias(vec_col),
    )
    return ann_topk_bruteforce(
        corpus_hat, queries, k=k, id_col=id_col, vec_col=vec_col
    )


def _dequant_fn(mn: list[float], scale: list[float], levels: int):
    """Quantize-then-reconstruct as a literal-folded element transform:
    x̂_j = min_j + clamp(floor((x_j - min_j)/scale_j + 0.5), 0, levels) ·
    scale_j — the shared coding rule of the quantization tier (exact
    IEEE arithmetic, reproducible by any engine)."""
    mn_lit = F.array(*[F.lit(float(m)) for m in mn])
    sc_lit = F.array(*[F.lit(float(s)) for s in scale])

    def _dequant(x, i):
        m = F.element_at(mn_lit, i + 1)
        s = F.element_at(sc_lit, i + 1)
        code = (
            F.when(s > 0.0,
                   F.least(F.lit(levels), F.floor((x - m) / s + F.lit(0.5))))
            .otherwise(F.lit(0))
            .cast("double")
        )
        return m + code * s

    return _dequant


def ann_ivf_adc(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int = 16,
    n_probe: int = 4,
    bits: int = 8,
) -> DataFrame:
    """IVFADC — the FAISS billion-scale serving architecture (Jégou et
    al. 2011; Johnson et al. 2017) composed from this tier's parts:
    the corpus is partitioned into inverted lists by nearest centroid
    (IVF) AND held quantized (here the int8 scalar grid standing in
    for PQ); queries probe only their ``n_probe`` closest lists and
    score asymmetrically (float query × reconstructed corpus). Work
    per query is |corpus| · n_probe / n_centroids pairs over codes —
    both the candidate PRUNING and the memory/shuffle COMPRESSION at
    once. Same output schema as every ANN variant, so recall is
    directly comparable. Seed codebook (``refine=0``) keeps the twin
    engine-reproducible (q36's pattern); reconstruction is the shared
    literal-folded coding rule, so the DuckDB twin (q154) is
    value-exact at 6dp.
    """
    if not 1 <= bits <= 16:
        raise ValueError(f"ann_ivf_adc: bits must be in [1,16], got {bits}")
    spark = corpus.sparkSession
    codebook = local_relation(spark, 
        _centroids(corpus, id_col, vec_col, n_centroids, refine=0),
        "cid INT, cvec ARRAY<DOUBLE>",
    )
    levels = (1 << bits) - 1
    mn, scale = _grid_stats(corpus, vec_col, levels)
    v = F.col(vec_col).cast("array<double>")
    c_assign = _assign_nearest(
        corpus.select(F.col(id_col).alias("id"), v.alias("vec")), codebook, 1
    )
    c_hat = c_assign.select(
        F.col("id").alias("nb_id"),
        "cid",
        F.transform("vec", _dequant_fn(mn, scale, levels)).alias("nb_vec"),
    ).withColumn("nb_norm", l2_norm(F.col("nb_vec")))
    q_assign = _assign_nearest(
        queries.select(F.col(id_col).alias("id"), v.alias("vec")),
        codebook,
        n_probe,
    ).select(
        F.col("id").alias("query_id"),
        F.col("vec").alias("query_vec"),
        "cid",
    ).withColumn("query_norm", l2_norm(F.col("query_vec")))
    cos = F.round(
        dot(F.col("query_vec"), F.col("nb_vec"))
        / (F.col("query_norm") * F.col("nb_norm")),
        6,
    )
    scored = (
        q_assign.join(c_hat, on="cid")
        .where(F.col("query_id") != F.col("nb_id"))
        .select("query_id", "nb_id", cos.alias("cos"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("nb_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "nb_id", "cos", "rank")
    )


def pq_codebooks(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_subspaces: int = 4,
    n_codes: int = 16,
    refine: int = 0,
) -> DataFrame:
    """Product-quantization SEED codebooks: the vector space is split
    into ``n_subspaces`` contiguous slices and each subspace gets
    ``n_codes`` codewords — the first ``n_codes`` corpus vectors' own
    slices, optionally Lloyd-refined ``refine`` rounds PER SUBSPACE in
    one shared pass (all subspaces assign and re-mean in the same two
    shuffles per round — the ``kmeans`` loop's shape with (sub, cid)
    keys). ``refine=0`` keeps the q36/q73 engine-reproducible seed
    form for oracles; refined codebooks are what production recall
    needs (PQ at B bits/vector is only as good as its training). Returns the
    ``(sub, cid, cvec)`` relation — subspaces × codes × subdim values,
    driver-materialized like every codebook in this tier (the IVF
    ``_centroids`` contract)."""
    if n_subspaces < 1 or n_codes < 1:
        raise ValueError("pq_codebooks: n_subspaces and n_codes must be >= 1")
    rows = (
        corpus.orderBy(id_col)
        .limit(n_codes)
        .select(F.col(vec_col).cast("array<double>").alias("v"))
        .collect()
    )
    dim = len(rows[0]["v"])
    if dim % n_subspaces != 0:
        raise ValueError(
            f"pq_codebooks: dim {dim} not divisible by {n_subspaces}"
        )
    w = dim // n_subspaces
    data = [
        (s, cid, [float(x) for x in r["v"][s * w:(s + 1) * w]])
        for s in range(n_subspaces)
        for cid, r in enumerate(rows)
    ]
    spark = corpus.sparkSession
    cb = local_relation(spark, data, "sub INT, cid INT, cvec ARRAY<DOUBLE>")
    for _ in range(refine):
        sl = _pq_slices(corpus, id_col, "id", vec_col, n_subspaces)
        d2 = F.aggregate(
            F.zip_with(
                F.col("svec"), F.col("cvec"), lambda a, b: (a - b) * (a - b)
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        assigned = (
            sl.join(F.broadcast(cb), on="sub")
            .select("id", "sub", "svec", "cid", d2.alias("d2"))
            .groupBy("id", "sub")
            .agg(
                F.min_by("cid", F.struct("d2", "cid")).alias("cid"),
                F.first("svec").alias("svec"),
            )
        )
        means = (
            assigned.select(
                "sub", "cid", F.posexplode("svec").alias("pos", "x")
            )
            .groupBy("sub", "cid", "pos")
            .agg(F.avg("x").alias("m"))
            .groupBy("sub", "cid")
            .agg(
                F.array_sort(
                    F.collect_list(F.struct("pos", "m"))
                ).alias("pm")
            )
            .select(
                "sub", "cid",
                F.transform("pm", lambda s: s["m"]).alias("cvec"),
            )
            .collect()
        )
        new_cb = {(r["sub"], r["cid"]): list(r["cvec"]) for r in means}
        data = [
            (s, cid, new_cb.get((s, cid), old_vec))
            for s, cid, old_vec in data
        ]
        cb = local_relation(spark, 
            data, "sub INT, cid INT, cvec ARRAY<DOUBLE>"
        )
    return cb


def _pq_slices(
    df: DataFrame, id_col: str, id_alias: str, vec_col: str,
    n_subspaces: int,
) -> DataFrame:
    """(id, sub, svec): vectors exploded into their subspace slices —
    one inline array-of-structs explode per row, no shuffle."""
    v = F.col(vec_col).cast("array<double>")
    w = (F.size(v) / n_subspaces).cast("int")
    slices = F.array(*[
        F.struct(
            F.lit(s).alias("sub"),
            F.slice(v, F.lit(s) * w + 1, w).alias("svec"),
        )
        for s in range(n_subspaces)
    ])
    return df.select(
        F.col(id_col).alias(id_alias), F.explode(slices).alias("__sl")
    ).select(id_alias, F.col("__sl.sub").alias("sub"),
             F.col("__sl.svec").alias("svec"))


def pq_encode(
    corpus: DataFrame,
    codebooks: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_subspaces: int = 4,
) -> DataFrame:
    """PQ ENCODING: each vector compresses to ``n_subspaces`` small
    code ids — ``(id, sub, code)``, the n_subspaces·log2(n_codes)-bit
    representation that makes billion-scale ANN fit in RAM. Per
    (point, subspace): euclidean argmin over the subspace's codebook
    (ties → smallest cid), via one broadcast join + one
    partial-combined ``min_by`` — the ``_assign_euclidean`` shape per
    subspace, never a window over the corpus."""
    sl = _pq_slices(corpus, id_col, "id", vec_col, n_subspaces)
    d2 = F.aggregate(
        F.zip_with(
            F.col("svec"), F.col("cvec"), lambda a, b: (a - b) * (a - b)
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    scored = sl.join(F.broadcast(codebooks), on="sub").select(
        "id", "sub", "cid", d2.alias("d2")
    )
    return scored.groupBy("id", "sub").agg(
        F.min_by("cid", F.struct("d2", "cid")).alias("code")
    )


def pq_adc_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_subspaces: int = 4,
    n_codes: int = 16,
    refine: int = 0,
) -> DataFrame:
    """PQ asymmetric-distance top-k (Jégou et al. 2011): queries stay
    full-precision, the corpus is its PQ codes, and each query
    pre-computes a ``n_subspaces × n_codes`` inner-product TABLE
    against the codebooks; a document's score is then ``n_subspaces``
    table lookups summed — never a dim-length dot per pair. Cosine is
    approximated against the RECONSTRUCTED document norm (sum of its
    codewords' squared norms), so scores are comparable with the
    exact q28 baseline. Same output schema as every ANN variant.

    Scale shape: the per-query table is (queries × subspaces × codes)
    — broadcast-sized for a bounded query set; the corpus-side work is
    one equi-join of (id, sub, code) against that broadcast plus one
    partial-combined sum per (query, doc). Seed codebooks keep the
    DuckDB twin engine-reproducible (q36's pattern)."""
    cb = pq_codebooks(corpus, id_col, vec_col, n_subspaces, n_codes,
                      refine=refine)
    enc = pq_encode(corpus, cb, id_col, vec_col, n_subspaces)
    # reconstructed doc norm² = Σ_sub |cvec(code)|²
    cb_norm = cb.select(
        "sub", F.col("cid").alias("code"),
        F.aggregate(
            "cvec", F.lit(0.0), lambda a, x: a + x * x
        ).alias("c2"),
    )
    rnorm = (
        enc.join(F.broadcast(cb_norm), on=["sub", "code"])
        .groupBy("id")
        .agg(F.sqrt(F.sum("c2")).alias("nb_norm"))
    )
    qsl = _pq_slices(queries, id_col, "query_id", vec_col, n_subspaces)
    qtab = (
        qsl.join(F.broadcast(cb), on="sub")
        .select(
            "query_id",
            "sub",
            F.col("cid").alias("code"),
            dot(F.col("svec"), F.col("cvec")).alias("ip"),
        )
    )
    qnorm = queries.select(
        F.col(id_col).alias("query_id"),
        l2_norm(F.col(vec_col).cast("array<double>")).alias("query_norm"),
    )
    scored = (
        enc.join(F.broadcast(qtab), on=["sub", "code"])
        .groupBy("query_id", F.col("id").alias("nb_id"))
        .agg(F.sum("ip").alias("ip"))
        .where(F.col("query_id") != F.col("nb_id"))
        .join(rnorm.select(F.col("id").alias("nb_id"), "nb_norm"),
              on="nb_id")
        .join(F.broadcast(qnorm), on="query_id")
        .select(
            "query_id",
            "nb_id",
            F.round(
                F.col("ip") / (F.col("query_norm") * F.col("nb_norm")), 6
            ).alias("cos"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("nb_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "nb_id", "cos", "rank")
    )


def index_scratch_root(spark, prefix: str = "ivf_") -> str:
    """Resolve a unique path for persisted index artifacts
    (``build_ivf_index`` → ``ann_ivf_persisted``).

    Resolution order: the ``spark.pagerank.scratchDir`` conf, then the
    ``SPARK_GRAFT_SCRATCH`` env var, then a driver-local temp dir. The
    first two may be any Hadoop-visible URI (HDFS / s3a:// / shared
    NFS) — on a real cluster one of them MUST point at storage all
    executors share, because the index is written by one job and read
    by every executor of the next. The driver-local ``mkdtemp``
    fallback is correct ONLY in local mode, where executor threads
    share the driver's filesystem (r9 ADVICE: the fallback used to be
    the only behavior, silently assuming local mode).

    Cleanup: pass the returned root to ``remove_index`` — plain
    ``shutil.rmtree`` cannot delete non-local URIs.
    """
    import os as _os
    import uuid

    base = spark.conf.get("spark.pagerank.scratchDir", None)
    if not base:
        base = _os.environ.get("SPARK_GRAFT_SCRATCH")
    if base:
        return f"{base.rstrip('/')}/{prefix}{uuid.uuid4().hex}"
    import tempfile

    return tempfile.mkdtemp(prefix=prefix)


def remove_index(spark, root: str) -> None:
    """Recursively delete a persisted index at ``root`` through the
    Hadoop FileSystem API, so cleanup works for ANY URI
    ``index_scratch_root`` can hand out (local path, HDFS, s3a://) —
    not just driver-local directories. A missing root is a no-op
    (``fs.delete`` returns False without raising), but a REAL deletion
    failure — permissions, a misconfigured scratch URI — warns instead
    of passing silently: on shared storage a swallowed failure leaks
    multi-GB index trees with no signal (r10 ADVICE)."""
    import warnings

    try:
        jvm = spark._jvm
        p = jvm.org.apache.hadoop.fs.Path(root)
        fs = p.getFileSystem(spark._jsc.hadoopConfiguration())
        fs.delete(p, True)
    except Exception as exc:  # permissions / bad URI / teardown race
        warnings.warn(
            f"remove_index: could not delete {root!r}: {exc} — the "
            "on-disk index tree may have leaked",
            RuntimeWarning,
            stacklevel=2,
        )


def build_ivf_index(
    corpus: DataFrame,
    root: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int = 16,
    refine: int = 1,
) -> None:
    """Persist an IVF index to ``root`` for build-once / query-many
    serving — the index LIFECYCLE ``ann_ivf`` skips (it re-derives the
    codebook and re-assigns the corpus on every call; fine for one
    batch job, wasteful for a query service over a 100 TB corpus).
    Layout: ``<root>/codebook`` (n_centroids rows) and
    ``<root>/lists`` — the assigned corpus with precomputed norms,
    written PARTITIONED BY ``cid`` so a probe prunes unprobed lists
    at the DIRECTORY level (the parquet-native analogue of an
    inverted-list seek; asserted by plan test).
    """
    spark = corpus.sparkSession
    codebook = local_relation(spark, 
        _centroids(corpus, id_col, vec_col, n_centroids, refine=refine),
        "cid INT, cvec ARRAY<DOUBLE>",
    )
    codebook.coalesce(1).write.mode("overwrite").parquet(f"{root}/codebook")
    v = F.col(vec_col).cast("array<double>")
    assigned = _assign_nearest(
        corpus.select(F.col(id_col).alias("id"), v.alias("vec")),
        codebook,
        1,
    ).select(
        F.col("id").alias("nb_id"),
        F.col("vec").alias("nb_vec"),
        l2_norm(F.col("vec")).alias("nb_norm"),
        "cid",
    )
    # One shuffle on the list id before the dynamic-partition write:
    # without it every input task opens a file in every cid directory
    # (tasks × centroids small files — the classic dynamic-partition
    # write hazard; measured 1.9s→1.4s even at fixture scale). At
    # cluster scale use the same shape with repartition(N, "cid") so
    # one hot list can still spread over several tasks.
    assigned.repartition("cid").write.mode("overwrite").partitionBy(
        "cid"
    ).parquet(f"{root}/lists")


def ann_ivf_persisted(
    spark,
    root: str,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_probe: int = 4,
) -> DataFrame:
    """Query a ``build_ivf_index`` index: assign each query to its
    ``n_probe`` nearest persisted centroids, then scan ONLY those
    inverted-list partitions (the probed-cid set — bounded by
    n_centroids — collects to the driver and becomes a static IN
    filter, so Catalyst partition-prunes the unprobed directories;
    per-query work is |corpus|·n_probe/n_centroids and the index scan
    reads the same fraction). Identical output schema and semantics
    to ``ann_ivf`` with the same codebook — pytest-pinned equal.
    """
    codebook = spark.read.parquet(f"{root}/codebook")
    v = F.col(vec_col).cast("array<double>")
    q_assigned = _assign_nearest(
        queries.select(F.col(id_col).alias("id"), v.alias("vec")),
        codebook,
        n_probe,
    ).select(
        F.col("id").alias("query_id"),
        F.col("vec").alias("query_vec"),
        l2_norm(F.col("vec")).alias("query_norm"),
        "cid",
    ).persist()
    # try/finally: a failure in the probed-cid collect, list scan, or
    # eager checkpoint must still release the pinned assignment — a
    # query service calling this per request cannot leak one cached
    # relation per failed probe.
    try:
        probed = sorted(
            r["cid"] for r in q_assigned.select("cid").distinct().collect()
        )
        lists = spark.read.parquet(f"{root}/lists").where(
            F.col("cid").isin(probed)
        )
        scored = (
            q_assigned.join(lists, on="cid")
            .where(F.col("query_id") != F.col("nb_id"))
            .select(
                "query_id",
                "nb_id",
                F.round(
                    dot(F.col("query_vec"), F.col("nb_vec"))
                    / (F.col("query_norm") * F.col("nb_norm")),
                    6,
                ).alias("cos"),
            )
        )
        w = Window.partitionBy("query_id").orderBy(
            F.desc("cos"), F.asc("nb_id")
        )
        # materialize the bounded top-k eagerly so the cached query
        # assignment can be released before returning
        return (
            scored.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k)
            .select("query_id", "nb_id", "cos", "rank")
            .localCheckpoint(eager=True)
        )
    finally:
        q_assigned.unpersist()


def rrf_fuse(
    rankings: list[DataFrame],
    id_col: str = "doc_id",
    rk_col: str = "rk",
    k: int = 60,
    top_k: int = 20,
) -> DataFrame:
    """Reciprocal-rank fusion (Cormack/Clarke/Buettcher 2009 — public
    paper) of N retrieval rankings: the standard hybrid-search
    combiner for a lexical BM25 arm and a semantic embedding arm.
    Each input relation carries ``(id_col, rk_col)`` 1-based ranks;
    a document's fused score is ``Σ_arms 1/(k + rank)`` (absent arm →
    no contribution), rounded to 6dp with the ROUNDED score driving
    the fused ranking (ties by id asc) — the cross-engine libm
    discipline every scored operator here follows.

    Scale shape: a union of the (already top-bounded) per-arm rank
    relations, one partial-combined SUM on the id, and a
    TakeOrderedAndProject top-``top_k``; the rank window runs AFTER
    the limit over ≤ ``top_k`` rows — never a global-sort or a
    single-partition window over the corpus. Arms are independent
    upstream queries (BM25, ANN, recency, …), so the fusion adds one
    tiny shuffle regardless of corpus size.
    """
    if not rankings:
        raise ValueError("rrf_fuse: need at least one ranking")
    if k <= 0:
        raise ValueError(f"rrf_fuse: k must be positive, got {k}")
    parts = [
        r.select(
            F.col(id_col),
            (1.0 / (F.lit(float(k)) + F.col(rk_col))).alias("__contrib"),
        )
        for r in rankings
    ]
    allc = parts[0]
    for p in parts[1:]:
        allc = allc.unionByName(p)
    fused = allc.groupBy(id_col).agg(
        F.round(F.sum("__contrib"), 6).alias("score")
    )
    topped = fused.orderBy(F.desc("score"), F.asc(id_col)).limit(top_k)
    w = Window.orderBy(F.desc("score"), F.asc(id_col))
    return topped.withColumn("rk", F.row_number().over(w)).select(
        id_col, "rk", "score"
    )
