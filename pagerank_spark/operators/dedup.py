"""Deduplication operators for large-scale corpus pipelines.

Four tiers, all shuffle-partitioned and driver-materialization-free —
designed for the 100 TB case where the corpus never fits one machine:

- exact:     hash-groupBy on content (one shuffle on the digest key)
- MinHash:   shingle → universal-hash signature → LSH band bucketing →
             candidate pairs → exact-Jaccard verification. The band
             bucket join means candidate generation shuffles on
             (band, signature) — near-dup detection without the O(n²)
             cross join.
- SimHash:   64-bit (here 60-bit) bitwise fingerprint; Hamming-ball
             candidate retrieval via band-exact match (pigeonhole: a
             pair within distance d must agree on ≥1 of d+1 bands).
- n-gram Jaccard: exact word-shingle Jaccard via an inverted-index
             self-join (shuffle on shingle), no approximation.

Everything is built from native Catalyst expressions (explode, groupBy,
join, bit ops) — no Python UDFs — so the hot path stays in whole-stage
codegen and each operator has a line-for-line DuckDB oracle twin.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame

from pagerank_spark.session import local_relation
from pyspark.sql import functions as F

from pagerank_spark.functions import HASH_PRIME, portable_hash60, word_tokens
from pagerank_spark.graph.loop import Pins

# Fixed universal-hash family for MinHash (deterministic across runs and
# engines). 16 hashes → 4 bands × 4 rows: catches Jaccard ≳ 0.5 pairs.
MINHASH_COEFFS: list[tuple[int, int]] = [
    (1_103_515_245, 12_345),
    (22_695_477, 1),
    (134_775_813, 1_013_904_223),
    (214_013, 2_531_011),
    (16_807, 0),
    (48_271, 11),
    (69_621, 23),
    (40_692, 37),
    (1_664_525, 1_013_904_223),
    (22_801_763, 49_297),
    (65_793, 4_282_663),
    (8_405_197, 285_421),
    (197_331, 7_491_711),
    (32_452_843, 15_485_863),
    (49_979_687, 86_028_121),
    (67_867_967, 98_765_431),
]
N_BANDS = 4
ROWS_PER_BAND = 4


def exact_dedup_stats(df: DataFrame, col: str = "text") -> DataFrame:
    """Exact-duplicate accounting: rows vs distinct values of ``col``."""
    return df.agg(
        F.count("*").alias("n_rows"),
        F.countDistinct(col).alias("n_distinct"),
        (F.count("*") - F.countDistinct(col)).alias("n_exact_dupes"),
    )


def exact_dedup(df: DataFrame, key_cols: list[str], order_col: str) -> DataFrame:
    """Keep-first exact dedup: exactly ONE row survives per key group.

    row_number over (key, order_col) — not a min-join, which would keep
    every row tying on min(order_col). One shuffle on the key; at scale
    prefer hashing long content first (``portable_hash60``) so the
    shuffle key is 8 bytes, not the document.
    """
    from pyspark.sql import Window

    w = Window.partitionBy(*key_cols).orderBy(F.col(order_col).asc())
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .drop("__rn")
    )


def word_shingles(df: DataFrame, id_col: str, text_col: str, n: int = 3) -> DataFrame:
    """Distinct word n-gram shingles per document: (id, shingle STRING).

    Built with sequence/transform/explode — pure Catalyst, no UDF.
    """
    # Materialize the token array in its own projection FIRST: inlined
    # into the transform lambda, the regex split re-executes per
    # shingle position (no common-subexpression elimination inside
    # higher-order lambdas) — O(words²) regex work per doc, measured
    # 3.5× slower at sf0.1 (3.0s → 0.9s for the corpus shingle set).
    toked = df.select(F.col(id_col), word_tokens(text_col).alias("__toks"))
    toks = F.col("__toks")
    n_shingles = F.size(toks) - (n - 1)
    # Guard: sequence(1, stop) with stop < 1 DESCENDS (sequence(1, 0)
    # = [1, 0]), feeding slice a 0 start — a runtime error on any doc
    # shorter than n tokens. Such docs have no n-grams: empty array.
    shingles = F.when(
        n_shingles >= 1,
        F.transform(
            F.sequence(F.lit(1), n_shingles),
            lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return (
        toked.select(F.col(id_col), F.explode(shingles).alias("shingle"))
        .where(F.col("shingle") != "")
        .distinct()
    )


def minhash_signatures(shingled: DataFrame, id_col: str) -> DataFrame:
    """MinHash signature per document: one row per (doc, hash_index).

    h_i(x) = (a_i·(x mod P) + b_i) mod P over the 60-bit shingle hash;
    the signature value is min over the doc's shingles — a partial-agg-
    friendly groupBy (map-side min before the shuffle).
    """
    h = portable_hash60(F.col("shingle")) % F.lit(HASH_PRIME)
    minhashes = [
        F.min((F.lit(a) * F.col("sh") + F.lit(b)) % F.lit(HASH_PRIME)).alias(
            f"mh{i}"
        )
        for i, (a, b) in enumerate(MINHASH_COEFFS)
    ]
    per_doc = (
        shingled.withColumn("sh", h)
        .groupBy(id_col)
        .agg(*minhashes)
    )
    return per_doc


def _banded_signatures(signatures: DataFrame, id_col: str) -> DataFrame:
    """(id, band, sig): one row per (doc, band), the band's rows
    concatenated into a single string bucket key."""
    bands = []
    for b in range(N_BANDS):
        cols = [f"mh{b * ROWS_PER_BAND + r}" for r in range(ROWS_PER_BAND)]
        bands.append(
            signatures.select(
                F.col(id_col),
                F.lit(b).alias("band"),
                F.concat_ws("_", *[F.col(c).cast("string") for c in cols]).alias(
                    "sig"
                ),
            )
        )
    banded = bands[0]
    for b in bands[1:]:
        banded = banded.unionAll(b)
    return banded


def lsh_candidate_pairs(signatures: DataFrame, id_col: str) -> DataFrame:
    """LSH banding: docs agreeing on ALL rows of any band become a pair.

    Band signature is a single string key so the self-join shuffles on
    (band_id, band_sig) — the classic LSH bucket join.
    """
    banded = _banded_signatures(signatures, id_col)
    left = banded.select(F.col(id_col).alias("id_a"), "band", "sig")
    right = banded.select(F.col(id_col).alias("id_b"), "band", "sig")
    return (
        left.join(right, on=["band", "sig"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


def jaccard_pairs(
    shingled: DataFrame,
    id_col: str,
    threshold: float,
    candidates: DataFrame | None = None,
    max_doc_freq: int | None = None,
) -> DataFrame:
    """Exact word-shingle Jaccard per pair.

    Two plans, both shuffle-bounded:

    - ``candidates`` given (the MinHash verification path): intersections
      come from ``candidates ⋈ shingles(a) ⋈ shingles(b)`` — work is
      proportional to |candidates|·|shingles per doc|, never the full
      inverted-index blow-up. This is the 100 TB path.
    - no candidates: classic inverted-index self-join (shuffle on the
      shingle key). ``max_doc_freq`` caps a shingle's document frequency
      before the self-join — a stopword-shingle shared by millions of
      docs would otherwise produce a quadratic bucket. Capping drops
      those shingles from the intersection AND the union (sizes are
      computed after the cap), so jaccard stays a true Jaccard over the
      retained shingle set.
    """
    if candidates is not None:
        sizes = shingled.groupBy(id_col).agg(F.count("*").alias("n_sh"))
        a = shingled.select(F.col(id_col).alias("id_a"), "shingle")
        b = shingled.select(F.col(id_col).alias("id_b"), "shingle")
        inter = (
            candidates.join(a, on="id_a")
            .join(b, on=["id_b", "shingle"])
            .groupBy("id_a", "id_b")
            .agg(F.count("*").alias("n_inter"))
        )
        return _jaccard_from_inter(inter, sizes, id_col, threshold)

    if max_doc_freq is not None:
        df_per_shingle = shingled.groupBy("shingle").agg(
            F.count("*").alias("__df")
        )
        shingled = (
            shingled.join(
                df_per_shingle.where(F.col("__df") <= max_doc_freq),
                on="shingle",
                how="left_semi",
            )
        )
    sizes = shingled.groupBy(id_col).agg(F.count("*").alias("n_sh"))
    a = shingled.select(F.col(id_col).alias("id_a"), "shingle")
    b = shingled.select(F.col(id_col).alias("id_b"), "shingle")
    inter = (
        a.join(b, on="shingle")
        .where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("n_inter"))
    )
    return _jaccard_from_inter(inter, sizes, id_col, threshold)


def _jaccard_from_inter(
    inter: DataFrame, sizes: DataFrame, id_col: str, threshold: float
) -> DataFrame:
    return (
        inter.join(
            sizes.select(F.col(id_col).alias("id_a"), F.col("n_sh").alias("n_a")),
            on="id_a",
        )
        .join(
            sizes.select(F.col(id_col).alias("id_b"), F.col("n_sh").alias("n_b")),
            on="id_b",
        )
        .select(
            "id_a",
            "id_b",
            (
                F.col("n_inter")
                / (F.col("n_a") + F.col("n_b") - F.col("n_inter"))
            ).alias("jaccard"),
        )
        .where(F.col("jaccard") >= threshold)
    )


def minhash_neardup_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Full MinHash+LSH near-dup pipeline: candidates then exact verify.

    The shingle relation feeds BOTH the signature branch and the Jaccard
    verification branch and is deliberately NOT cached: regenerating the
    shingles (split + transform + explode, fully inside whole-stage
    codegen) measures ~30% faster than materializing the exploded
    relation to the block store and reading it back (2.5s vs 1.85s at
    sf0.1) — recompute beats cache for cheap pipelined transforms.
    """
    shingled = word_shingles(df, id_col, text_col, n)
    sigs = minhash_signatures(shingled, id_col)
    cands = lsh_candidate_pairs(sigs, id_col)
    return jaccard_pairs(shingled, id_col, threshold, candidates=cands)


def minhash_neardup_against(
    new: DataFrame,
    corpus: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Incremental near-dup: MinHash+LSH candidates and exact
    verification ONLY across the (new × corpus) boundary — the
    streaming-ingest dedup shape. A nightly batch checks itself
    against the accumulated corpus WITHOUT re-pairing the corpus
    against itself: the work is |new|'s signatures plus the
    bucket-matched corpus rows, never O(|corpus|²) and never a
    recomputation of existing pairs. Returns
    ``(new_id, corpus_id, jaccard)`` for pairs at or above
    ``threshold`` (jaccard rounded to 6dp).

    At true scale the corpus side's banded signatures are computed
    once and PERSISTED (e.g. in the versioned table layer) and only
    the join runs per batch; this function recomputes them so the
    operator is self-contained — swap the ``corpus`` argument for a
    stored signature read to get the incremental form.
    """
    sh_new = word_shingles(new, id_col, text_col, n)
    sh_cor = word_shingles(corpus, id_col, text_col, n)
    band_new = _banded_signatures(
        minhash_signatures(sh_new, id_col), id_col
    ).select(F.col(id_col).alias("new_id"), "band", "sig")
    band_cor = _banded_signatures(
        minhash_signatures(sh_cor, id_col), id_col
    ).select(F.col(id_col).alias("corpus_id"), "band", "sig")
    cands = (
        band_new.join(band_cor, on=["band", "sig"])
        .select("new_id", "corpus_id")
        .distinct()
    )
    sizes_new = sh_new.groupBy(id_col).agg(F.count("*").alias("n_a"))
    sizes_cor = sh_cor.groupBy(id_col).agg(F.count("*").alias("n_b"))
    inter = (
        cands.join(
            sh_new.select(F.col(id_col).alias("new_id"), "shingle"),
            on="new_id",
        )
        .join(
            sh_cor.select(F.col(id_col).alias("corpus_id"), "shingle"),
            on=["corpus_id", "shingle"],
        )
        .groupBy("new_id", "corpus_id")
        .agg(F.count("*").alias("n_inter"))
    )
    return (
        inter.join(
            sizes_new.select(F.col(id_col).alias("new_id"), "n_a"),
            on="new_id",
        )
        .join(
            sizes_cor.select(F.col(id_col).alias("corpus_id"), "n_b"),
            on="corpus_id",
        )
        .select(
            "new_id",
            "corpus_id",
            (
                F.col("n_inter")
                / (F.col("n_a") + F.col("n_b") - F.col("n_inter")).cast(
                    "double"
                )
            ).alias("__jaccard_raw"),
        )
        # Threshold the UNROUNDED ratio (matching jaccard_pairs and the
        # q136 oracle); round only for output.
        .where(F.col("__jaccard_raw") >= threshold)
        .select(
            "new_id",
            "corpus_id",
            F.round(F.col("__jaccard_raw"), 6).alias("jaccard"),
        )
    )


# ---------------------------------------------------------------------------
# SimHash

SIMHASH_BITS = 60  # portable_hash60 yields 60 usable bits
SIMHASH_BAND_BITS = 15
SIMHASH_BANDS = SIMHASH_BITS // SIMHASH_BAND_BITS


def simhash(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """60-bit SimHash per document from distinct word tokens.

    Per (doc, token, bit): vote +1/-1 by the token-hash bit; the
    fingerprint sets bit b where the vote sum is positive. The bit
    dimension is a 60-row broadcast cross join; everything aggregates
    map-side before the per-doc shuffle.
    """
    spark = df.sparkSession
    bits = spark.range(SIMHASH_BITS).select(F.col("id").cast("int").alias("bit"))
    tokens = (
        df.select(F.col(id_col), F.explode(word_tokens(text_col)).alias("tok"))
        .where(F.col("tok") != "")
        .distinct()
        .withColumn("th", portable_hash60(F.col("tok")))
    )
    votes = (
        tokens.crossJoin(F.broadcast(bits))
        .select(
            F.col(id_col),
            "bit",
            # shiftright's Python wrapper only takes a literal shift; the
            # SQL expression form accepts the per-row bit column.
            F.when(
                F.expr("shiftright(th, bit)").bitwiseAND(F.lit(1)) == 1,
                F.lit(1),
            )
            .otherwise(F.lit(-1))
            .alias("vote"),
        )
        .groupBy(id_col, "bit")
        .agg(F.sum("vote").alias("v"))
    )
    return votes.groupBy(id_col).agg(
        F.sum(
            F.when(
                F.col("v") > 0, F.expr("shiftleft(CAST(1 AS BIGINT), bit)")
            ).otherwise(F.lit(0).cast("long"))
        ).alias("simhash")
    )


def simhash_neardup_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
) -> DataFrame:
    """SimHash near-dup: band-bucket candidate join + Hamming verify.

    Pigeonhole: distance ≤ 3 with 4 bands ⇒ some band matches exactly,
    so the candidate join is an equi-join on (band, band_bits), never a
    cross join. Verification is bit_count(xor) — pure JVM bit ops.
    """
    if max_hamming > SIMHASH_BANDS - 1:
        raise ValueError(
            f"max_hamming={max_hamming} exceeds the pigeonhole recall "
            f"guarantee of the {SIMHASH_BANDS}-band bucketing "
            f"(max supported: {SIMHASH_BANDS - 1})"
        )
    spark = df.sparkSession
    fp = simhash(df, id_col, text_col)
    bands = spark.range(SIMHASH_BANDS).select(
        F.col("id").cast("int").alias("band")
    )
    banded = fp.crossJoin(F.broadcast(bands)).select(
        F.col(id_col),
        F.col("simhash"),
        "band",
        F.expr(f"shiftright(simhash, band * {SIMHASH_BAND_BITS})")
        .bitwiseAND(F.lit((1 << SIMHASH_BAND_BITS) - 1))
        .alias("band_bits"),
    )
    left = banded.select(
        F.col(id_col).alias("id_a"), F.col("simhash").alias("sh_a"), "band", "band_bits"
    )
    right = banded.select(
        F.col(id_col).alias("id_b"), F.col("simhash").alias("sh_b"), "band", "band_bits"
    )
    return (
        left.join(right, on=["band", "band_bits"])
        .where(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b"))).alias("hamming"),
        )
        .distinct()
        .where(F.col("hamming") <= max_hamming)
    )


def embedding_neardup_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    bruteforce_limit: int = 100_000,
    dim: int | None = None,
) -> DataFrame:
    """Embedding-cosine near-dup pairs: (id_a, id_b, cos ≥ threshold).

    Below ``bruteforce_limit`` rows: exact O(n²) pairwise (fine for a
    re-ranking shard). Above it: random-hyperplane LSH bucketing
    (``similarity.lsh_bucket``) — candidate pairs come from an equi-join
    on (band, bucket), so the plan shuffles on bucket keys instead of
    materializing n² pairs. Approximate (recall < 1 for borderline
    pairs); pass ``bruteforce_limit=None`` to force the exact plan.
    """
    from pagerank_spark.functions import dot, l2_norm

    n = df.count() if bruteforce_limit is not None else 0
    if bruteforce_limit is not None and n > bruteforce_limit:
        from pagerank_spark.operators.similarity import lsh_bucket

        if dim is None:
            dim = len(df.select(vec_col).first()[0])
        bucketed = lsh_bucket(df, id_col, vec_col, dim)
        pairs = (
            bucketed.select(F.col("id").alias("id_a"), F.col("vec").alias("va"),
                            F.col("norm").alias("na"), "band", "bucket")
            .join(
                bucketed.select(F.col("id").alias("id_b"),
                                F.col("vec").alias("vb"),
                                F.col("norm").alias("nb"), "band", "bucket"),
                on=["band", "bucket"],
            )
            .where(F.col("id_a") < F.col("id_b"))
        )
        # Score BEFORE the cross-band dedup: cos is deterministic per
        # pair, so band duplicates collapse to identical rows and the
        # distinct shuffles (id, id, cos) instead of two dim-sized
        # vectors per candidate (see similarity.ann_lsh).
        return (
            pairs.select(
                "id_a",
                "id_b",
                (
                    dot(F.col("va"), F.col("vb"))
                    / (F.col("na") * F.col("nb"))
                ).alias("cos"),
            )
            .distinct()
            .where(F.col("cos") >= threshold)
        )

    # Norms are computed once per row BELOW the join — never per pair.
    v = df.select(
        F.col(id_col), F.col(vec_col).cast("array<double>").alias("v")
    ).withColumn("nrm", l2_norm(F.col("v")))
    a = v.select(F.col(id_col).alias("id_a"), F.col("v").alias("va"),
                 F.col("nrm").alias("na"))
    b = v.select(F.col(id_col).alias("id_b"), F.col("v").alias("vb"),
                 F.col("nrm").alias("nb"))
    return (
        a.crossJoin(b)
        .where(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            (dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb"))).alias(
                "cos"
            ),
        )
        .where(F.col("cos") >= threshold)
    )


def _components_adaptive(
    edges: DataFrame, driver_pairs_limit: int = 1_000_000
) -> DataFrame:
    """(node, component) for the pair graph, component = min node id.

    Size-based strategy cut: a materialized pair list whose count is
    ≤ ``driver_pairs_limit`` is solved by driver-side union-find (one
    collect of already-shuffled, already-verified pairs — the same
    order of driver traffic as a broadcast join build side); larger
    graphs go through the distributed min-label propagation loop.
    """
    from pagerank_spark.graph.components import connected_components

    if edges.count() > driver_pairs_limit:
        # Star contraction, not label propagation: a near-dup pair
        # graph can contain arbitrarily long chains (doc1~doc2~doc3~…),
        # and label rounds scale with chain length while star rounds
        # are O(log²) regardless of diameter.
        return connected_components(edges, algorithm="star")

    parent: dict = {}

    def find(x):
        root = x
        while parent.get(root, root) != root:
            root = parent[root]
        while parent.get(x, x) != x:  # path compression
            parent[x], x = root, parent[x]
        return root

    for r in edges.collect():
        ra, rb = find(r["src"]), find(r["dst"])
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # Every non-singleton node appears as a union-find key or value;
    # singletons are restored by the caller's coalesce-to-self join.
    nodes = set()
    for child, root in list(parent.items()):
        nodes.add(child)
        nodes.add(root)
    id_type = edges.schema["src"].dataType.simpleString()
    return local_relation(edges.sparkSession, 
        [(n, find(n)) for n in sorted(nodes)],
        f"node {id_type}, component {id_type}",
    )


def neardup_clusters(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Near-dup canonicalization: the step an actual dedup pipeline runs
    AFTER pair finding — transitively cluster the near-dup pairs and
    keep one representative per cluster.

    ``minhash_neardup_pairs`` (LSH candidates + exact verify) feeds a
    connected-components pass over the pair graph (near-duplication is
    not transitive, but dedup policy treats clusters as one document —
    the standard approach); the canonical id is the cluster's minimum
    doc id. Returns one row per input doc: (id, canonical_id,
    cluster_size, is_kept) — singletons are their own canonical.

    Scale: the pair graph is tiny relative to the corpus (only
    near-dups), so clustering runs on a residual graph. Strategy is
    adaptive, the same size-based cut Spark itself applies to joins
    (broadcast vs shuffle): once the pair list is materialized its
    count is known, and below ``driver_pairs_limit`` a driver-side
    union-find resolves the components in one pass — the distributed
    min-label loop would pay ~diameter rounds of fixed scheduling cost
    for a graph that fits in memory (measured: half the operator's
    wall time at sf0.1). Above the limit the iterative
    ``connected_components`` takes over; results are identical
    (min-id representative) either way.
    """
    pairs = minhash_neardup_pairs(df, id_col, text_col, n=n, threshold=threshold)
    ids = df.select(F.col(id_col))
    with Pins() as pins:
        # Materialize the (tiny) pair list once before clustering:
        # both strategies re-read the edge input, and without this cut
        # each re-read would recompute the full shingle→signature→verify
        # pipeline — measured 2× the whole operator's cost at sf0.1.
        edges = pins.truncate(pairs.select(
            F.col("id_a").alias("src"), F.col("id_b").alias("dst")
        ), eager=True)
        comp = _components_adaptive(edges)
        canon = (
            ids.join(comp, ids[id_col] == comp["node"], "left")
            .select(
                F.col(id_col),
                F.coalesce("component", F.col(id_col)).alias("canonical_id"),
            )
        )
        sizes = canon.groupBy(F.col("canonical_id").alias("__c")).agg(
            F.count("*").alias("cluster_size")
        )
        return pins.keep(
            canon.join(sizes, canon["canonical_id"] == sizes["__c"])
            .select(
                id_col,
                "canonical_id",
                "cluster_size",
                (F.col(id_col) == F.col("canonical_id")).alias("is_kept"),
            )
        )


def dup_span_coverage(
    df: DataFrame,
    n: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Exact duplicate-substring coverage, the per-document signal
    behind suffix-style training-data dedup (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better"): a
    token n-gram is DUPLICATED if it appears in more than one
    document; each document reports how much of it is covered by
    duplicated spans. Returns one row per input document::

        (id_col, n_tokens, dup_starts, covered_tokens, dup_frac)

    where ``dup_starts`` counts n-gram start positions whose gram is
    duplicated and ``covered_tokens`` counts distinct token positions
    inside any duplicated span (overlapping spans are unioned, not
    summed). Documents shorter than ``n`` tokens report zeros.

    Scale shape: one shuffle keyed on the gram (map-side partial agg
    counts distinct docs per gram), one shuffle joining the duplicated
    gram keys back to (doc, start) pairs, one per-doc aggregation.
    Never all-pairs; the gram relation is corpus-linear (≤ one row per
    token). At 100 TB, key the gram shuffle on a 128-bit digest of the
    gram instead of the string to cut shuffle bytes — kept as the raw
    string here so the DuckDB twin (q145) is value-exact.
    """
    if n < 1:
        raise ValueError(f"dup_span_coverage: n must be >= 1, got {n}")
    toks = df.select(
        F.col(id_col),
        F.filter(word_tokens(text_col), lambda x: x != "").alias("t"),
    )
    base = toks.select(id_col, F.size("t").alias("n_tokens"), "t")
    grams = base.select(
        F.col(id_col),
        F.posexplode(
            F.when(
                F.col("n_tokens") >= n,
                F.transform(
                    F.sequence(F.lit(0), F.col("n_tokens") - n),
                    lambda i: F.concat_ws(
                        " ", F.slice(F.col("t"), i + 1, n)
                    ),
                ),
            ).otherwise(F.array().cast("array<string>"))
        ).alias("start", "gram"),
    )
    dup = (
        grams.groupBy("gram")
        .agg(F.count_distinct(F.col(id_col)).alias("__docs"))
        .where(F.col("__docs") > 1)
        .select("gram")
    )
    spans = grams.join(dup, on="gram")
    # Each start position carries exactly ONE gram, so after exploding
    # its n covered positions the start count is count(*)/n — using
    # that instead of a second count_distinct keeps the aggregation a
    # single-distinct plan (two distincts would force an Expand that
    # doubles the exploded span relation before the shuffle).
    cov = (
        spans.select(
            F.col(id_col),
            F.explode(
                F.sequence(F.col("start"), F.col("start") + (n - 1))
            ).alias("pos"),
        )
        .groupBy(id_col)
        .agg(
            (F.count("*") / n).cast("long").alias("dup_starts"),
            F.count_distinct("pos").alias("covered_tokens"),
        )
    )
    return (
        base.select(id_col, "n_tokens")
        .join(cov, on=id_col, how="left")
        .select(
            F.col(id_col),
            F.col("n_tokens"),
            F.coalesce("dup_starts", F.lit(0)).alias("dup_starts"),
            F.coalesce("covered_tokens", F.lit(0)).alias("covered_tokens"),
            F.when(F.col("n_tokens") > 0,
                   F.coalesce("covered_tokens", F.lit(0))
                   / F.col("n_tokens"))
            .otherwise(F.lit(0.0))
            .alias("dup_frac"),
        )
    )


def remove_duplicate_spans(
    df: DataFrame,
    n: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """The transformation counterpart of ``dup_span_coverage``: drop
    every token position covered by a cross-document duplicated
    n-gram and reassemble the remaining tokens in order — the actual
    corpus rewrite in exact-substring dedup (Lee et al. 2022).
    Returns ``(id_col, clean_text, removed_tokens)``; a fully-covered
    document survives as an empty string (downstream length gates
    decide its fate — this operator never drops rows).

    Same inverted-index scale shape as the coverage signal (gram
    shuffle → dup keys joined back → per-doc work), plus one
    left-anti join of token positions against covered positions and
    an order-stable reassembly via ``sort_array`` over (pos, token)
    structs — no window, no Python.
    """
    if n < 1:
        raise ValueError(f"remove_duplicate_spans: n must be >= 1, got {n}")
    toks = df.select(
        F.col(id_col),
        F.filter(word_tokens(text_col), lambda x: x != "").alias("t"),
    )
    base = toks.select(id_col, F.size("t").alias("n_tokens"), "t")
    grams = base.select(
        F.col(id_col),
        F.posexplode(
            F.when(
                F.col("n_tokens") >= n,
                F.transform(
                    F.sequence(F.lit(0), F.col("n_tokens") - n),
                    lambda i: F.concat_ws(
                        " ", F.slice(F.col("t"), i + 1, n)
                    ),
                ),
            ).otherwise(F.array().cast("array<string>"))
        ).alias("start", "gram"),
    )
    dup = (
        grams.groupBy("gram")
        .agg(F.count_distinct(F.col(id_col)).alias("__docs"))
        .where(F.col("__docs") > 1)
        .select("gram")
    )
    # No distinct on the covered positions: a left-anti join is an
    # existence check, so right-side duplicates (overlapping spans)
    # are harmless — skipping the dedup saves one aggregation pass on
    # the span relation.
    covered = grams.join(dup, on="gram").select(
        F.col(id_col),
        F.explode(
            F.sequence(F.col("start"), F.col("start") + (n - 1))
        ).alias("pos"),
    )
    tokens = base.select(
        F.col(id_col), F.posexplode("t").alias("pos", "tok")
    )
    kept = tokens.join(covered, on=[id_col, "pos"], how="left_anti")
    rebuilt = kept.groupBy(id_col).agg(
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "tok"))),
                lambda s: s["tok"],
            ),
        ).alias("clean_text"),
        F.count("*").alias("__kept"),
    )
    return (
        base.select(id_col, "n_tokens")
        .join(rebuilt, on=id_col, how="left")
        .select(
            F.col(id_col),
            F.coalesce("clean_text", F.lit("")).alias("clean_text"),
            (F.col("n_tokens") - F.coalesce("__kept", F.lit(0))).alias(
                "removed_tokens"
            ),
        )
    )


def fuzzy_blocked_pairs(
    df: DataFrame,
    col: str,
    max_dist: int = 2,
    block: Column | None = None,
) -> DataFrame:
    """Entity-resolution candidate pairs: blocked fuzzy self-match on
    a string column. Returns ``(name_a, name_b, dist)`` with
    ``name_a < name_b`` and ``dist = levenshtein ≤ max_dist``.

    The two scale moves that make ER tractable at corpus size:

    1. **Collapse to the DISTINCT value relation first** — pairs are
       a property of the value space, not the row space; a 100 TB
       fact with 10^6 distinct names pairs over 10^6 rows, and
       matched pairs join back to rows by equality afterwards.
    2. **Block before pairing** — the self-join runs inside blocking
       keys only (default: the value's last whitespace token, the
       classic "same surname/suffix" block; pass ``block`` to
       override). No block, no cartesian — asserted by plan test.

    The in-block filter is JVM-side ``levenshtein`` with its
    early-exit threshold argument (Spark ≥ 3.5) so non-matches cost
    O(max_dist·len), not O(len²).
    """
    if max_dist < 0:
        raise ValueError(f"fuzzy_blocked_pairs: max_dist >= 0, got {max_dist}")
    blk = (
        block
        if block is not None
        else F.substring_index(F.col("name"), " ", -1)
    )
    names = (
        df.select(F.col(col).alias("name"))
        .where(F.col("name").isNotNull())
        .distinct()
        .withColumn("blk", blk)
    )
    a = names.select(F.col("name").alias("name_a"), "blk")
    b = names.select(F.col("name").alias("name_b"), "blk")
    return (
        a.join(b, on="blk")
        .where(F.col("name_a") < F.col("name_b"))
        .select(
            "name_a",
            "name_b",
            F.levenshtein("name_a", "name_b", max_dist).cast("long").alias(
                "dist"
            ),
        )
        .where(F.col("dist") >= 0)
        .where(F.col("dist") <= max_dist)
    )


def er_resolve(
    df: DataFrame,
    col: str,
    max_dist: int = 2,
    block: Column | None = None,
) -> DataFrame:
    """Entity resolution end-to-end: ``fuzzy_blocked_pairs`` →
    transitive closure → one canonical value per entity cluster
    (minimum string — deterministic). Returns one row per DISTINCT
    input value: ``(name, canonical_name, cluster_size,
    is_canonical)`` — the lookup relation a pipeline joins back to the
    fact table by equality to normalize free-text entities.

    Scale shape: identical to ``neardup_clusters`` — the match graph
    is value-space-sized (distinct names, not rows) and residual
    (only fuzzy matches), so the adaptive components cut
    (driver union-find ≤1M pairs, star contraction above) applies
    unchanged; the canonical map then joins back broadcastable.
    """
    pairs = fuzzy_blocked_pairs(df, col, max_dist=max_dist, block=block)
    names = (
        df.select(F.col(col).alias("name"))
        .where(F.col("name").isNotNull())
        .distinct()
    )
    with Pins() as pins:
        edges = pins.truncate(pairs.select(
            F.col("name_a").alias("src"), F.col("name_b").alias("dst")
        ), eager=True)
        comp = _components_adaptive(edges)
        canon = names.join(comp, names["name"] == comp["node"], "left").select(
            "name",
            F.coalesce("component", F.col("name")).alias("canonical_name"),
        )
        sizes = canon.groupBy(F.col("canonical_name").alias("__c")).agg(
            F.count("*").alias("cluster_size")
        )
        return pins.keep(
            canon.join(sizes, canon["canonical_name"] == sizes["__c"]).select(
                "name",
                "canonical_name",
                "cluster_size",
                (F.col("name") == F.col("canonical_name")).alias("is_canonical"),
            )
        )


def sorted_neighborhood_pairs(
    df: DataFrame,
    col: str,
    window: int = 3,
    max_dist: int = 2,
    prefix_len: int = 2,
) -> DataFrame:
    """Sorted-neighborhood ER blocking (the classic alternative to
    ``fuzzy_blocked_pairs``' key blocking): distinct values ranked in
    lexicographic order, pairs generated within a rank ``window``,
    verified by thresholded levenshtein. Catches near-dups key
    blocking splits — typos in the blocking key itself. Returns
    ``(name_a, name_b, dist)`` with ``name_a`` the rank-earlier value.

    Scale shape: the global lexicographic rank is a distributed
    TWO-LEVEL PREFIX SUM, never an unpartitioned ``row_number`` window
    (which would single-partition-sort the whole distinct-value
    relation — corpus-sized for free-text columns). Values are grouped
    into order-preserving blocks by the ``prefix_len`` characters that
    follow the relation-wide longest common prefix (a string prefix
    sorts consistently with the full string, so blocks never straddle
    a rank boundary — deterministic, no sampled range partitioner).
    Stripping the common prefix first matters for ID-shaped columns:
    ``Customer#000...`` names all share their first 10+ characters, so
    raw head-of-string blocks would collapse to ONE block and the rank
    would degenerate to the single-partition sort this operator exists
    to avoid; the common prefix of the whole relation is exactly the
    common prefix of its min and max, one cheap scalar aggregate.
    Per-block ``row_number`` windows rank locally in parallel, and the
    per-block counts (a charset^prefix_len-row relation, the only
    single-partition window) give the exclusive offsets. Pairing is
    then an equi-join on rank offsets 1..window — shuffle-partitioned
    on the rank key, no self-cartesian. The in-window verify is
    JVM-side ``levenshtein`` with the early-exit threshold argument.
    """
    if window < 1:
        raise ValueError(f"sorted_neighborhood_pairs: window >= 1, got {window}")
    import os

    from pyspark.sql import Window

    base = (
        df.select(F.col(col).alias("name"))
        .where(F.col("name").isNotNull())
        .distinct()
    )
    b = base.agg(F.min("name").alias("lo"), F.max("name").alias("hi")).collect()[0]
    lcp = len(os.path.commonprefix([b["lo"] or "", b["hi"] or ""]))
    names = base.withColumn(
        "__blk", F.substring("name", lcp + 1, prefix_len)
    )
    local_w = Window.partitionBy("__blk").orderBy("name")
    local = names.withColumn("__lrk", F.row_number().over(local_w))
    tot_w = Window.orderBy("__blk").rowsBetween(
        Window.unboundedPreceding, -1
    )
    offsets = (
        local.groupBy("__blk")
        .agg(F.count("*").alias("__tot"))
        .select(
            "__blk",
            F.coalesce(F.sum("__tot").over(tot_w), F.lit(0)).alias("__off"),
        )
    )
    ranked = local.join(F.broadcast(offsets), on="__blk").select(
        "name", (F.col("__off") + F.col("__lrk")).alias("rk")
    )
    b = ranked.select(
        F.col("name").alias("name_b"), F.col("rk").alias("rk_b")
    )
    off = F.explode(
        F.array(*[F.lit(i) for i in range(1, window + 1)])
    )
    return (
        ranked.select("name", "rk", off.alias("off"))
        .join(b, F.col("rk") + F.col("off") == F.col("rk_b"))
        .select(
            F.col("name").alias("name_a"),
            "name_b",
            F.levenshtein("name", "name_b", max_dist).cast("long").alias(
                "dist"
            ),
        )
        .where((F.col("dist") >= 0) & (F.col("dist") <= max_dist))
    )


def ngram_novelty(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
) -> DataFrame:
    """Per-document n-gram novelty: the share of a document's distinct
    word n-gram shingles whose FIRST corpus appearance (minimum id) is
    this document — the memorization/staleness signal a training-data
    pipeline uses to rank late-crawled documents (novelty ~0 = the
    document restates earlier content; the deduplicated-corpus
    complement of ``dup_span_coverage``). Returns
    ``(id, n_shingles, novel_shingles, novelty)``; docs shorter than
    ``n`` tokens report 0 shingles and novelty 0.0.

    Scale shape: one shingle explode (``word_shingles``, distinct per
    doc), ONE partial-combined min per shingle key (the first-owner
    relation, shingle-space-sized), one equality join back on the
    shingle, one per-doc count — no windows, no self-join, corpus-
    linear. The min-per-shingle aggregation is the same inverted-
    index shuffle the span-coverage operator runs.
    """
    sh = word_shingles(df, id_col, text_col, n=n)
    first = sh.groupBy("shingle").agg(F.min(id_col).alias("__first"))
    per_doc = (
        sh.join(first, on="shingle")
        .groupBy(id_col)
        .agg(
            F.count("*").alias("n_shingles"),
            F.sum(
                F.when(F.col(id_col) == F.col("__first"), 1).otherwise(0)
            ).alias("novel_shingles"),
        )
    )
    ids = df.select(F.col(id_col)).distinct()
    return ids.join(per_doc, on=id_col, how="left").select(
        id_col,
        F.coalesce("n_shingles", F.lit(0)).cast("long").alias("n_shingles"),
        F.coalesce("novel_shingles", F.lit(0))
        .cast("long")
        .alias("novel_shingles"),
        F.round(
            F.coalesce(
                F.col("novel_shingles") / F.col("n_shingles"), F.lit(0.0)
            ),
            6,
        ).alias("novelty"),
    )


def containment_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.8,
    max_doc_freq: int | None = None,
    candidates: DataFrame | None = None,
    shingled: DataFrame | None = None,
) -> DataFrame:
    """ASYMMETRIC shingle containment per candidate pair —
    ``c(A→B) = |sh(A) ∩ sh(B)| / |sh(A)|`` — the quote / sub-document
    detector Jaccard misses: a tweet fully quoted inside a long
    article has tiny Jaccard but containment 1.0 in one direction.
    Returns ``(id_a, id_b, n_inter, n_a, n_b, cont_ab, cont_ba)`` for
    ``id_a < id_b`` where EITHER direction reaches ``threshold``
    (containments rounded to 6dp, the rounded value thresholded).

    Two plans, both shuffle-bounded (the ``jaccard_pairs`` split):

    - ``candidates`` given — ``(id_a, id_b)`` pairs from any bounded
      generator (LSH bands, a doc-frequency-capped index, span
      buckets): intersections come from
      ``candidates ⋈ shingles(a) ⋈ shingles(b)``, work proportional to
      |candidates|·|shingles per doc|. This is the 100 TB path; sizes
      are computed over the FULL shingle sets so the containment is
      exact for every candidate pair.
    - no candidates: inverted-index self-join on the shingle key.
      ``max_doc_freq`` caps a shingle's document frequency first — a
      stopword shingle in F docs otherwise yields an F² bucket (sizes
      computed after the cap, so containment stays a true containment
      over the retained set). Without the cap this path goes quadratic
      on one hot shingle — never run it uncapped at corpus scale.

    ``shingled`` lets a caller that already built the (id, shingle)
    relation (e.g. to derive MinHash candidates from it) hand it in —
    the jaccard_pairs shingled-first shape. Note Catalyst does not
    dedupe common subplans across branches, so this shares the PLAN,
    not the work; ``minhash_neardup_pairs``' measurement applies
    (recompute beats caching for the cheap pipelined explode).
    """
    sh = (
        shingled
        if shingled is not None
        else word_shingles(df, id_col, text_col, n=n)
    )
    if candidates is not None:
        sizes = sh.groupBy(id_col).agg(F.count("*").alias("n_sh"))
        a = sh.select(F.col(id_col).alias("id_a"), "shingle")
        b = sh.select(F.col(id_col).alias("id_b"), "shingle")
        inter = (
            candidates.join(a, on="id_a")
            .join(b, on=["id_b", "shingle"])
            .groupBy("id_a", "id_b")
            .agg(F.count("*").alias("n_inter"))
        )
        return _containment_from_inter(inter, sizes, id_col, threshold)
    if max_doc_freq is not None:
        df_per = sh.groupBy("shingle").agg(F.count("*").alias("__df"))
        sh = sh.join(
            df_per.where(F.col("__df") <= max_doc_freq),
            on="shingle",
            how="left_semi",
        )
    sizes = sh.groupBy(id_col).agg(F.count("*").alias("n_sh"))
    a = sh.select(F.col(id_col).alias("id_a"), "shingle")
    b = sh.select(F.col(id_col).alias("id_b"), "shingle")
    inter = (
        a.join(b, on="shingle")
        .where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("n_inter"))
    )
    return _containment_from_inter(inter, sizes, id_col, threshold)


def _containment_from_inter(
    inter: DataFrame, sizes: DataFrame, id_col: str, threshold: float
) -> DataFrame:
    cont_ab = F.round(F.col("n_inter") / F.col("n_a"), 6)
    cont_ba = F.round(F.col("n_inter") / F.col("n_b"), 6)
    return (
        inter.join(
            sizes.select(
                F.col(id_col).alias("id_a"), F.col("n_sh").alias("n_a")
            ),
            on="id_a",
        )
        .join(
            sizes.select(
                F.col(id_col).alias("id_b"), F.col("n_sh").alias("n_b")
            ),
            on="id_b",
        )
        .select(
            "id_a",
            "id_b",
            "n_inter",
            "n_a",
            "n_b",
            cont_ab.alias("cont_ab"),
            cont_ba.alias("cont_ba"),
        )
        .where(
            (F.col("cont_ab") >= threshold) | (F.col("cont_ba") >= threshold)
        )
    )


def leakage_safe_split(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 1,
    threshold: float = 0.9,
    val_frac: float = 0.1,
    test_frac: float = 0.1,
    seed: str = "split-v1",
) -> DataFrame:
    """Near-dup-aware train/val/test split: the split coin is tossed
    on the near-dup CLUSTER's canonical id, not the document id, so a
    document and its near-duplicates land in the SAME split — the
    leakage guard a plain per-doc split (q120) lacks (a train doc's
    near-copy in test silently inflates eval). Returns
    ``(id, canonical_id, split)``, covering every input row.

    Deterministic: ``neardup_clusters`` (LSH → components → min-id
    canonical) then the md5-coin assignment on
    ``seed # canonical_id`` — the q120/q131 portable-coin discipline,
    so any engine reproduces every assignment. One extra broadcast-
    size join over the plain split; the cluster relation is residual-
    graph-sized.
    """
    if not (0.0 <= val_frac and 0.0 <= test_frac
            and val_frac + test_frac < 1.0):
        raise ValueError("leakage_safe_split: fracs must sum below 1")
    from pagerank_spark.functions import portable_hash60

    clusters = neardup_clusters(
        df, id_col, text_col, n=n, threshold=threshold
    )
    coin = (
        F.pmod(
            portable_hash60(
                F.concat(
                    F.lit(seed),
                    F.lit("#"),
                    F.col("canonical_id").cast("string"),
                )
            ),
            F.lit(1_000_000),
        )
        / 1_000_000.0
    )
    split = (
        F.when(coin < test_frac, F.lit("test"))
        .when(coin < test_frac + val_frac, F.lit("val"))
        .otherwise(F.lit("train"))
    )
    return clusters.select(id_col, "canonical_id", split.alias("split"))
