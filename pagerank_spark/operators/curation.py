"""Corpus-curation operators: deterministic domain-mix sampling.

Training-data pipelines rarely train on a corpus in its natural
source proportions — they resample to a target mix (so much web, so
much code, so much reference text). ``sample_to_mix`` is that
operator: deterministic, single-pass, and exactly reproducible across
engines (the keep decision hashes the row id with the portable md5
hash family, so the DuckDB oracle twin selects the identical rows).

Extension tier — the reference (a PageRank engine) has no sampling
beyond its seeded head-sample; this is the large-corpus analogue.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame

from pagerank_spark.session import local_relation
from pyspark.sql import functions as F

from pagerank_spark.functions import portable_hash60
from pagerank_spark.graph.loop import Pins

MIX_PRECISION = 1_000_000


def mix_plan(
    df: DataFrame, group_col: str, weights: dict[str, float]
) -> DataFrame:
    """The sampling plan behind ``sample_to_mix``: per group, the
    observed count, the target weight, and the keep fraction.

    The feasible total is maximized without upsampling: with group
    counts n_g and weights w_g (any positive scale), the largest total
    T such that every group can supply its share is
    ``T = min_g(n_g / w_g)`` — the group hitting the minimum is kept
    whole (keep_frac = 1) and every other group downsamples to
    ``w_g · T / n_g``. One partial-combined count per group plus a
    scalar min — the plan table is group-cardinality-sized (tiny), so
    every downstream join against it broadcasts.

    Groups absent from ``weights`` get weight 0 (dropped); weights
    absent from the data simply contribute no rows.
    """
    spark = df.sparkSession
    w_df = local_relation(spark, 
        [(k, float(v)) for k, v in weights.items()],
        f"{group_col} string, weight double",
    )
    counts = df.groupBy(group_col).agg(F.count("*").alias("n_rows"))
    caps = counts.join(F.broadcast(w_df), on=group_col, how="inner")
    t = caps.agg(
        F.min(F.col("n_rows") / F.col("weight")).alias("__t")
    )
    return (
        caps.crossJoin(F.broadcast(t))
        .select(
            group_col,
            "n_rows",
            "weight",
            # round(·, 12) snaps the binding group's w·(n/w)/n — exactly
            # 1 algebraically, up to ~3 ulp off in floating point — back
            # to 1.0, so "the binding group is kept whole" holds
            # EXACTLY; a 5e-13 perturbation of real fractions is far
            # below the 1e-6 coin resolution. The oracle twin applies
            # the same rounding.
            F.least(
                F.lit(1.0),
                F.round(
                    F.col("weight") * F.col("__t") / F.col("n_rows"), 12
                ),
            ).alias("keep_frac"),
        )
    )


def sample_to_mix(
    df: DataFrame,
    group_col: str,
    weights: dict[str, float],
    id_col: str,
    salt: str = "mix",
) -> DataFrame:
    """Deterministic stratified downsampling to a target group mix.

    Keeps row ``r`` of group ``g`` iff
    ``portable_hash60(id || ':' || salt) % 10^6 < floor(keep_frac_g ·
    10^6)`` — a per-row coin flip that is (a) stable under reruns and
    repartitioning (no RNG, no zipWithIndex), (b) independent of row
    order, and (c) reproducible in any engine with md5. The realized
    group sizes concentrate tightly around ``keep_frac_g · n_g``
    (binomial, not exact-count) — the standard trade for a one-pass,
    shuffle-free filter; the only shuffle in the whole operator is the
    tiny per-group count inside ``mix_plan``, which broadcasts back.

    At 100 TB: one scan computing a hash-compare filter per row, one
    broadcast join against a group-cardinality plan table. No window,
    no global sort, no driver materialization of data rows.
    """
    plan = mix_plan(df, group_col, weights).select(
        group_col,
        F.floor(F.col("keep_frac") * MIX_PRECISION)
        .cast("long")
        .alias("__thresh"),
    )
    coin = portable_hash60(
        F.concat(F.col(id_col).cast("string"), F.lit(":" + salt))
    ) % F.lit(MIX_PRECISION)
    return (
        df.join(F.broadcast(plan), on=group_col, how="inner")
        .where(coin < F.col("__thresh"))
        .drop("__thresh")
    )


def contamination_report(
    corpus: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bench_text_col: str | None = None,
    n: int = 5,
    min_overlap: int = 1,
) -> DataFrame:
    """Benchmark decontamination: corpus documents sharing at least
    ``min_overlap`` distinct word ``n``-grams with the benchmark set —
    the standard eval-leakage scan a training pipeline runs before
    training. Returns (id_col, n_hits) where ``n_hits`` counts the
    doc's distinct shingles that occur anywhere in the benchmark.

    Plan: both sides shingle with the existing ``word_shingles``
    (sequence/slice/explode, pure Catalyst, distinct per doc), the
    benchmark's distinct shingle set broadcasts (eval suites are tiny
    next to a 100 TB corpus), and the overlap is a broadcast hash
    semi-join + partial-combined count. No Python, one shuffle (the
    per-doc count), corpus scanned once.
    """
    from pagerank_spark.operators.dedup import word_shingles

    c = word_shingles(corpus, id_col, text_col, n)
    b = (
        word_shingles(
            benchmark, id_col, bench_text_col or text_col, n
        )
        .select("shingle")
        .distinct()
    )
    return (
        c.join(F.broadcast(b), on="shingle")
        .groupBy(id_col)
        .agg(F.count("*").alias("n_hits"))
        .where(F.col("n_hits") >= min_overlap)
    )


def remove_boilerplate_lines(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_docs: int = 2,
) -> DataFrame:
    """C4-style boilerplate removal: drop every line that occurs in at
    least ``min_docs`` DISTINCT documents (navigation chrome, cookie
    banners, license footers), preserving the remaining lines' order.
    Returns (id_col, cleaned text, n_lines_removed).

    Plan: posexplode lines (position keeps reassembly deterministic),
    count distinct docs per line (partial-combined agg on the line
    key), broadcast-or-shuffle join the boilerplate set back, and
    reassemble with sort_array over (pos, line) structs — exact,
    order-stable, no window and no Python. Every kept document emits
    exactly one row, including documents left empty.
    """
    lines = df.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), "\n")).alias("pos", "line"),
    )
    boiler = (
        lines.groupBy("line")
        .agg(F.count_distinct(F.col(id_col)).alias("__nd"))
        .where(F.col("__nd") >= min_docs)
        .select("line")
    )
    tagged = lines.join(
        boiler.withColumn("__is_boiler", F.lit(True)), on="line", how="left"
    )
    return (
        tagged.groupBy(id_col)
        .agg(
            F.concat_ws(
                "\n",
                F.transform(
                    F.sort_array(
                        F.collect_list(
                            F.when(
                                F.col("__is_boiler").isNull(),
                                F.struct(F.col("pos"), F.col("line")),
                            )
                        )
                    ),
                    lambda s: s["line"],
                ),
            ).alias(text_col),
            F.sum(
                F.when(F.col("__is_boiler").isNotNull(), 1).otherwise(0)
            )
            .cast("long")
            .alias("n_lines_removed"),
        )
    )


def dataset_split(
    df: DataFrame,
    id_col: str,
    fractions: dict[str, float],
    salt: str = "split",
) -> DataFrame:
    """Deterministic train/val/test assignment: adds a ``split`` column
    naming which partition each row belongs to.

    The assignment hashes the row id with the portable md5 family and
    compares against cumulative integer thresholds (``MIX_PRECISION``
    resolution), so it is (a) stable under reruns, repartitioning and
    row order, (b) disjoint and exhaustive by construction, and (c)
    reproducible bit-for-bit in any engine with md5 — the property a
    training pipeline needs so val/test rows can NEVER leak into train
    across reprocessing runs. Fractions are normalized to sum 1;
    iteration order of ``fractions`` fixes the threshold order.

    At 100 TB: a pure per-row projection — no shuffle, no window, no
    driver state; composes under any scan.
    """
    total = float(sum(fractions.values()))
    if total <= 0:
        raise ValueError("fractions must sum to a positive value")
    names = list(fractions)
    coin = portable_hash60(
        F.concat(F.col(id_col).cast("string"), F.lit(":" + salt))
    ) % F.lit(MIX_PRECISION)
    cum = 0.0
    expr = F.lit(names[-1])
    thresholds: list[tuple[str, int]] = []
    for name in names[:-1]:
        cum += fractions[name] / total
        thresholds.append((name, int(round(cum * MIX_PRECISION))))
    for name, thresh in reversed(thresholds):
        expr = F.when(coin < F.lit(thresh), F.lit(name)).otherwise(expr)
    return df.withColumn("split", expr)


def _bloom_pos(key: Column, i: int, m: int, salt: str):
    """Bit position of hash function ``i``: portable 60-bit md5 hash of
    the salted key, reduced mod ``m`` (non-negative: the hash is a
    positive 60-bit value in both Spark and DuckDB)."""
    return portable_hash60(F.concat(key, F.lit(f":{salt}{i}"))) % F.lit(m)


def bloom_bits(
    keys: DataFrame,
    key_col: str,
    m: int = 1 << 16,
    k: int = 3,
    salt: str = "bloom",
) -> DataFrame:
    """Distributed Bloom-filter BUILD: the filter as its set-bit table
    ``(bit_pos BIGINT)`` — each input key sets ``k`` md5-derived
    positions in ``[0, m)``.

    The set-bit relation is bounded by ``min(m, k·|keys|)`` rows, so a
    filter over an eval suite / URL seen-set broadcasts to every
    executor regardless of corpus size; building is one explode + one
    distinct (partial-combined — duplicate bits collapse map-side).
    Unlike ``df.stat.bloomFilter`` this build never materializes on
    the driver, is mergeable across corpus shards by construction
    (union ∪ distinct), and is engine-portable: DuckDB reproduces the
    identical bit set from the same md5 arithmetic.
    """
    key = F.col(key_col).cast("string")
    return (
        keys.select(
            F.explode(
                F.array(*[_bloom_pos(key, i, m, salt) for i in range(k)])
            ).alias("bit_pos")
        )
        .distinct()
    )


def bloom_might_contain(
    probes: DataFrame,
    key_col: str,
    bits: DataFrame,
    m: int = 1 << 16,
    k: int = 3,
    salt: str = "bloom",
) -> DataFrame:
    """Bloom-filter MEMBERSHIP: for each (distinct) probe row, a
    ``might_contain`` flag — true iff all ``k`` positions of the key
    are set in ``bits``. No false negatives; false-positive rate
    ≈ ``(set_bits/m)^k`` by the standard bound.

    Plan: explode the ``k`` probe positions, broadcast-left-join the
    set-bit table, and regroup on the probe's own columns requiring
    EVERY exploded row to find its bit (``count(hit) == count(*)`` —
    exact under colliding hash positions AND under duplicate probe
    rows, which collapse to one output row with the correct flag; the
    old ``count == k`` form silently false-negatived on duplicates).
    One broadcast join + one partial-combined aggregation per probe
    scan — the decontamination / seen-URL gate shape at 100 TB.
    """
    key = F.col(key_col).cast("string")
    exploded = probes.select(
        "*",
        F.explode(
            F.array(*[_bloom_pos(key, i, m, salt) for i in range(k)])
        ).alias("__pos"),
    )
    bit_side = F.broadcast(
        bits.select(
            F.col("bit_pos").alias("__pos"), F.lit(True).alias("__hit")
        )
    )
    return (
        exploded.join(bit_side, on="__pos", how="left")
        .groupBy(*probes.columns)
        .agg((F.count("__hit") == F.count(F.lit(1))).alias("might_contain"))
    )


def pack_sequences(
    df: DataFrame,
    id_col: str,
    n_tokens_col: str,
    budget: int,
    blocks: int | None = None,
) -> DataFrame:
    """Concatenate-and-chunk sequence packing (the T5/GPT training
    layout): documents are laid head-to-tail in ``id_col`` order into
    one token stream, which is cut into fixed ``budget``-token
    sequences; a document crossing a cut is split across adjacent
    sequences. Returns per document::

        (id, n_tokens, start_tok, seq_first, seq_last, offset_in_seq)

    where ``start_tok`` is the document's global token offset,
    ``seq_first/seq_last`` the first/last sequence indices it occupies
    and ``offset_in_seq`` its offset inside ``seq_first``.

    The global running offset is a distributed two-level prefix sum —
    NOT a single-partition global window (the classic scale trap):
    rows are grouped into order-preserving blocks by integer-dividing
    the id range into ``blocks`` slices (deterministic — no sampled
    range partitioner, so re-evaluation of the lazy plan cannot
    reassign rows), a per-block window computes local exclusive
    cumsums, block totals (a ``blocks``-row relation) get exclusive
    offsets via a tiny window, and the offsets broadcast back. Two
    data-sized shuffle-free passes over one exchange on the block key;
    the only global ordering ever materialized is the block-total
    table. Requires a numeric id; balance assumes ids are roughly
    dense over their range (true of sequential doc ids — for
    arbitrary keys, map them to dense ids first).
    """
    from pyspark.sql import Window

    spark = df.sparkSession
    if blocks is None:
        blocks = int(spark.conf.get("spark.sql.shuffle.partitions"))
    bounds = df.agg(
        F.min(F.col(id_col)).alias("lo"), F.max(F.col(id_col)).alias("hi")
    ).collect()[0]
    if bounds["lo"] is None:
        return df.select(
            F.col(id_col),
            F.col(n_tokens_col).cast("long").alias("n_tokens"),
            F.lit(0).cast("long").alias("start_tok"),
            F.lit(0).cast("long").alias("seq_first"),
            F.lit(0).cast("long").alias("seq_last"),
            F.lit(0).cast("long").alias("offset_in_seq"),
        ).limit(0)
    lo, hi = int(bounds["lo"]), int(bounds["hi"])
    span = max(1, -(-(hi - lo + 1) // blocks))  # ceil; block is id-ordered
    blk = F.floor((F.col(id_col) - F.lit(lo)) / F.lit(span)).alias("__blk")
    toks = F.col(n_tokens_col).cast("long")

    local_w = (
        Window.partitionBy("__blk")
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    local = df.select(F.col(id_col), toks.alias("__n"), blk).withColumn(
        "__local_start",
        F.coalesce(F.sum("__n").over(local_w), F.lit(0)).cast("long"),
    )
    # Block totals: a <= `blocks`-row relation; its exclusive prefix sum
    # is the only single-partition window in the operator — bounded by
    # the block count, never by the data.
    tot_w = Window.orderBy("__blk").rowsBetween(
        Window.unboundedPreceding, -1
    )
    offsets = (
        local.groupBy("__blk")
        .agg(F.sum("__n").alias("__tot"))
        .select(
            "__blk",
            F.coalesce(F.sum("__tot").over(tot_w), F.lit(0))
            .cast("long")
            .alias("__off"),
        )
    )
    start = (F.col("__local_start") + F.col("__off")).alias("start_tok")
    out = local.join(F.broadcast(offsets), on="__blk").select(
        F.col(id_col), F.col("__n").alias("n_tokens"), start
    )
    end_incl = F.col("start_tok") + F.greatest(
        F.col("n_tokens") - 1, F.lit(0)
    )
    return out.select(
        id_col,
        "n_tokens",
        "start_tok",
        F.floor(F.col("start_tok") / F.lit(budget))
        .cast("long")
        .alias("seq_first"),
        F.floor(end_incl / F.lit(budget)).cast("long").alias("seq_last"),
        (F.col("start_tok") % F.lit(budget)).cast("long").alias(
            "offset_in_seq"
        ),
    )


def training_order(
    df: DataFrame,
    id_col: str = "doc_id",
    seed: int = 0,
    blocks: int | None = None,
    out_col: str = "position",
) -> DataFrame:
    """Deterministic global training-order shuffle: every row receives
    a unique position 0..N-1 in pseudo-random order — the reproducible
    corpus ordering an LLM data loader consumes (re-run, re-partition,
    or re-engine the job and the order is identical; change ``seed``
    for the next epoch's order). Rows are ranked by
    ``portable_hash60(id || ':' || seed)`` with the id breaking hash
    ties. Returns ``(id_col, out_col)``.

    Scale shape: NO single-partition global window (the classic
    row_number trap at 100 TB). ``pack_sequences``' two-level prefix
    sum, keyed on HASH-SPACE slices instead of id ranges: the 60-bit
    hash space divides into ``blocks`` equal-width, order-preserving
    slices (uniform hash → balanced blocks, fully deterministic — no
    sampled range partitioner to re-draw on plan re-evaluation), a
    per-block window ranks locally, block COUNTS (a ``blocks``-row
    relation, the only single-partition window) get exclusive prefix
    offsets, and positions are offset + local rank. One exchange on
    the block key; the oracle twin is a plain
    ``row_number() OVER (ORDER BY hash, id) - 1``.
    """
    from pyspark.sql import Window

    spark = df.sparkSession
    if blocks is None:
        blocks = int(spark.conf.get("spark.sql.shuffle.partitions"))
    h = portable_hash60(
        F.concat(F.col(id_col).cast("string"), F.lit(f":{seed}"))
    )
    span = -(-(1 << 60) // blocks)  # ceil: slices cover [0, 2^60)
    base = df.select(F.col(id_col), h.alias("__h")).withColumn(
        "__blk", F.floor(F.col("__h") / F.lit(span)).cast("long")
    )
    local_w = Window.partitionBy("__blk").orderBy("__h", id_col)
    local = base.withColumn(
        "__rank", F.row_number().over(local_w).cast("long")
    )
    tot_w = Window.orderBy("__blk").rowsBetween(
        Window.unboundedPreceding, -1
    )
    offsets = (
        base.groupBy("__blk")
        .agg(F.count("*").alias("__n"))
        .select(
            "__blk",
            F.coalesce(F.sum("__n").over(tot_w), F.lit(0))
            .cast("long")
            .alias("__off"),
        )
    )
    return local.join(F.broadcast(offsets), on="__blk").select(
        F.col(id_col),
        (F.col("__off") + F.col("__rank") - 1).alias(out_col),
    )


def mixture_order(
    df: DataFrame,
    parts: dict[str, int],
    source_col: str = "source",
    id_col: str = "doc_id",
    seed: int = 0,
    blocks: int | None = None,
    out_col: str = "position",
) -> DataFrame:
    """Deterministic multi-source mixture interleave — the epoch order
    for a weighted training mix: source ``s`` with weight ``parts[s]``
    advances ``parts[s]`` rows for every ``parts[t]`` rows of ``t``
    (uniformly interleaved, not block-concatenated), rows within each
    source in seeded pseudo-random order, and the whole permutation
    reproducible on any engine/partitioning. Returns
    ``(id_col, source_col, out_col)`` with positions 0..N-1.

    Exact-arithmetic construction (no float keys to diverge between
    engines): within each source, rows take a hash-seeded local rank
    r = 1..N_s; the interleave key is the INTEGER
    ``k = r · (lcm(parts)/parts_s)`` — source s emits a row every
    lcm/parts_s key units, so sorting by ``(k, source, id)`` yields
    the proportional interleave. This is RATE interleaving, not
    resampling: a source whose size is small relative to its weight
    exhausts early and the tail carries only the remaining sources
    (size the mix or the weights accordingly — the pytest pins both
    regimes). Both ranks use the ``training_order``
    two-level prefix sum (hash-space slices for the per-source rank,
    measured-key-space slices for the global rank); the only
    single-partition windows run over block-count-bounded offset
    relations, never the data. Unknown sources (absent from
    ``parts``) raise inside the plan rather than silently dropping.
    """
    import math

    from pyspark.sql import Window

    if not parts or any(p < 1 for p in parts.values()):
        raise ValueError(f"mixture_order: parts must be >= 1, got {parts}")
    spark = df.sparkSession
    if blocks is None:
        blocks = int(spark.conf.get("spark.sql.shuffle.partitions"))
    lcm = math.lcm(*parts.values())
    wdf = local_relation(spark, 
        [(s, lcm // p) for s, p in parts.items()],
        f"{source_col} STRING, __stride LONG",
    )
    h = portable_hash60(
        F.concat(F.col(id_col).cast("string"), F.lit(f":{seed}"))
    )
    span = -(-(1 << 60) // blocks)
    base = (
        df.select(F.col(id_col), F.col(source_col))
        .withColumn("__h", h)
        .withColumn("__blk", F.floor(F.col("__h") / F.lit(span)).cast("long"))
    )
    local_w = Window.partitionBy(source_col, "__blk").orderBy("__h", id_col)
    local = base.withColumn(
        "__r", F.row_number().over(local_w).cast("long")
    )
    # per-source exclusive block offsets: a (sources × blocks)-row
    # relation; the window is bounded by it, never by the data
    off_w = (
        Window.partitionBy(source_col)
        .orderBy("__blk")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offs = (
        base.groupBy(source_col, "__blk")
        .agg(F.count("*").alias("__n"))
        .select(
            source_col,
            "__blk",
            F.coalesce(F.sum("__n").over(off_w), F.lit(0))
            .cast("long")
            .alias("__off"),
        )
    )
    stride = F.when(
        F.col("__stride").isNull(),
        F.raise_error(
            F.concat(
                F.lit("mixture_order: source without a weight: "),
                F.col(source_col),
            )
        ).cast("long"),
    ).otherwise(F.col("__stride"))
    with Pins() as pins:
        keyed = pins.truncate(
            local.join(F.broadcast(offs), on=[source_col, "__blk"])
            .join(F.broadcast(wdf), on=source_col, how="left")
            .select(
                F.col(id_col),
                F.col(source_col),
                ((F.col("__off") + F.col("__r")) * stride).alias("__k"),
            )
        )
        # global rank over the integer key: slice the measured key range
        kmax = keyed.agg(F.max("__k").alias("m")).collect()[0]["m"]
        if kmax is None:
            return df.select(
                F.col(id_col),
                F.col(source_col),
                # cast: the non-empty path emits BIGINT positions; the
                # empty relation must carry the SAME schema or downstream
                # unions/writers break on INT vs BIGINT (r10 ADVICE).
                F.lit(0).cast("long").alias(out_col),
            ).limit(0)
        kspan = max(1, -(-(int(kmax) + 1) // blocks))
        kb = keyed.withColumn(
            "__kblk", F.floor(F.col("__k") / F.lit(kspan)).cast("long")
        )
        local2_w = Window.partitionBy("__kblk").orderBy(
            "__k", source_col, id_col
        )
        tot_w = Window.orderBy("__kblk").rowsBetween(
            Window.unboundedPreceding, -1
        )
        offs2 = (
            kb.groupBy("__kblk")
            .agg(F.count("*").alias("__n"))
            .select(
                "__kblk",
                F.coalesce(F.sum("__n").over(tot_w), F.lit(0))
                .cast("long")
                .alias("__off2"),
            )
        )
        return pins.keep(
            kb.withColumn("__r2", F.row_number().over(local2_w).cast("long"))
            .join(F.broadcast(offs2), on="__kblk")
            .select(
                F.col(id_col),
                F.col(source_col),
                (F.col("__off2") + F.col("__r2") - 1).alias(out_col),
            )
        )


def sample_weighted(
    df: DataFrame,
    prob_col: str | Column,
    id_col: str,
    salt: str = "wsample",
) -> DataFrame:
    """Deterministic per-row Bernoulli sampling with a row-specific
    keep probability: row ``r`` survives iff
    ``portable_hash60(id || ':' || salt) % 10^6 < floor(p_r · 10^6)``.
    The curation shape behind quality-weighted downsampling (keep
    documents with probability proportional to a quality score) and
    temperature-style source reweighting — ``sample_to_mix`` with the
    keep fraction computed PER ROW instead of per group.

    Same determinism contract as the other md5-coin operators: stable
    under reruns and repartitioning, order-independent, reproducible
    in any engine with md5. Probabilities clamp to [0, 1]. Pure
    filter — no shuffle, no RNG, no window.
    """
    p = F.col(prob_col) if isinstance(prob_col, str) else prob_col
    thresh = F.floor(
        F.greatest(F.lit(0.0), F.least(F.lit(1.0), p)) * MIX_PRECISION
    ).cast("long")
    coin = portable_hash60(
        F.concat(F.col(id_col).cast("string"), F.lit(":" + salt))
    ) % F.lit(MIX_PRECISION)
    return df.where(coin < thresh)


def stratified_exact_sample(
    df: DataFrame,
    strata_cols: list[str],
    frac: float,
    id_col: str,
    salt: str = "strat",
) -> DataFrame:
    """Deterministic EXACT-allocation stratified sample: exactly
    ``ceil(frac · n_g)`` rows from every stratum ``g``, chosen by
    portable-md5-hash order — the companion to ``sample_to_mix``'s
    Bernoulli coin (binomial sizes) for when the pipeline needs exact
    per-stratum counts (balanced eval sets, per-language quotas).
    Adds ``__rk`` (the row's 1-based hash rank within its stratum) so
    the caller can tighten the sample later without resampling (the
    first k rows by ``__rk`` are ALWAYS the frac'=k/n sample — nested
    samples for free).

    Scale shape: one per-stratum count (partial-combined, broadcast
    back) and one ``row_number`` window PARTITIONED BY the strata —
    per-stratum sort, never a global one. The hash order makes the
    selection stable under reruns, repartitioning, and engine choice
    (same md5 rank in any SQL engine). A single mega-stratum degrades
    to one sorted partition — for that shape use ``sample_to_mix``,
    which is a pure filter; with real strata (language × source) the
    sort parallelism equals the stratum count.
    """
    if not 0.0 < frac <= 1.0:
        raise ValueError(f"stratified_exact_sample: frac in (0, 1], got {frac}")
    from pyspark.sql import Window

    counts = df.groupBy(*strata_cols).agg(
        F.ceil(F.count("*") * F.lit(frac)).cast("long").alias("__take")
    )
    coin = portable_hash60(
        F.concat(F.col(id_col).cast("string"), F.lit(":" + salt))
    )
    w = Window.partitionBy(*strata_cols).orderBy(
        coin.asc(), F.col(id_col).asc()
    )
    return (
        df.withColumn("__rk", F.row_number().over(w))
        .join(F.broadcast(counts), on=list(strata_cols))
        .where(F.col("__rk") <= F.col("__take"))
        .drop("__take")
    )


def weighted_sample_wor(
    df: DataFrame,
    weight_col: str | Column,
    k: int,
    id_col: str,
    group_cols: list[str] | None = None,
    salt: str = "eswor",
) -> DataFrame:
    """Deterministic weighted sampling WITHOUT replacement, k per
    group (Efraimidis–Spirakis 2006): each row draws the portable md5
    coin ``u ∈ (0, 1)`` and survives if its key ``ln(u) / w`` is among
    the group's ``k`` largest — distributionally identical to
    sequential draws proportional to weight, but embarrassingly
    parallel and one-pass (the A-ES trick: ``u^{1/w}`` order ≡
    ``ln(u)/w`` order). The third sampling discipline next to
    ``sample_to_mix`` (Bernoulli per group) and
    ``stratified_exact_sample`` (exact uniform allocation): exact-k
    AND weight-proportional.

    Adds ``__rk`` (1-based) so ``__rk ≤ k' < k`` is the k'-sample for
    free. Scale shape: one per-group ``row_number`` window (partition
    = group) over the key expression — no RNG, no driver state; rows
    with weight ≤ 0 or NULL are excluded (zero mass).
    """
    if k < 1:
        raise ValueError(f"weighted_sample_wor: k >= 1, got {k}")
    from pyspark.sql import Window

    w = F.col(weight_col) if isinstance(weight_col, str) else weight_col
    u = (
        portable_hash60(
            F.concat(F.col(id_col).cast("string"), F.lit(":" + salt))
        )
        % F.lit(MIX_PRECISION)
        + 1
    ) / F.lit(float(MIX_PRECISION + 1))
    key = F.log(u) / w.cast("double")
    win = Window.partitionBy(
        *(group_cols or [])
    ).orderBy(key.desc(), F.col(id_col).asc())
    return (
        df.where(w.isNotNull() & (w > 0))
        .withColumn("__rk", F.row_number().over(win))
        .where(F.col("__rk") <= k)
    )


__all__ = [
    "MIX_PRECISION",
    "mix_plan",
    "sample_to_mix",
    "contamination_report",
    "remove_boilerplate_lines",
    "dataset_split",
    "bloom_bits",
    "bloom_might_contain",
    "pack_sequences",
    "sample_weighted",
    "stratified_exact_sample",
    "weighted_sample_wor",
]


def epoch_shuffle(
    df: DataFrame,
    epoch: int,
    n_shards: int,
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministic per-epoch corpus shuffle + sharding — how a
    training run orders its data: every epoch gets a DIFFERENT but
    fully REPRODUCIBLE permutation (seeded by the epoch number, no
    RNG state to checkpoint), split into ``n_shards`` reader shards.
    Returns ``(id_col, shard, pos)`` with ``pos`` the 0-based reading
    position within the shard.

    Plan: the shuffle key is ``md5(id || '#' || epoch)`` — shard =
    key mod n_shards (one hash partition step), position = row_number
    ordered by the hash WITHIN the shard (per-shard window, so the
    sort parallelizes across shards; no global ordering exists and
    none is needed — readers consume shards independently).
    """
    if epoch < 0:
        raise ValueError(f"epoch_shuffle: epoch must be >= 0, got {epoch}")
    if n_shards < 1:
        raise ValueError(
            f"epoch_shuffle: n_shards must be >= 1, got {n_shards}"
        )
    from pyspark.sql import Window

    from pagerank_spark.functions import portable_hash60

    key = portable_hash60(
        F.concat(F.col(id_col).cast("string"), F.lit(f"#e{epoch}"))
    )
    w = Window.partitionBy("shard").orderBy("__key", id_col)
    return (
        df.select(
            F.col(id_col),
            key.alias("__key"),
        )
        .withColumn("shard", F.pmod(F.col("__key"), F.lit(n_shards)).cast("int"))
        .withColumn("pos", (F.row_number().over(w) - 1).cast("long"))
        .select(id_col, "shard", "pos")
    )


def curation_provenance(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    fractions: dict[str, float] | None = None,
    split_salt: str = "split",
    scrub: bool = True,
    gate: bool = True,
    dedup: bool = True,
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    max_symbol_word_ratio: float = 0.1,
    max_dup_line_frac: float = 0.3,
) -> DataFrame:
    """Per-document curation audit relation — the lineage an ingest
    dashboard needs at 100 TB: ``(id, stage, verdict, reason)`` rows
    for the default curate pipeline (scrub → Gopher gate → exact
    dedup → split), composed from the existing operators' own flag
    columns so it adds NO second scan per stage.

    One pass over the corpus: ``pii_redact`` and ``gopher_quality``
    are codegen'd projections stacked on the scan; the dedup winner is
    ONE window over ``md5(redacted_text)`` (an 8-byte-ish shuffle key
    instead of the document — the hashed-key form ``exact_dedup``'s
    docstring recommends at scale), conditional on gate-passers so the
    pipeline's dedup-after-gate order is preserved; the split is the
    ``dataset_split`` per-row md5 coin. The ≤4 audit rows per document
    explode from an in-row array — no union of per-stage scans.

    Stage semantics (each doc gets a row per stage it REACHED):

    - ``scrub``: verdict ``redacted``/``clean``; reason
      ``emails=N,phones=M`` when redacted.
    - ``gate`` (on the redacted text): verdict ``pass``/``drop``;
      reason is the FIRST failing bound in fixed precedence
      (too_few_words, too_many_words, word_len_low, word_len_high,
      symbol_ratio, dup_lines).
    - ``exact_dedup`` (gate-passers only): verdict ``keep``/``drop``;
      reason ``duplicate_of=<min surviving id>`` on drop — the same
      keep-first winner ``exact_dedup`` picks (min ``id_col`` per
      identical redacted text).
    - ``split`` (dedup keepers only): verdict is the assigned split
      name.

    ``scrub``/``gate``/``dedup`` toggles mirror the curate CLI's
    ``--no-*`` flags: a disabled stage emits no rows and downstream
    stages see every document (gate features then use the raw text
    when scrub is off).
    """
    from pyspark.sql import Window

    from pagerank_spark.operators.text import gopher_quality, pii_redact

    fractions = fractions or {"train": 0.98, "val": 0.01, "test": 0.01}
    base = docs.select(F.col(id_col), F.col(text_col))
    if scrub:
        red = pii_redact(base, text_col=text_col)
        flagged = red.select(
            id_col,
            "n_emails",
            "n_phones",
            F.col(f"{text_col}_redacted").alias(text_col),
        )
    else:
        flagged = base
    flagged = gopher_quality(
        flagged,
        text_col=text_col,
        min_words=min_words,
        max_words=max_words,
        min_mean_word_len=min_mean_word_len,
        max_mean_word_len=max_mean_word_len,
        max_symbol_word_ratio=max_symbol_word_ratio,
        max_dup_line_frac=max_dup_line_frac,
    )
    passes = F.col("passes_gopher") if gate else F.lit(True)
    if dedup:
        w = Window.partitionBy(F.md5(F.col(text_col)))
        flagged = flagged.withColumn(
            "__winner",
            F.min(F.when(passes, F.col(id_col))).over(w),
        )
        keep = passes & (F.col(id_col) == F.col("__winner"))
    else:
        keep = passes
    flagged = dataset_split(flagged, id_col, fractions, salt=split_salt)

    null_s = F.lit(None).cast("string")

    def _st(stage: str, verdict, reason):
        return F.struct(
            F.lit(stage).alias("stage"),
            verdict.alias("verdict"),
            reason.alias("reason"),
        )

    elems = []
    if scrub:
        scrubbed = (F.col("n_emails") + F.col("n_phones")) > 0
        elems.append(
            _st(
                "scrub",
                F.when(scrubbed, F.lit("redacted")).otherwise("clean"),
                F.when(
                    scrubbed,
                    F.concat(
                        F.lit("emails="),
                        F.col("n_emails").cast("string"),
                        F.lit(",phones="),
                        F.col("n_phones").cast("string"),
                    ),
                ).otherwise(null_s),
            )
        )
    if gate:
        gate_reason = (
            F.when(F.col("n_words") < min_words, "too_few_words")
            .when(F.col("n_words") > max_words, "too_many_words")
            .when(F.col("mean_word_len") < min_mean_word_len, "word_len_low")
            .when(F.col("mean_word_len") > max_mean_word_len, "word_len_high")
            .when(
                F.col("symbol_word_ratio") > max_symbol_word_ratio,
                "symbol_ratio",
            )
            .when(F.col("dup_line_frac") > max_dup_line_frac, "dup_lines")
            .otherwise(null_s)
        )
        elems.append(
            _st(
                "gate",
                F.when(F.col("passes_gopher"), F.lit("pass")).otherwise(
                    "drop"
                ),
                gate_reason,
            )
        )
    if dedup:
        elems.append(
            F.when(
                passes,
                _st(
                    "exact_dedup",
                    F.when(keep, F.lit("keep")).otherwise("drop"),
                    F.when(
                        ~(F.col(id_col) == F.col("__winner")),
                        F.concat(
                            F.lit("duplicate_of="),
                            F.col("__winner").cast("string"),
                        ),
                    ).otherwise(null_s),
                ),
            )
        )
    elems.append(F.when(keep, _st("split", F.col("split"), null_s)))
    return (
        flagged.select(
            F.col(id_col),
            F.explode(
                F.filter(F.array(*elems), lambda x: x.isNotNull())
            ).alias("__a"),
        )
        .select(id_col, "__a.stage", "__a.verdict", "__a.reason")
    )
