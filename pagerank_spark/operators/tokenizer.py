"""SentencePiece-style unigram-LM tokenizer training (Kudo 2018).

BPE (text.py bpe_train) learns a vocabulary bottom-up by greedy merge;
the unigram LM learns it top-down: seed a large substring-candidate
vocabulary, run EM over the segmentation lattice of every word, prune
to the target size. This is the tokenizer family used by Llama/T5-class
models, and the natural second tokenizer beside bpe_train. (Beyond the
reference's surface; the iterative lifecycle follows the reference's
convergence-loop discipline, pageRank.py:159-194, re-expressed as
per-round broadcast-join + aggregation over the word relation.)

Semantics (deterministic, fixed-round — so the whole trajectory unrolls
into the q254 SQL twin):

- **Corpus collapse.** The corpus collapses ONCE to the ``(word,
  freq)`` vocabulary relation (the bpe_train move): corpus size is
  paid in exactly one shuffle, every EM round then touches only the
  (much smaller, but still distributed) word relation.
- **Seed.** Candidates are ALL substrings of length 1..max_piece_len,
  weighted by word frequency × occurrence multiplicity. Keep the
  ``seed_size`` heaviest (ties: weight DESC, piece ASC) plus every
  single character (coverage guarantee: any word is always
  segmentable); initial probabilities are normalized weights.
- **EM round (soft counts via forward-backward).** For each word, the
  segmentation lattice has an edge per (position i, length l) whose
  piece is in the vocabulary. With alpha/beta the standard lattice
  prefix/suffix sums, the expected count of edge (i, l) is
  ``freq · alpha[i] · p(piece) · beta[i+l] / alpha[n]``. The M-step
  renormalizes summed counts; pieces with zero expected count drop
  out. Per round: one broadcast join of the candidate-edge relation
  against the vocabulary, one co-partitioned per-word regroup, the
  alpha/beta folds as vectorized array expressions (JVM codegen, no
  Python), and one partial-combined per-piece aggregation.
- **Prune.** Keep the ``vocab_size`` most probable pieces (ties:
  prob DESC, piece ASC) plus all surviving single characters;
  renormalize.

Scale shape: the driver never holds the vocabulary — probabilities
flow between rounds as a localCheckpointed piece relation, broadcast
into the next round's join (tokenizer vocabularies are ≤ O(100k) rows
by construction). The heavy relation (distinct corpus words) is
shuffled once at collapse and regrouped per round on its own key.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pagerank_spark.functions import word_tokens


def _candidate_edges(words: DataFrame, max_piece_len: int) -> DataFrame:
    """All lattice edges of every word: ``(word, freq, i, l, piece)``
    with 1-based start ``i`` and ``i + l - 1 <= len(word)``."""
    n = F.length("word")

    def edge_fn(l):
        # factory, NOT `lambda i, l=l`: a two-parameter lambda makes
        # Spark bind the second name to the array INDEX
        return lambda i: F.struct(
            i.alias("i"),
            F.lit(l).alias("l"),
            F.col("word").substr(i, F.lit(l)).alias("piece"),
        )

    per_len = [
        F.when(
            n >= l,
            F.transform(F.sequence(F.lit(1), n - l + 1), edge_fn(l)),
        ).otherwise(
            F.array().cast("array<struct<i:int,l:int,piece:string>>")
        )
        for l in range(1, max_piece_len + 1)
    ]
    return words.select(
        "word",
        "freq",
        F.explode(F.flatten(F.array(*per_len))).alias("e"),
    ).select("word", "freq", "e.i", "e.l", "e.piece")


def _scalar_fold(df: DataFrame, scalar: DataFrame) -> DataFrame:
    """One-row broadcast scalar fold (the established pattern)."""
    return df.crossJoin(F.broadcast(scalar))


def unigram_lm_train(
    df: DataFrame,
    *,
    rounds: int = 2,
    max_piece_len: int = 4,
    seed_size: int = 200,
    vocab_size: int = 100,
    text_col: str = "text",
) -> DataFrame:
    """Train a unigram-LM tokenizer on the corpus; returns the pruned
    vocabulary relation ``(piece, prob)``. See the module docstring for
    the exact (twin-unrollable) semantics."""
    if rounds < 1:
        raise ValueError(f"unigram_lm_train: rounds >= 1, got {rounds}")
    if max_piece_len < 1:
        raise ValueError("unigram_lm_train: max_piece_len >= 1")
    spark = df.sparkSession
    L = max_piece_len

    toks = df.select(
        F.explode(
            F.filter(word_tokens(text_col), lambda x: x != "")
        ).alias("word")
    )
    # the distinct-word relation is the checkpoint point (the
    # graph/embeddings.py re-analysis rationale): it is
    # vocabulary-sized (Heaps-bounded — CHEAP to materialize, unlike
    # the exploded candidate relation, whose eager checkpoint was
    # measured to cost as much as the analysis it saves), and it
    # truncates the corpus tokenize+explode lineage, so the seed pass
    # and every EM round analyze a leaf + bounded-fanout projection
    # instead of the whole corpus plan. The checkpoint sits BELOW the
    # repartition+persist pin, which keeps the per-round per-word
    # regroups exchange-free (tests/test_checkpoint_pin.py).
    from pagerank_spark.graph.loop import Pins

    with Pins() as pins:
        words = pins.truncate(
            toks.groupBy("word").agg(F.count("*").alias("freq")), eager=True
        )
        # cached for the seed pass + every EM round; partitioned on word
        # so each round's per-word regroup is exchange-free
        shuffle_p = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
        cand = pins.hold(
            _candidate_edges(words, L).repartition(shuffle_p, "word")
        )

        # ---- seed -------------------------------------------------------
        piece_w = cand.groupBy("piece").agg(
            F.sum("freq").alias("wf"),
            F.max(F.col("l") == 1).alias("is_char"),
        )
        topk = (
            piece_w.orderBy(F.desc("wf"), F.asc("piece"))
            .limit(seed_size)
            .select("piece")
        )
        chars = piece_w.where("is_char").select("piece")
        selected = topk.unionByName(chars).distinct().join(
            piece_w.select("piece", "wf"), on="piece"
        )
        total0 = selected.agg(F.sum("wf").alias("__t"))
        vocab = _scalar_fold(selected, total0).select(
            "piece", (F.col("wf") / F.col("__t")).alias("prob")
        )
        # The eager-vs-lazy rule of graph/loop.py: the seed and every
        # NON-final round are read next by one sequential consumer (the
        # following round's broadcast build), so they are lazy; the
        # FINAL vocabulary is read by the prune below from three plan
        # branches, so it is eager.
        vocab = pins.truncate(vocab)

        # ---- EM rounds --------------------------------------------------
        for rnd in range(rounds):
            counts = _em_expected_counts(cand, vocab, L)
            total = counts.agg(F.sum("cnt").alias("__t"))
            vocab = pins.truncate(
                _scalar_fold(counts, total).select(
                    "piece", (F.col("cnt") / F.col("__t")).alias("prob")
                ),
                eager=rnd == rounds - 1,
            )

        # ---- prune ------------------------------------------------------
        # the returned frame reads the final vocabulary: the caller's
        pins.keep(vocab)
        keep = (
            vocab.orderBy(F.desc("prob"), F.asc("piece"))
            .limit(vocab_size)
            .select("piece")
            .unionByName(
                vocab.where(F.length("piece") == 1).select("piece")
            )
            .distinct()
            .join(vocab, on="piece")
        )
        totalp = keep.agg(F.sum("prob").alias("__t"))
        return _scalar_fold(keep, totalp).select(
            "piece", (F.col("prob") / F.col("__t")).alias("prob")
        )


def _lattice_arrays(edges_col, n, L):
    """Per-word probability arrays ``pl[l][j]`` = prob of the piece
    starting at 1-based position j with length l (0.0 when absent from
    the vocabulary), from the sorted ``(l, i, p)`` edge structs."""
    def len_filter(l):
        return lambda e: e["l"] == l

    return [
        F.transform(
            F.filter(edges_col, len_filter(l)),
            lambda e: e["p"],
        )
        for l in range(1, L + 1)
    ]


def _em_expected_counts(
    cand: DataFrame, vocab: DataFrame, L: int
) -> DataFrame:
    """One E-step + count aggregation: expected piece counts over every
    word's lattice under the current vocabulary probabilities."""
    joined = cand.join(F.broadcast(vocab), on="piece", how="left").select(
        "word",
        "freq",
        F.struct(
            F.col("l"),
            F.col("i"),
            F.coalesce(F.col("prob"), F.lit(0.0)).alias("p"),
        ).alias("e"),
    )
    # regroup on word (exchange-free: cand is partitioned on word and
    # the broadcast join preserves that); sort puts edges in (l, i)
    # order so each per-length array is dense and position-ordered
    grid = joined.groupBy("word", "freq").agg(
        F.array_sort(F.collect_list("e")).alias("edges")
    )

    n = F.length("word")
    pl = _lattice_arrays(F.col("edges"), n, L)

    def alpha_step(acc, i):
        terms = None
        for l in range(1, L + 1):
            t = F.when(
                i >= l,
                F.element_at(acc, i - l + 1)
                * F.element_at(pl[l - 1], i - l + 1),
            ).otherwise(F.lit(0.0))
            terms = t if terms is None else terms + t
        return F.concat(acc, F.array(terms))

    alpha = F.aggregate(
        F.sequence(F.lit(1), n),
        F.array(F.lit(1.0)),
        alpha_step,
    )

    def beta_step(acc, i):
        # acc[k] == beta[i + k] for the positions already folded
        terms = None
        for l in range(1, L + 1):
            t = F.when(
                i + l <= n + 1,
                F.element_at(pl[l - 1], i) * F.element_at(acc, l),
            ).otherwise(F.lit(0.0))
            terms = t if terms is None else terms + t
        return F.concat(F.array(terms), acc)

    beta = F.aggregate(
        F.sequence(n, F.lit(1), F.lit(-1)),
        F.array(F.lit(1.0)),
        beta_step,
    )

    with_ab = grid.select(
        "word",
        "freq",
        alpha.alias("alpha"),
        beta.alias("beta"),
        *[p.alias(f"pl{l}") for l, p in enumerate(pl, start=1)],
    )

    n = F.length("word")
    z = F.element_at(F.col("alpha"), n + 1)

    def count_fn(l):
        return lambda i: F.struct(
            F.col("word").substr(i, F.lit(l)).alias("piece"),
            (
                F.col("freq")
                * F.element_at(F.col("alpha"), i)
                * F.element_at(F.col(f"pl{l}"), i)
                * F.element_at(F.col("beta"), i + l)
                / z
            ).alias("c"),
        )

    per_len = [
        F.when(
            n >= l,
            F.transform(F.sequence(F.lit(1), n - l + 1), count_fn(l)),
        ).otherwise(F.array().cast("array<struct<piece:string,c:double>>"))
        for l in range(1, L + 1)
    ]
    return (
        with_ab.select(
            F.explode(F.flatten(F.array(*per_len))).alias("pc")
        )
        .groupBy(F.col("pc.piece").alias("piece"))
        .agg(F.sum("pc.c").alias("cnt"))
        .where(F.col("cnt") > 0)
    )


def unigram_segment_stats(
    df: DataFrame,
    vocab: DataFrame,
    *,
    max_piece_len: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Apply a trained unigram vocabulary: Viterbi-segment every word
    (max-probability path; the single-character coverage guarantee
    makes every word reachable) and report per-doc
    ``(n_words, n_chars, n_tokens, chars_per_token)`` — the fertility
    numbers that judge a vocabulary, same shape as bpe_segment_stats
    (q151). Token counts ride the Viterbi fold as (best-prob, tokens)
    pairs, so no backtracking pass is needed; probability ties break
    toward FEWER tokens, then the fold's deterministic left-to-right
    order.

    A word containing a character absent from ``vocab`` (possible when
    applying a trained vocabulary to NEW text — training itself seeds
    every char) has no lattice path: candidates are gated on the
    predecessor being reachable (``prev.p > 0``), the word's token
    count is NULL, and any doc containing such a word reports NULL
    ``n_tokens`` / ``chars_per_token`` rather than a fabricated count
    (r12 ADVICE: the ungated fold scored unreachable paths).

    Plan: distinct words join the broadcast vocabulary once, segment as
    array expressions, then one join back to the exploded corpus and a
    per-doc aggregation — corpus scanned once, DP done per DISTINCT
    word.
    """
    L = max_piece_len
    toks = df.select(
        F.col(id_col),
        F.explode(
            F.filter(word_tokens(text_col), lambda x: x != "")
        ).alias("word"),
    )
    words = toks.select("word").distinct().withColumn("freq", F.lit(1))
    cand = _candidate_edges(words, L)
    joined = cand.join(F.broadcast(vocab), on="piece", how="left").select(
        "word",
        F.struct(
            F.col("l"),
            F.col("i"),
            F.coalesce(F.col("prob"), F.lit(0.0)).alias("p"),
        ).alias("e"),
    )
    grid = joined.groupBy("word").agg(
        F.array_sort(F.collect_list("e")).alias("edges")
    )
    n = F.length("word")
    pl = _lattice_arrays(F.col("edges"), n, L)

    # dp over (prob, tokens) structs; dp[k] = best for prefix length
    # k-1. Candidate selection is a LEXICOGRAPHIC array_max over
    # (p, −tokens, −l) structs — the same rule as the when-chain it
    # replaced (greatest probability, then fewest tokens, then lowest
    # piece length) and the exact shape of the q257 twin's list_sort.
    # The chain form referenced the running `best` TWICE per candidate
    # (comparison + otherwise), an expression tree exponential in L
    # that cost Catalyst seconds of analysis per plan at L=6; this
    # form is linear in L and value-identical (VITERBI_AB_r13.json).
    def step(acc, i):
        sentinel = F.struct(
            F.lit(-1.0).alias("cp"),
            F.lit(0).alias("nt"),
            F.lit(0).alias("nl"),
        )
        cands = []
        for l in range(1, L + 1):
            prev = F.element_at(acc, i - l + 1)
            cond = (
                (i >= l)
                & (F.element_at(pl[l - 1], i - l + 1) > 0)
                & (prev["p"] > 0)
            )
            cands.append(
                F.when(
                    cond,
                    F.struct(
                        (
                            prev["p"]
                            * F.element_at(pl[l - 1], i - l + 1)
                        ).alias("cp"),
                        (-(prev["t"] + 1)).alias("nt"),
                        F.lit(-l).alias("nl"),
                    ),
                ).otherwise(sentinel)
            )
        best = F.array_max(F.array(*cands))
        entry = F.when(
            best["cp"] > 0,
            F.struct(
                best["cp"].alias("p"), (-best["nt"]).alias("t")
            ),
        ).otherwise(
            F.struct(F.lit(0.0).alias("p"), F.lit(0).alias("t"))
        )
        return F.concat(acc, F.array(entry))

    dp = F.aggregate(
        F.sequence(F.lit(1), n),
        F.array(F.struct(F.lit(1.0).alias("p"), F.lit(0).alias("t"))),
        step,
    )
    final = F.element_at(dp, n + 1)
    # p == 0 at the last cell ⇒ no path through the lattice: flag the
    # word (NULL) instead of reporting the dead-end struct's count
    seg = grid.select(
        "word",
        F.when(final["p"] > 0, final["t"]).alias("n_tokens_word"),
    )
    return (
        toks.join(seg, on="word")
        .groupBy(id_col)
        .agg(
            F.count("*").alias("n_words"),
            F.sum(F.length("word")).alias("n_chars"),
            # NULL-poisoning: a doc with ANY unsegmentable word gets a
            # NULL total (F.sum alone would silently skip the nulls)
            F.when(
                F.count("n_tokens_word") == F.count("*"),
                F.sum("n_tokens_word"),
            ).alias("n_tokens"),
        )
        .select(
            id_col,
            "n_words",
            "n_chars",
            "n_tokens",
            (
                F.col("n_chars").cast("double") / F.col("n_tokens")
            ).alias("chars_per_token"),
        )
    )
