"""Text-analysis operators for training-data pipelines.

All pure Catalyst expressions (regexp/split/length/bit aggregates) so
they run in whole-stage codegen at corpus scale and every one has an
exact DuckDB oracle twin:

- ``language_id``    — stopword-hit n-gram heuristic over a small
  per-language marker list (broadcast-free: the lists are literals
  compiled into the expression).
- ``quality_score``  — length / punctuation-ratio / stopword-ratio
  blend, the usual cheap pre-filter before expensive dedup.
- ``token_stats``    — whitespace token count plus a BPE-ish subword
  count (regex on letter-runs/digits/punctuation).
- ``fingerprint``    — order-insensitive 60-bit document fingerprint:
  bit_xor of token hashes + token count (rolling-hash-class digest,
  associative so it partial-aggregates map-side).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame

from pagerank_spark.session import local_relation
from pyspark.sql import functions as F

from pagerank_spark.functions import portable_hash60, word_tokens
from pagerank_spark.graph.loop import Pins

LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "a"],
    "es": ["el", "la", "de", "que", "y"],
    "fr": ["le", "la", "et", "les", "des"],
    "de": ["der", "die", "und", "das", "ein"],
    "zh": ["的", "是", "了", "在", "我"],
}

# BPE-ish subword splitter: letter runs, digit runs, or single
# non-space symbols — a cheap deterministic proxy for tokenizer counts.
SUBWORD_PATTERN = "[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]"


def marker_pattern(words: list[str]) -> str:
    """Regex counting whole-word marker hits (shared with the DuckDB twin).

    \\b word boundaries so "a" matches only the word "a", never every word
    containing the letter. CJK markers skip the boundaries: they are
    non-word chars to \\b (which would then never match inside CJK runs),
    and substring matching is the correct n-gram semantics for unsegmented
    scripts anyway.
    """
    if all(w.isascii() for w in words):
        return "\\b(?:" + "|".join(words) + ")\\b"
    return "(?:" + "|".join(words) + ")"


def _marker_hits(text: Column, words: list[str]) -> Column:
    return F.size(
        F.regexp_extract_all(F.lower(text), F.lit(marker_pattern(words)), F.lit(0))
    )


def language_scores(text: Column) -> list[Column]:
    return [
        _marker_hits(text, words).alias(f"hits_{lang}")
        for lang, words in LANG_MARKERS.items()
    ]


def language_id(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Predict language by max marker hits (ties → lexicographic lang).

    The arg-max is a greatest/when chain — deterministic and portable.
    """
    text = F.col(text_col)
    scored = df.select("*", *language_scores(text))
    hit_cols = [f"hits_{lang}" for lang in LANG_MARKERS]
    best = F.greatest(*[F.col(c) for c in hit_cols])
    pred = F.lit("unknown")
    # build the when-chain in reverse so earlier (lexicographic) langs win ties
    for lang in sorted(LANG_MARKERS, reverse=True):
        pred = F.when(
            (F.col(f"hits_{lang}") == best) & (best > 0), F.lit(lang)
        ).otherwise(pred)
    return scored.withColumn("pred_lang", pred)


def quality_score(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Cheap quality features + blended score in [0, ~1].

    score = 0.4·min(len/500,1) + 0.3·(1-punct_ratio) + 0.3·stopword_ratio
    """
    text = F.col(text_col)
    n_chars = F.length(text)
    toks = word_tokens(text)
    n_tokens = F.size(toks)
    n_punct = F.size(
        F.regexp_extract_all(text, F.lit("[\\.,;:!\\?]"), F.lit(0))
    )
    stop_hits = _marker_hits(text, LANG_MARKERS["en"])
    punct_ratio = n_punct / F.greatest(n_chars, F.lit(1))
    stop_ratio = stop_hits / F.greatest(n_tokens, F.lit(1))
    score = (
        F.lit(0.4) * F.least(n_chars / F.lit(500.0), F.lit(1.0))
        + F.lit(0.3) * (F.lit(1.0) - punct_ratio)
        + F.lit(0.3) * F.least(stop_ratio, F.lit(1.0))
    )
    return df.select(
        "*",
        n_chars.alias("len_chars"),
        n_tokens.alias("n_tokens"),
        F.round(punct_ratio, 9).alias("punct_ratio"),
        F.round(stop_ratio, 9).alias("stopword_ratio"),
        F.round(score, 9).alias("quality"),
    )


def token_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Whitespace token count + BPE-ish subword count per row."""
    text = F.col(text_col)
    return df.select(
        "*",
        F.size(word_tokens(text)).alias("n_tokens"),
        F.size(
            F.regexp_extract_all(text, F.lit(SUBWORD_PATTERN), F.lit(0))
        ).alias("n_subwords"),
    )


def fingerprint(df: DataFrame, id_col: str, text_col: str = "text") -> DataFrame:
    """Order-insensitive 60-bit doc fingerprint: bit_xor of token hashes.

    XOR is associative/commutative → partial aggregation map-side; the
    token count disambiguates docs whose XOR collides on repeats.
    """
    tokens = df.select(
        F.col(id_col), F.explode(word_tokens(F.col(text_col))).alias("tok")
    ).where(F.col("tok") != "")
    return tokens.groupBy(id_col).agg(
        F.expr("bit_xor(" + _hash_sql("tok") + ")").alias("fingerprint"),
        F.count("*").alias("n_tokens"),
    )


def _hash_sql(col: str) -> str:
    """SQL text of portable_hash60 for use inside aggregate expressions."""
    return f"CAST(conv(substr(md5({col}),1,15),16,10) AS BIGINT)"


# Structural-repetition symbols counted against the word count (the
# Gopher paper's "symbol-to-word ratio" uses # and ellipsis; * added
# for markdown bullets). Shared with the DuckDB twin.
GOPHER_SYMBOL_PATTERN = "[#*]|\\.\\.\\."


def gopher_quality(
    df: DataFrame,
    text_col: str = "text",
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    max_symbol_word_ratio: float = 0.1,
    max_dup_line_frac: float = 0.3,
) -> DataFrame:
    """Gopher-style structural quality gates (Rae et al. 2021, §A1.1 —
    public paper; the reference has no quality tier, extension op).

    Computes per-document structure features and a single
    ``passes_gopher`` keep flag from the classic bounds: word count in
    [min, max], mean word length in [3, 10], symbol-to-word ratio
    below 0.1, duplicate-line fraction below 0.3.

    All pure Catalyst (regexp_extract_all / higher-order aggregate /
    array_distinct) — one whole-stage-codegen projection, no shuffle,
    no Python; the exact shape a 100 TB corpus pre-filter needs.
    Ratios round to 9 decimals so the DuckDB twin value-matches.
    NULL text is treated as empty (a real corpus always has some):
    zero words, gate fails on the word floor.
    """
    text = F.coalesce(F.col(text_col), F.lit(""))
    words = F.regexp_extract_all(text, F.lit("[A-Za-z]+"), F.lit(0))
    n_words = F.size(words)
    sum_len = F.aggregate(
        words, F.lit(0), lambda acc, w: acc + F.length(w)
    )
    denom_w = F.greatest(n_words, F.lit(1))
    mean_word_len = F.round(sum_len / denom_w, 9)
    lines = F.split(text, "\n")
    n_lines = F.size(lines)
    dup_line_frac = F.round(
        (n_lines - F.size(F.array_distinct(lines)))
        / F.greatest(n_lines, F.lit(1)),
        9,
    )
    n_symbols = F.size(
        F.regexp_extract_all(text, F.lit(GOPHER_SYMBOL_PATTERN), F.lit(0))
    )
    symbol_word_ratio = F.round(n_symbols / denom_w, 9)
    passes = (
        (n_words >= min_words)
        & (n_words <= max_words)
        & (mean_word_len >= min_mean_word_len)
        & (mean_word_len <= max_mean_word_len)
        & (symbol_word_ratio <= max_symbol_word_ratio)
        & (dup_line_frac <= max_dup_line_frac)
    )
    return df.select(
        "*",
        n_words.alias("n_words"),
        mean_word_len.alias("mean_word_len"),
        symbol_word_ratio.alias("symbol_word_ratio"),
        dup_line_frac.alias("dup_line_frac"),
        passes.alias("passes_gopher"),
    )


# PII patterns shared with the DuckDB twin. Both engines' regex
# dialects (Java / RE2) agree on these constructs: literal classes,
# bounded repetition, greedy longest-at-leftmost matches.
EMAIL_PATTERN = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
PHONE_PATTERN = "\\+?[0-9][0-9 ()./-]{6,}[0-9]"


def pii_redact(
    df: DataFrame, text_col: str = "text", out_col: str | None = None
) -> DataFrame:
    """PII scrubbing: replace emails / phone-shaped numbers with
    ``<EMAIL>`` / ``<PHONE>`` placeholders and count the redactions
    (counted on the ORIGINAL text, so the two counts don't interact).

    Extension op (no reference analogue) — the standard scrub pass a
    training-data pipeline runs before tokenization. Pure Catalyst
    ``regexp_replace`` chain in one codegen'd projection; emails are
    replaced first so digit runs inside addresses can't double-match
    as phones. NULL text passes through as empty with zero counts.
    """
    text = F.coalesce(F.col(text_col), F.lit(""))
    out = out_col or f"{text_col}_redacted"
    n_emails = F.size(
        F.regexp_extract_all(text, F.lit(EMAIL_PATTERN), F.lit(0))
    )
    n_phones = F.size(
        F.regexp_extract_all(text, F.lit(PHONE_PATTERN), F.lit(0))
    )
    redacted = F.regexp_replace(
        F.regexp_replace(text, EMAIL_PATTERN, "<EMAIL>"),
        PHONE_PATTERN,
        "<PHONE>",
    )
    return df.select(
        "*",
        n_emails.alias("n_emails"),
        n_phones.alias("n_phones"),
        redacted.alias(out),
    )


def tfidf_top_terms(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
) -> DataFrame:
    """Per-document top-``k`` terms by TF-IDF (keyword extraction):
    (id, rk, term, tf, tfidf) with ``tfidf = tf · ln(N/df)`` rounded
    to 6dp (the ROUNDED score also drives the ranking, so the order is
    reproducible across engines whose libm differs in the last ulp;
    ties break by raw tf desc then term asc).

    Plan: explode → (doc, term) count → per-term document frequency →
    join + scalar-N cross join → bounded row_number window per doc.
    The doc-frequency side is vocabulary-sized — Catalyst picks
    broadcast vs shuffle by its stats rather than a forced hint, since
    a 100 TB corpus vocabulary can exceed broadcast limits.
    """
    from pyspark.sql import Window

    toks = df.select(
        F.col(id_col), F.explode(word_tokens(F.col(text_col))).alias("term")
    ).where(F.col("term") != "")
    tf = toks.groupBy(id_col, "term").agg(F.count("*").alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count("*").alias("df"))
    n = df.select(F.count_distinct(F.col(id_col)).alias("__n"))
    scored = (
        tf.join(dfreq, on="term")
        .crossJoin(F.broadcast(n))
        .select(
            F.col(id_col),
            "term",
            "tf",
            F.round(
                F.col("tf") * F.log(F.col("__n") / F.col("df")), 6
            ).alias("tfidf"),
        )
    )
    w = Window.partitionBy(id_col).orderBy(
        F.desc("tfidf"), F.desc("tf"), F.asc("term")
    )
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= k)
        .select(id_col, "rk", "term", "tf", "tfidf")
    )


def unigram_logprob(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document mean unigram log-probability under the corpus's
    OWN unigram language model — the cheap LM-fluency proxy (the
    CCNet/CC-MAIN filter shape, with the corpus itself as the model):
    gibberish and boilerplate-heavy documents score far below prose
    because their tokens are corpus-rare. Returns
    ``(id, n_toks, avg_logprob)`` with the score rounded to 6dp (the
    same cross-engine libm discipline as ``tfidf_top_terms``).

    Plan: one explode → token-frequency aggregation (vocabulary-sized,
    partial-combined) → join back on token → per-doc avg. The corpus
    total rides a broadcast scalar cross join; Catalyst picks
    broadcast vs shuffle for the frequency join from its stats (a
    100 TB corpus vocabulary can exceed broadcast limits). No Python
    anywhere.
    """
    toks = df.select(
        F.col(id_col), F.explode(word_tokens(F.col(text_col))).alias("tok")
    ).where(F.col("tok") != "")
    freq = toks.groupBy("tok").agg(F.count("*").alias("cnt"))
    total = freq.agg(F.sum("cnt").alias("__total"))
    return (
        toks.join(freq, on="tok")
        .crossJoin(F.broadcast(total))
        .groupBy(id_col)
        .agg(
            F.count("*").alias("n_toks"),
            F.round(
                F.avg(F.log(F.col("cnt") / F.col("__total"))), 6
            ).alias("avg_logprob"),
        )
    )


def chunk_documents(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    chunk_tokens: int = 64,
    overlap_tokens: int = 8,
) -> DataFrame:
    """Sliding-window document chunking — the embedding/RAG
    preparation step: split each document into windows of
    ``chunk_tokens`` tokens with ``overlap_tokens`` overlap between
    consecutive windows (so no boundary context is lost). Returns
    ``(id, chunk_id, n_chunk_toks, chunk_text)``, chunk_id 0-based;
    documents with no tokens are dropped.

    Window count: with ``step = chunk_tokens - overlap_tokens``,
    ``n_chunks = max(1, ceil((n - overlap) / step))`` — one window
    when the document fits, and the final window may be short.

    Plan: tokenize once per document, generate chunk indices with
    ``sequence`` and slice the token array per index — pure Catalyst
    (the ``word_shingles`` machinery generalized to strided windows),
    whole-stage codegen, no UDF, no shuffle at all: chunking is a
    per-row explode, embarrassingly parallel at any corpus size.
    """
    if overlap_tokens >= chunk_tokens:
        raise ValueError("overlap_tokens must be < chunk_tokens")
    step = chunk_tokens - overlap_tokens
    toked = df.select(
        F.col(id_col),
        F.filter(
            word_tokens(F.col(text_col)), lambda t: t != ""
        ).alias("__toks"),
    ).where(F.size("__toks") > 0)
    n = F.size("__toks")
    n_chunks = F.greatest(
        F.lit(1),
        F.ceil((n - F.lit(overlap_tokens)) / F.lit(step)).cast("int"),
    )
    return (
        toked.select(
            F.col(id_col),
            "__toks",
            F.explode(F.sequence(F.lit(0), n_chunks - 1)).alias(
                "chunk_id"
            ),
        )
        .select(
            F.col(id_col),
            "chunk_id",
            F.slice(
                F.col("__toks"),
                F.col("chunk_id") * F.lit(step) + 1,
                F.lit(chunk_tokens),
            ).alias("__chunk"),
        )
        .select(
            F.col(id_col),
            "chunk_id",
            F.size("__chunk").cast("long").alias("n_chunk_toks"),
            F.concat_ws(" ", F.col("__chunk")).alias("chunk_text"),
        )
    )


__all__ = [
    "LANG_MARKERS",
    "SUBWORD_PATTERN",
    "GOPHER_SYMBOL_PATTERN",
    "EMAIL_PATTERN",
    "PHONE_PATTERN",
    "language_id",
    "quality_score",
    "token_stats",
    "fingerprint",
    "gopher_quality",
    "pii_redact",
    "tfidf_top_terms",
    "unigram_logprob",
    "chunk_documents",
    "portable_hash60",
]


def repetition_signals(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    dup2_max: float = 0.6,
    top2_max: float = 0.15,
    dup3_max: float = 0.55,
) -> DataFrame:
    """Gopher-style REPETITION quality filters — the in-document
    signals the structural gates (``gopher_quality``) don't see:
    machine-generated or boilerplate-heavy text repeats itself at the
    n-gram level long before its length/symbol stats look wrong.

    Per document and n ∈ {2, 3} (occurrence-preserving word n-grams):

    - ``dup{n}_frac``: fraction of n-gram OCCURRENCES that are
      repeats — ``(total - distinct) / total``;
    - ``top2_frac``: the single most frequent 2-gram's share of all
      2-gram occurrences (ties resolve identically in both engines
      because only the max COUNT matters).

    Returns ``(id, n2_total, dup2_frac, top2_frac, dup3_frac,
    passes_repetition)`` with fractions rounded 6dp; documents with
    fewer than 2 tokens have no 2-grams and are dropped (nothing to
    measure). The pass flag applies the given thresholds.

    Plan: one tokenize, both n-gram sizes exploded in the SAME pass
    (tagged with ``n``), ONE partial-combined groupBy on
    (id, n, gram) then one on (id, n), pivoted client-free via
    conditional aggregation — two shuffles total, no window, no UDF.
    """
    toked = df.select(F.col(id_col), word_tokens(text_col).alias("__toks"))
    toks = F.col("__toks")

    def grams(n: int):
        cnt = F.size(toks) - (n - 1)
        return F.when(
            cnt >= 1,
            F.transform(
                F.sequence(F.lit(1), cnt),
                lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
            ),
        ).otherwise(F.array().cast("array<string>"))

    tagged = toked.select(
        F.col(id_col),
        F.explode(
            F.concat(
                F.transform(
                    grams(2), lambda g: F.struct(F.lit(2).alias("n"), g.alias("g"))
                ),
                F.transform(
                    grams(3), lambda g: F.struct(F.lit(3).alias("n"), g.alias("g"))
                ),
            )
        ).alias("__t"),
    ).select(F.col(id_col), F.col("__t.n").alias("n"), F.col("__t.g").alias("g"))

    per_gram = tagged.groupBy(id_col, "n", "g").agg(F.count("*").alias("c"))
    # Conditional aggregation straight to the doc level — grouping via
    # an intermediate (id, n) level would add a third exchange, since
    # a hash partitioning on (id, n) doesn't satisfy a groupBy(id).
    is2, is3 = F.col("n") == 2, F.col("n") == 3
    wide = per_gram.groupBy(id_col).agg(
        F.sum(F.when(is2, F.col("c"))).alias("n2_total"),
        F.count(F.when(is2, F.lit(1))).alias("__d2"),
        F.max(F.when(is2, F.col("c"))).alias("__t2"),
        F.sum(F.when(is3, F.col("c"))).alias("__n3"),
        F.count(F.when(is3, F.lit(1))).alias("__d3"),
    )
    dup2 = (F.col("n2_total") - F.col("__d2")) / F.col("n2_total")
    top2 = F.col("__t2") / F.col("n2_total")
    # a 2-token doc has 2-grams but no 3-grams: no repetition measurable
    dup3 = F.coalesce(
        (F.col("__n3") - F.col("__d3")) / F.col("__n3"), F.lit(0.0)
    )
    return (
        wide.where(F.col("n2_total").isNotNull())
        .select(
            F.col(id_col),
            F.col("n2_total").cast("long").alias("n2_total"),
            F.round(dup2, 6).alias("dup2_frac"),
            F.round(top2, 6).alias("top2_frac"),
            F.round(dup3, 6).alias("dup3_frac"),
            (
                (dup2 <= dup2_max)
                & (top2 <= top2_max)
                & (dup3 <= dup3_max)
            ).alias("passes_repetition"),
        )
    )


def bpe_train(
    df: DataFrame,
    merges: int = 3,
    text_col: str = "text",
) -> DataFrame:
    """Distributed BPE tokenizer training (Sennrich et al. 2016) — the
    vocabulary-learning step of an LLM data pipeline, run as ``merges``
    rounds of: count adjacent symbol pairs weighted by word frequency →
    take the argmax pair (ties: count DESC, left ASC, right ASC) →
    greedily merge its leftmost-first occurrences in every word.
    Returns one row per learned merge::

        (round, lhs, rhs, merged, pair_count)

    Word-internal only (no end-of-word marker — documented
    simplification); the merge rewrite is a sequential left fold, so
    overlapping occurrences ("aaa" + merge a+a) collapse
    leftmost-first, and any engine that folds sequentially reproduces
    the vocabulary exactly (q150's DuckDB twin uses ``list_reduce``).

    Scale shape: the corpus collapses to the (word, freq) VOCABULARY
    relation first (one shuffle — corpus size only matters once);
    each round is then one partial-combined pair-count shuffle over
    the vocabulary, a TakeOrdered(1) argmax, and a literal-folded
    codegen rewrite map. The driver sees exactly ONE row per round;
    the plan is re-materialized per round (localCheckpoint) so
    lineage stays O(1) across merges like the PageRank loop.
    """
    with Pins() as pins:
        rows, _ = _bpe_loop(pins, df, merges, text_col)
    return local_relation(df.sparkSession, 
        rows,
        "round INT, lhs STRING, rhs STRING, merged STRING, pair_count BIGINT",
    )


def _bpe_loop(
    pins: Pins, df: DataFrame, merges: int, text_col: str
) -> tuple[list[tuple], DataFrame]:
    """The shared BPE training loop: returns (merge rows, the final
    (word, freq, syms) vocabulary DataFrame, a projection of the last
    round's checkpoint). See ``bpe_train``."""
    if merges < 1:
        raise ValueError(f"bpe_train: merges must be >= 1, got {merges}")
    toks = df.select(
        F.explode(
            F.filter(word_tokens(text_col), lambda x: x != "")
        ).alias("word")
    )
    chars = F.transform(
        F.sequence(F.lit(1), F.length("word")),
        lambda i: F.col("word").substr(i, F.lit(1)),
    )
    words = (
        toks.groupBy("word")
        .agg(F.count("*").alias("freq"))
        .select("word", "freq", chars.alias("syms"))
    )
    out_rows = []
    for rnd in range(1, merges + 1):
        words = pins.truncate(words)
        pairs = F.when(
            F.size("syms") >= 2,
            F.transform(
                F.sequence(F.lit(0), F.size("syms") - 2),
                lambda i: F.struct(
                    F.element_at(F.col("syms"), i + 1).alias("a"),
                    F.element_at(F.col("syms"), i + 2).alias("b"),
                ),
            ),
        ).otherwise(F.array().cast("array<struct<a:string,b:string>>"))
        best = (
            words.select(F.explode(pairs).alias("p"), "freq")
            .groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
            .agg(F.sum("freq").alias("cnt"))
            .orderBy(F.desc("cnt"), F.asc("a"), F.asc("b"))
            .limit(1)
            .collect()
        )
        pins.sweep(words)  # the collect materialized this round's words
        if not best:
            raise ValueError(
                f"bpe_train: no adjacent pairs left at round {rnd}"
            )
        a, b, cnt = best[0]["a"], best[0]["b"], int(best[0]["cnt"])
        out_rows.append((rnd, a, b, a + b, cnt))
        la, lb = F.lit(a), F.lit(b)
        folded = F.aggregate(
            F.col("syms"),
            F.array().cast("array<string>"),
            lambda acc, x: F.when(
                (F.size(acc) > 0)
                & (F.element_at(acc, -1) == la)
                & (x == lb),
                F.concat(
                    F.slice(acc, 1, F.size(acc) - 1),
                    F.array(F.concat(la, lb)),
                ),
            ).otherwise(F.concat(acc, F.array(x))),
        )
        words = words.select("word", "freq", folded.alias("syms"))
    return out_rows, words


def bpe_segment_stats(
    df: DataFrame,
    merges: int = 6,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Tokenizer APPLICATION at corpus scale: learn ``merges`` BPE
    merges (``bpe_train``), then encode every document with the
    resulting vocabulary and report per-document::

        (id_col, n_words, n_chars, n_tokens, chars_per_token)

    — the fertility/compression numbers that decide whether a learned
    vocabulary is good enough for a training run.

    The scale trick: encoding does NOT re-fold per document. The
    trained vocabulary already holds each word's final segmentation,
    so application is one join of the corpus's exploded words against
    the (word, syms) vocabulary — broadcast when the vocab fits, a
    plain shuffle join otherwise — followed by a per-doc sum. Corpus
    text is touched exactly twice (once to build the vocab, once to
    encode), never once per merge round.
    """
    doc_words = df.select(
        F.col(id_col),
        F.explode(
            F.filter(word_tokens(text_col), lambda x: x != "")
        ).alias("word"),
    )
    with Pins() as pins:
        _, vocab = _bpe_loop(pins, df, merges, text_col)
        seg = vocab.select("word", F.size("syms").alias("__ntok"))
        return pins.keep(
            doc_words.join(seg, on="word")
            .groupBy(id_col)
            .agg(
                F.count("*").alias("n_words"),
                F.sum(F.length("word")).alias("n_chars"),
                F.sum("__ntok").alias("n_tokens"),
                (
                    F.sum(F.length("word")) / F.sum("__ntok")
                ).alias("chars_per_token"),
            )
        )


def token_entropy(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document Shannon entropy of the token distribution plus the
    type-token ratio — the repetitiveness / diversity quality signal
    (low entropy = boilerplate or degenerate repetition, a standard
    curation filter alongside the Gopher gates). Returns::

        (id_col, n_tokens, vocab, entropy, ttr)

    with ``entropy = -Σ p_w ln p_w`` over the document's word
    frequencies and ``ttr = vocab / n_tokens``.

    Plan: one explode to (doc, word), one partial-combined count
    shuffle, one per-doc aggregation of ``-p ln p`` — all codegen, no
    window, no Python; empty/whitespace-only documents are dropped by
    the explode (they have no token distribution).
    """
    words = df.select(
        F.col(id_col),
        F.explode(
            F.filter(word_tokens(text_col), lambda x: x != "")
        ).alias("word"),
    )
    counts = words.groupBy(id_col, "word").agg(F.count("*").alias("c"))
    # H = -Σ (c/n) ln(c/n) = ln n − (Σ c ln c)/n — one aggregation
    # carries all three sums, no second pass over the counts
    return (
        counts.groupBy(id_col)
        .agg(
            F.sum("c").alias("n_tokens"),
            F.count("*").cast("long").alias("vocab"),
            F.sum(F.col("c") * F.log("c")).alias("__clogc"),
        )
        .select(
            id_col,
            "n_tokens",
            "vocab",
            (
                F.log("n_tokens")
                - F.col("__clogc") / F.col("n_tokens")
            ).alias("entropy"),
            (F.col("vocab") / F.col("n_tokens")).alias("ttr"),
        )
    )


def bm25_rank(
    df: DataFrame,
    query_terms: list[str],
    id_col: str = "doc_id",
    text_col: str = "text",
    k1: float = 1.2,
    b: float = 0.75,
    top_k: int = 20,
) -> DataFrame:
    """Ranked retrieval: top-``top_k`` documents for a bag-of-words
    query under BM25 (the Lucene/Okapi variant with the non-negative
    ``ln(1 + (N - df + 0.5)/(df + 0.5))`` IDF). Returns
    ``(id, rk, score)`` with the score rounded to 6dp and the ROUNDED
    score driving the ranking (ties break by id asc) — the same
    cross-engine libm discipline as ``tfidf_top_terms``.

    Plan: one explode feeds BOTH the per-doc length relation (full
    corpus, partial-combined count) and the query-term tf relation
    (filtered to the query terms BEFORE the shuffle, so the expensive
    (doc, term) aggregation only sees matching postings). df(t) and
    N ride tiny broadcast relations (≤ |query| rows and one scalar);
    avgdl is a broadcast scalar cross join. The final top-k is a
    TakeOrderedAndProject — no global sort — and the rank window runs
    AFTER the limit, over at most ``top_k`` rows: Spark's
    InferWindowGroupLimit rule skips empty-partition windows
    (verified on 4.1.2), so the round-6 form (row_number over all
    scored docs, then filter) would funnel the whole scored relation
    into one partition at corpus scale. No Python anywhere.
    """
    if not query_terms:
        raise ValueError("bm25_rank: query_terms must be non-empty")
    toks = df.select(
        F.col(id_col), F.explode(word_tokens(F.col(text_col))).alias("term")
    ).where(F.col("term") != "")
    doclen = toks.groupBy(id_col).agg(F.count("*").alias("dl"))
    avgdl = doclen.agg(F.avg("dl").alias("__avgdl"))
    n = df.agg(F.count("*").alias("__n"))
    qtf = (
        toks.where(F.col("term").isin(list(query_terms)))
        .groupBy(id_col, "term")
        .agg(F.count("*").alias("tf"))
    )
    # (id, term) is the grain of qtf, so df(t) is a plain count
    dfreq = qtf.groupBy("term").agg(F.count("*").alias("df"))
    scored = (
        qtf.join(F.broadcast(dfreq), on="term")
        .join(doclen, on=id_col)
        .crossJoin(F.broadcast(n))
        .crossJoin(F.broadcast(avgdl))
        .groupBy(id_col)
        .agg(
            F.round(
                F.sum(
                    F.log(
                        1.0
                        + (F.col("__n") - F.col("df") + 0.5)
                        / (F.col("df") + 0.5)
                    )
                    * (F.col("tf") * (k1 + 1.0))
                    / (
                        F.col("tf")
                        + k1
                        * (1.0 - b + b * F.col("dl") / F.col("__avgdl"))
                    )
                ),
                6,
            ).alias("score")
        )
    )
    from pyspark.sql import Window

    topped = scored.orderBy(F.desc("score"), F.asc(id_col)).limit(top_k)
    w = Window.orderBy(F.desc("score"), F.asc(id_col))
    return (
        topped.withColumn("rk", F.row_number().over(w))
        .select(id_col, "rk", "score")
    )


def bigram_logprob(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    lam: float = 0.75,
) -> DataFrame:
    """Per-document mean log-probability under an interpolated bigram
    language model trained on the corpus itself — the step up from
    ``unigram_logprob`` that penalizes improbable word ORDER, not just
    rare words::

        p(w2 | w1) = lam · c(w1,w2)/c(w1) + (1-lam) · c(w2)/T

    with unigram counts c(·) and corpus token total T. Returns
    ``(id, n_bigrams, avg_logprob)`` rounded to 6dp; documents with
    fewer than two tokens have no bigram and are dropped.

    Plan: one posexplode to (doc, pos, word); adjacent pairs come
    from a per-doc window ``lead`` (partition by doc — bounded state,
    no self-join); bigram and unigram counts are partial-combined
    aggregations; both count relations join back by key (Catalyst
    picks broadcast vs shuffle from stats — a 100 TB corpus bigram
    table can exceed broadcast limits); T rides one broadcast scalar.
    """
    from pyspark.sql import Window

    toks = df.select(
        F.col(id_col),
        F.posexplode(
            F.filter(word_tokens(text_col), lambda x: x != "")
        ).alias("pos", "w1"),
    )
    w = Window.partitionBy(id_col).orderBy("pos")
    bigrams = toks.withColumn("w2", F.lead("w1").over(w)).where(
        F.col("w2").isNotNull()
    )
    uni = toks.groupBy(F.col("w1").alias("w")).agg(
        F.count("*").alias("c1")
    )
    total = uni.agg(F.sum("c1").cast("double").alias("__t"))
    bi = bigrams.groupBy("w1", "w2").agg(F.count("*").alias("c12"))
    return (
        bigrams.select(id_col, "w1", "w2")
        .join(bi, on=["w1", "w2"])
        .join(uni.withColumnRenamed("w", "w1"), on="w1")
        .join(
            uni.select(
                F.col("w").alias("w2"), F.col("c1").alias("c2")
            ),
            on="w2",
        )
        .crossJoin(F.broadcast(total))
        .groupBy(id_col)
        .agg(
            F.count("*").alias("n_bigrams"),
            F.round(
                F.avg(
                    F.log(
                        lam * F.col("c12") / F.col("c1")
                        + (1.0 - lam) * F.col("c2") / F.col("__t")
                    )
                ),
                6,
            ).alias("avg_logprob"),
        )
    )


def zipf_slope(
    df: DataFrame,
    text_col: str = "text",
    top_n: int = 1000,
) -> DataFrame:
    """Zipf's-law fit over the corpus unigram distribution: the
    least-squares slope of ``ln(freq) ~ ln(rank)`` across the top
    ``top_n`` terms (natural text sits near -1; a slope far off is
    the classic synthetic/spam corpus tell — a one-row corpus health
    gate). Returns ONE row ``(n_terms, slope, intercept)`` rounded to
    6dp.

    Scale shape: the corpus collapses to the (term, freq) relation in
    one partial-combined shuffle; the top-N cut is a
    TakeOrderedAndProject (never a global sort — and never a global
    row_number window over the full vocabulary: InferWindowGroupLimit
    skips empty-partition windows, the q171 lesson); ranking and the
    ``regr_slope``/``regr_intercept`` fit then run over ≤ top_n rows.
    Ranks tie-break by term asc, so the fit is engine-exact.
    """
    from pyspark.sql import Window

    tf = (
        df.select(F.explode(word_tokens(F.col(text_col))).alias("term"))
        .where(F.col("term") != "")
        .groupBy("term")
        .agg(F.count("*").alias("freq"))
    )
    top = tf.orderBy(F.desc("freq"), F.asc("term")).limit(top_n)
    w = Window.orderBy(F.desc("freq"), F.asc("term"))
    ranked = top.withColumn("rk", F.row_number().over(w))
    return ranked.agg(
        F.count("*").cast("long").alias("n_terms"),
        F.round(
            F.expr("regr_slope(ln(freq), ln(rk))"), 6
        ).alias("slope"),
        F.round(
            F.expr("regr_intercept(ln(freq), ln(rk))"), 6
        ).alias("intercept"),
    )


def word_pmi_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    window: int = 2,
    min_count: int = 10,
) -> DataFrame:
    """Pointwise mutual information of word pairs co-occurring within
    a token window — the distributional-semantics signal behind
    word-embedding objectives (SGNS factorizes a shifted PMI matrix;
    Levy & Goldberg 2014) and a collocation detector for phrase
    mining. A pair is one occurrence of tokens ``k`` positions apart
    (1 ≤ k ≤ window) in the same document, normalized to unordered
    ``(term_a ≤ term_b)``; with ``P`` total pair occurrences, ``T``
    total tokens, ``c_ab/c_a/c_b`` the respective counts::

        pmi = ln( (c_ab / P) / ((c_a / T) · (c_b / T)) )

    Returns ``(term_a, term_b, pair_count, pmi)`` for pairs with
    ``pair_count ≥ min_count``.

    Scale shape: ONE tokenization (``posexplode``, corpus-token
    linear) feeds ONE per-document window that attaches the next
    ``window`` tokens via ``lead`` — a single corpus exchange on the
    doc id with per-doc sorts (documents are small; a self-join on
    ``(doc, pos + k)`` would tokenize the corpus once per consumer
    and shuffle twice). Unigram counts, pair counts, and both scalars
    all derive from that one windowed relation; the scalars fold from
    the vocabulary/pair-space relations, never a second corpus pass.
    No Python, no global windows.
    """
    if window < 1:
        raise ValueError(f"word_pmi_pairs: window >= 1, got {window}")
    from pyspark.sql import Window

    toks = df.select(
        F.col(id_col).alias("__id"),
        F.posexplode(word_tokens(F.col(text_col))).alias("pos", "term"),
    ).where(F.col("term") != "")
    w = Window.partitionBy("__id").orderBy("pos")
    nexts = toks.select(
        "term",
        F.array(
            *[F.lead("term", k).over(w) for k in range(1, window + 1)]
        ).alias("__nxt"),
    )
    uni = nexts.groupBy("term").agg(F.count("*").alias("__c"))
    t_rel = uni.agg(F.sum("__c").cast("double").alias("__t"))
    pairs = (
        nexts.select(
            F.col("term").alias("__ta"),
            F.explode("__nxt").alias("__tb"),
        )
        .where(F.col("__tb").isNotNull())
        .select(
            F.least("__ta", "__tb").alias("term_a"),
            F.greatest("__ta", "__tb").alias("term_b"),
        )
        .groupBy("term_a", "term_b")
        .agg(F.count("*").alias("pair_count"))
    )
    p_rel = pairs.agg(F.sum("pair_count").cast("double").alias("__p"))
    ca = uni.select(F.col("term").alias("term_a"), F.col("__c").alias("__ca"))
    cb = uni.select(F.col("term").alias("term_b"), F.col("__c").alias("__cb"))
    return (
        pairs.where(F.col("pair_count") >= min_count)
        .join(ca, on="term_a")
        .join(cb, on="term_b")
        .crossJoin(F.broadcast(t_rel))
        .crossJoin(F.broadcast(p_rel))
        .select(
            "term_a",
            "term_b",
            "pair_count",
            F.round(
                F.log(
                    (F.col("pair_count") / F.col("__p"))
                    / ((F.col("__ca") / F.col("__t")) * (F.col("__cb") / F.col("__t")))
                ),
                6,
            ).alias("pmi"),
        )
    )


def feature_hash(
    df: DataFrame,
    cols: list[str],
    n_features: int = 1024,
    id_col: str = "doc_id",
) -> DataFrame:
    """The hashing trick: map arbitrary categorical columns into a
    fixed ``n_features``-dimensional sparse feature space with a
    portable hash — the memoryless alternative to a fitted vocabulary
    (no dictionary to build, ship, or version-skew; Weinberger 2009).
    Each (column, value) pair hashes once with
    ``h = portable_hash60(col || '=' || value)``; the LOW bit gives
    the ±1 sign (the signed variant that keeps collisions unbiased)
    and ``(h >> 1) % n_features`` the index — pure integer bit
    arithmetic, so any engine reproduces it exactly for any
    ``n_features``. Returns the sparse long form
    ``(id, feature_index, feature_value)`` — collisions within a row
    SUM, matching scikit-learn's FeatureHasher semantics.

    Scale shape: a per-row explode over the (tiny) column list and one
    partial-combined aggregation on ``(id, index)``. No vocabulary
    relation at all — the entire point at 100 TB.
    """
    if n_features < 1:
        raise ValueError(f"feature_hash: n_features >= 1, got {n_features}")
    entries = F.explode(
        F.array(
            *[
                F.concat(F.lit(c + "="), F.col(c).cast("string"))
                for c in cols
            ]
        )
    )
    h = portable_hash60(F.col("__kv"))
    return (
        df.select(F.col(id_col), entries.alias("__kv"))
        .where(F.col("__kv").isNotNull())
        .select(
            id_col,
            (F.shiftright(h, 1) % F.lit(n_features)).alias("feature_index"),
            F.when(
                h.bitwiseAND(F.lit(1)) == 0, F.lit(1.0)
            ).otherwise(F.lit(-1.0)).alias("__sign"),
        )
        .groupBy(id_col, "feature_index")
        .agg(F.sum("__sign").alias("feature_value"))
    )



def word_skipgram_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    window: int = 2,
    min_count: int = 1,
) -> DataFrame:
    """Directed word co-occurrence pairs ``(center, context, cnt)``
    within a token window — the TEXT-side counterpart of the walk
    corpus' ``skipgram_pairs`` (graph/walks.py), emitting exactly the
    relation :func:`~pagerank_spark.graph.embeddings.sgns_train`
    consumes, with WORDS as nodes (string node ids flow through the
    trainer's hash init and the q170 negative sampler unchanged). A
    pair is one occurrence of ``context`` 1..window positions after
    OR before ``center`` in the same document — i.e. every forward
    occurrence contributes both directions, so ``cnt`` is symmetric.
    ``min_count`` drops rare pairs (vocabulary hygiene at corpus
    scale: the distinct-pair relation is what bounds every SGNS
    round's join inputs).

    Plan: the q160 offset-fan-out equi-join, partitioned by document
    — positions from ONE tokenization scan, a constant ``window``-way
    fan-out on the center side, one hash join on (doc, position), one
    partial-combined count. No window functions, no Python, no
    per-doc cross join.
    """
    if window < 1:
        raise ValueError(
            f"word_skipgram_pairs: window >= 1, got {window}"
        )
    if min_count < 1:
        raise ValueError(
            f"word_skipgram_pairs: min_count >= 1, got {min_count}"
        )
    toks = df.select(
        F.col(id_col).alias("__id"),
        F.posexplode(word_tokens(F.col(text_col))).alias("pos", "term"),
    ).where(F.col("term") != "")
    centers = toks.select(
        "__id",
        F.col("term").alias("center"),
        F.explode(
            F.array(*[F.lit(k) for k in range(1, window + 1)])
        ).alias("__k"),
        F.col("pos"),
    ).select(
        "__id", "center", (F.col("pos") + F.col("__k")).alias("__j")
    )
    fwd = centers.join(
        toks.select(
            "__id", F.col("pos").alias("__j"), F.col("term").alias("context")
        ),
        on=["__id", "__j"],
    ).select("center", "context")
    directed = fwd.unionByName(
        fwd.select(
            F.col("context").alias("center"), F.col("center").alias("context")
        )
    )
    out = directed.groupBy("center", "context").agg(
        F.count("*").alias("cnt")
    )
    if min_count > 1:
        out = out.where(F.col("cnt") >= min_count)
    return out
