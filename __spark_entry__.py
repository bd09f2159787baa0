"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs each
``queries()[name]`` at sf=0.01 and compares it against the matching
``oracle_sql()[name]`` via DuckDB (row-count + schema + order-insensitive
value-hash → CORRECTNESS_r{N}.json).

Graph queries derive a deterministic edge table from ``lineitem``
(``l_orderkey % 4096 → l_partkey % 4096``) so the Spark plan and the
DuckDB oracle compute over identical inputs — the fixture set has no
edge parquet, and this derivation is expressible verbatim in both
engines. The derived graph is a multigraph with duplicate edges (which
Q4's duplicate report and the bag-semantics PageRank twin exercise).

Floats are explicitly ROUND()ed on BOTH sides before hashing; counts are
cast to BIGINT on both sides (DuckDB's SUM(int) is HUGEINT, Spark's
size() is INT — casts align the schemas).
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

# The driver may load this module from an arbitrary cwd — make the
# package importable regardless.
_REPO = os.path.dirname(os.path.abspath(__file__))
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from pagerank_spark.graph.pagerank import degrees, pagerank, top_k, vertices
from pagerank_spark.io import load_table
from pagerank_spark.session import local_relation
from pagerank_spark.operators import dedup, relational, similarity, text

# ---------------------------------------------------------------------------
# Shared derivations (identical in Spark and the DuckDB oracle SQL)

EDGE_MOD = 4096

# DuckDB CTE prefix shared by every graph oracle query.
SQL_EDGES = f"""
WITH edges AS (
  SELECT CAST(l_orderkey % {EDGE_MOD} AS BIGINT) AS src,
         CAST(l_partkey % {EDGE_MOD} AS BIGINT) AS dst
  FROM lineitem
),
deg AS (
  SELECT src, CAST(COUNT(*) AS BIGINT) AS deg FROM edges GROUP BY src
),
nodes AS (
  SELECT DISTINCT node FROM (
    SELECT src AS node FROM edges UNION ALL SELECT dst AS node FROM edges
  )
)
"""


def _edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.select(
        (F.col("l_orderkey") % EDGE_MOD).cast("long").alias("src"),
        (F.col("l_partkey") % EDGE_MOD).cast("long").alias("dst"),
    )


def _degrees(spark: SparkSession, sf_dir: str) -> DataFrame:
    return degrees(_edges(spark, sf_dir))


def _top20_nodes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 sources by out-degree (deg desc, src asc) — the membership
    set for the induced-subgraph query, mirroring the reference's top-20
    graph viz (streamlit-pagerank.py:321-346)."""
    return (
        _degrees(spark, sf_dir)
        .orderBy(F.desc("deg"), F.asc("src"))
        .limit(20)
        .select(F.col("src").alias("node"))
    )


SQL_TOP20 = """
top20 AS (
  SELECT src AS node FROM deg ORDER BY deg DESC, src ASC LIMIT 20
)
"""


# ---------------------------------------------------------------------------
# Graph relational queries (Q1-Q17 of FIXTURES.md §4)


def q01_edge_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2/P2/A5: scan + cast + global aggregates."""
    e = _edges(spark, sf_dir)
    return e.agg(
        F.count("*").alias("n_edges"),
        F.min("src").alias("min_src"),
        F.max("src").alias("max_src"),
        F.min("dst").alias("min_dst"),
        F.max("dst").alias("max_dst"),
    )


def q02_distinct_nodes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U1/A1: distinct vertex set from the union of both endpoints."""
    v = vertices(_edges(spark, sf_dir))
    return v.agg(
        F.count("*").alias("n_nodes"),
        F.min("node").alias("min_node"),
        F.max("node").alias("max_node"),
    )


def q03_out_degree_top20(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2/O2/O3: out-degree per source, top-20 (TakeOrderedAndProject)."""
    return _degrees(spark, sf_dir).orderBy(F.desc("deg"), F.asc("src")).limit(20)


def q04_duplicate_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A7/P3: duplicate-row report (reference pageRank.py:59-63)."""
    return relational.duplicate_rows_report(_edges(spark, sf_dir), ["src", "dst"])


def q05_subset_sorted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P3/P4-surrogate/O1: deterministic subset (no RNG sampling in oracle
    paths — SURVEY §5.3)."""
    return _edges(spark, sf_dir).where(F.col("src") % 20 == 0)


def q06_contribution_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1/A4/F2: one PageRank power-step kernel — edges ⋈ degrees ⋈
    uniform ranks, contribution-summed per destination."""
    e = _edges(spark, sf_dir)
    n = vertices(e).count()
    d = degrees(e)
    return (
        e.join(d, on="src")
        .select(
            F.col("dst").alias("node"),
            (F.lit(0.85) * (F.lit(1.0) / F.lit(n)) / F.col("deg")).alias("c"),
        )
        .groupBy("node")
        .agg(F.round(F.sum("c"), 12).alias("contrib"))
    )


def q07_rank_diff_l1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2/A6/F1: L1 distance between two rank assignments (uniform vs
    in-degree-proportional) joined on node."""
    e = _edges(spark, sf_dir)
    v = vertices(e)
    n = v.count()
    n_edges = e.count()
    in_deg = e.groupBy(F.col("dst").alias("node")).agg(
        F.count("*").alias("in_deg")
    )
    joined = v.join(in_deg, on="node", how="left").select(
        "node",
        (F.lit(1.0) / F.lit(n)).alias("r1"),
        (F.coalesce(F.col("in_deg"), F.lit(0)) / F.lit(n_edges)).alias("r2"),
    )
    return joined.agg(
        F.round(F.sum(F.abs(F.col("r1") - F.col("r2"))), 9).alias("l1")
    )


def q08_induced_subgraph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3/U3: edges with BOTH endpoints in the top-20 degree set."""
    e = _edges(spark, sf_dir)
    return relational.induced_subgraph(e, _top20_nodes(spark, sf_dir))


def q09_positions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1/P5: top-50 positions — TakeOrdered FIRST, then number.

    ``orderBy().limit(50)`` plans as TakeOrderedAndProject (per-partition
    top-k + driver merge of 50·P rows); the global row_number window then
    sorts only the bounded 50-row result. Numbering the FULL degree table
    and filtering afterwards would funnel every row through one window
    partition — the single-partition sort that dies at 100× scale.
    """
    top50 = (
        _degrees(spark, sf_dir)
        .orderBy(F.desc("deg"), F.asc("src"))
        .limit(50)
    )
    pos = relational.with_position(top50, order_col="deg", tiebreak_col="src")
    return pos.select(
        "src", "deg", F.col("position").cast("long").alias("position")
    )


def q10_positional_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J4: positional comparison of the out-degree vs in-degree orderings.

    Each ordering is bounded with TakeOrdered (limit 30) BEFORE the
    row_number window, so the global sort touches 30 rows per side
    instead of the full vertex set (same results — row_number over the
    same order on the top-30 prefix).
    """
    e = _edges(spark, sf_dir)
    out30 = (
        degrees(e)
        .select(F.col("src").alias("node"), F.col("deg"))
        .orderBy(F.desc("deg"), F.asc("node"))
        .limit(30)
    )
    in30 = (
        e.groupBy(F.col("dst").alias("node"))
        .agg(F.count("*").alias("deg"))
        .orderBy(F.desc("deg"), F.asc("node"))
        .limit(30)
    )
    out_rank = relational.with_position(out30, order_col="deg", tiebreak_col="node")
    in_rank = relational.with_position(in30, order_col="deg", tiebreak_col="node")
    cmp = relational.positional_compare([out_rank, in_rank], value_col="node")
    return cmp.select(
        F.col("position").cast("long").alias("position"),
        "node_0",
        "node_1",
        "all_match",
    )


def q13_degree_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A8: exact interpolated quantiles of the out-degree distribution."""
    q = relational.score_quantiles(_degrees(spark, sf_dir), "deg")
    return q.select(
        F.round("p25", 6).alias("p25"),
        F.round("p50", 6).alias("p50"),
        F.round("p75", 6).alias("p75"),
    )


def q14_formatted_top100(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K2/F3/O2/O3: '[page] [score]' formatted lines of the top-100."""
    top = _degrees(spark, sf_dir).orderBy(F.desc("deg"), F.asc("src")).limit(100)
    return top.select(
        F.format_string("[%d] [%d]", F.col("src"), F.col("deg")).alias("line")
    )


def q15_pagerank_2iter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G1-G3: two full power-step+renormalization iterations of the real
    engine loop, hash-checked against a pure-SQL twin of the same algebra
    (analytic dangling-mass correction included)."""
    res = pagerank(
        _edges(spark, sf_dir), beta=0.85, delta=0.0, max_iterations=2
    )
    out = res.ranks.select("node", F.round("rank", 9).alias("rank"))
    return out


def q16_adjacency_lists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3: per-source sorted destination list (as a string so the hash is
    representation-stable across engines)."""
    adj = relational.adjacency_lists(_edges(spark, sf_dir))
    return adj.select(
        "src",
        F.concat_ws(
            ",", F.transform(F.col("dsts"), lambda x: x.cast("string"))
        ).alias("dsts"),
        "deg",
    )


def q17_node_intersection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U2: sources ∩ destinations (relational INTERSECT, set semantics)."""
    e = _edges(spark, sf_dir)
    return relational.node_intersection(
        e.select(F.col("src").alias("node")), e.select(F.col("dst").alias("node"))
    )


# ---------------------------------------------------------------------------
# Star-schema relational queries (Q11, Q12, Q18, Q19, Q30)


def q11_lineitem_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: grouped sums/avgs over lineitem."""
    li = load_table(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(disc_price), 2).alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


def q12_customer_nation_region(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-join with small-dimension broadcasts: customers per nation in
    one region."""
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    return (
        c.join(
            F.broadcast(n), c["c_nationkey"] == n["n_nationkey"]
        )
        .join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"])
        .where(F.col("r_name") == "ASIA")
        .groupBy("n_name")
        .agg(
            F.count("*").alias("n_customers"),
            F.round(F.sum("c_acctbal"), 2).alias("sum_acctbal"),
        )
    )


def q18_top_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact⋈dim revenue top-10 (broadcast dim, TakeOrdered top-k)."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    return (
        o.join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        .groupBy("c_custkey", "c_name")
        .agg(
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
            F.count("*").alias("n_orders"),
        )
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(10)
    )


def q19_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON access over events.props (extension tier, SURVEY §2.8)."""
    ev = load_table(spark, sf_dir, "events")
    k = F.get_json_object(F.col("props"), "$.k").cast("long")
    return (
        ev.groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(k).alias("sum_k"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
    )


def q42_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global triangle count on the derived graph (two equi-joins over
    canonical undirected edges)."""
    from pagerank_spark.graph.components import triangle_count

    return triangle_count(_edges(spark, sf_dir))


def q41_connected_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iterative min-label propagation connected components on a sparse
    order⋈part bipartite graph, hash-checked against a DuckDB recursive
    transitive-closure CTE (sparse subset keeps both sides fast; the
    denser sf0.01 graph cross-checked at 340 components during dev)."""
    from pagerank_spark.graph.components import connected_components

    li = load_table(spark, sf_dir, "lineitem")
    edges = li.where(
        (F.col("l_linenumber") == 1) & (F.col("l_orderkey") % 8 == 0)
    ).select(
        (F.col("l_orderkey") + 1_000_000).cast("long").alias("src"),
        F.col("l_partkey").cast("long").alias("dst"),
    )
    return connected_components(edges)


def q39_revenue_per_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: five-table join (fact ⋈ fact ⋈ three broadcast
    dims) with region filter pushed to the smallest dimension."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    return (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"])
        .where(F.col("r_name") == "ASIA")
        .groupBy("n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))),
                2,
            ).alias("revenue"),
            F.count("*").alias("n_items"),
        )
    )


def q40_moving_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window frames (rowsBetween): 7-day trailing average of daily
    order revenue — the lag/lead/frame family SURVEY §2.5 noted as
    native-when-needed."""
    from pyspark.sql import Window

    o = load_table(spark, sf_dir, "orders")
    daily = (
        o.select(
            F.datediff(F.to_date("o_orderdate"), F.lit("1970-01-01").cast("date"))
            .alias("day"),
            "o_totalprice",
        )
        .groupBy("day")
        .agg(F.sum("o_totalprice").alias("rev"))
    )
    w = Window.orderBy("day").rowsBetween(-6, 0)
    return daily.select(
        "day",
        F.round("rev", 2).alias("revenue"),
        F.round(F.avg("rev").over(w), 4).alias("trailing_avg_7d"),
    )


def q38_rollup_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP subtotals (grouping-sets family — beyond the reference's
    surface, native to both engines): order totals by (priority, status),
    per-priority subtotals, and a grand total."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.rollup("o_orderpriority", "o_orderstatus")
        .agg(
            F.count("*").alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
        )
    )


def q30_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-time tumbling 1-hour window counts (batch twin of the
    streaming aggregation in pagerank_spark.streaming)."""
    from pagerank_spark.streaming import tumbling_window_agg

    ev = load_table(spark, sf_dir, "events")
    return tumbling_window_agg(ev)


# ---------------------------------------------------------------------------
# LLM-pipeline tier: documents / embeddings


def q20_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    stats = text.token_stats(docs)
    return stats.select(
        "doc_id",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.col("n_subwords").cast("long").alias("n_subwords"),
    )


def q21_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return text.fingerprint(docs, "doc_id")


def q22_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return text.language_id(docs).select("doc_id", "pred_lang")


def q23_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    q = text.quality_score(docs)
    return q.select(
        "doc_id",
        F.col("len_chars").cast("long").alias("len_chars"),
        F.col("n_tokens").cast("long").alias("n_tokens"),
        "punct_ratio",
        "stopword_ratio",
        "quality",
    )


def q24_exact_dedup_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return dedup.exact_dedup_stats(docs, "text")


def q25_exact_dedup_keepfirst(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return dedup.exact_dedup(docs, ["text"], "doc_id").select("doc_id")


def q26_token_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact token-set (unigram) Jaccard, verified over MinHash-LSH
    banded candidates — the bounded-pair plan q187 moved to in round 9
    (this query declared the raw uncapped inverted-index self-join
    through round 9; the same F²-per-hot-shingle hazard applied, so it
    now exercises ``minhash_neardup_pairs`` at n=1, the unigram
    complement of q27's trigram pipeline). The exhaustive self-join
    stays available via ``jaccard_pairs(max_doc_freq=...)`` and its
    growth is measured in PAIR_PROBE.json."""
    docs = load_table(spark, sf_dir, "documents").where(F.col("doc_id") % 5 == 0)
    pairs = dedup.minhash_neardup_pairs(
        docs, "doc_id", "text", n=1, threshold=0.5
    )
    return pairs.select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))


def q27_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup pipeline end-to-end (md5-based portable hash
    family — the DuckDB twin reproduces signatures, banding, and the
    Jaccard verification exactly)."""
    docs = load_table(spark, sf_dir, "documents").where(F.col("doc_id") % 5 == 0)
    pairs = dedup.minhash_neardup_pairs(
        docs, "doc_id", "text", n=3, threshold=0.5
    )
    return pairs.select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))


def q28_ann_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-5 neighbors for a deterministic query subset."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries_df = emb.where(F.col("vec_id") % 50 == 0)
    out = similarity.ann_topk_bruteforce(emb, queries_df, k=5)
    return out.select(
        "query_id", "nb_id", "cos", F.col("rank").cast("long").alias("rank")
    )


def q29_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pairs via the LSH SCALE path (no crossJoin).

    ``bruteforce_limit=0`` forces the hyperplane-LSH bucketed plan —
    candidates from an equi-join on (band, bucket), then exact cosine
    verification — the plan a 100 TB run uses. The DuckDB twin
    reproduces the deterministic LCG hyperplanes as literals, so the
    bucketing (and therefore the result) matches exactly.
    """
    emb = load_table(spark, sf_dir, "embeddings").where(F.col("vec_id") % 10 == 0)
    pairs = dedup.embedding_neardup_pairs(
        emb, threshold=0.5, bruteforce_limit=0, dim=64
    )
    return pairs.select("id_a", "id_b", F.round("cos", 6).alias("cos"))


def q56_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed approximate top-5 — the ANN scale path.

    Candidates come only from shared (band, bucket) keys; the oracle
    twin materializes the same deterministic hyperplanes, so recall
    differences vs exact search cancel out and the comparison is exact.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    queries_df = emb.where(F.col("vec_id") % 50 == 0)
    out = similarity.ann_lsh(emb, queries_df, dim=64, k=5)
    return out.select(
        "query_id", "nb_id", "cos", F.col("rank").cast("long").alias("rank")
    )


def q37_user_running_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of the applyInPandasWithState running-stats operator —
    verifies the Arrow-batched Python fold against plain SQL aggregation."""
    from pagerank_spark.streaming.stateful import running_user_stats_batch

    ev = load_table(spark, sf_dir, "events")
    return running_user_stats_batch(ev)


def q36_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF approximate top-k, hash-exact against a pure-SQL twin: the
    refine-free codebook (first-16-by-id seeds) makes the whole
    assign→probe→rank pipeline engine-reproducible (SURVEY §5.3
    determinism rule). Narrow probe (n_probe=2) on a wider query set
    than q73's 4-probe variant. The Lloyd-refined codebook path stays
    covered by the pytest recall test (float mean-reduction order isn't
    reproducible across engines, so it cannot be hashed)."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries_df = emb.where(F.col("vec_id") % 25 == 0)
    return similarity.ann_ivf(
        emb, queries_df, k=5, n_centroids=16, n_probe=2, refine=0
    ).select(
        "query_id", "nb_id", "cos", F.col("rank").cast("long").alias("rank")
    )


def q35_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (lag + running-sum window plan) — the
    batch twin of the streaming session_window aggregation."""
    from pagerank_spark.streaming import sessionize

    ev = load_table(spark, sf_dir, "events")
    return sessionize(ev, gap="30 minutes")


def q34_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding 1h/30m event-time windows (each event lands in exactly 2
    windows); the DuckDB twin expands the two aligned window starts per
    event explicitly."""
    from pagerank_spark.streaming import sliding_window_agg

    ev = load_table(spark, sf_dir, "events")
    return sliding_window_agg(ev, window="1 hour", slide="30 minutes")


def q33_compare_teleports(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G5 parameter sweep (reference README-only compare_teleports),
    hash-exact: the declared variant runs a FIXED 2 iterations per β
    (SURVEY §5.3 deterministic rule for iterative results) and ranks on
    9-decimal-rounded scores, so the DuckDB twin reproduces the full
    sweep — two q15-style power-step expansions positionally joined.
    The full-convergence sweep (δ=1e-5) stays pinned by the pytest
    sweep-shape test and the golden WikiData run."""
    from pagerank_spark.graph.pagerank import compare_teleports

    out = compare_teleports(
        _edges(spark, sf_dir),
        betas=(0.80, 0.85),
        k=20,
        delta=0.0,
        max_iterations=2,
    )
    return out.select(
        F.col("position").cast("long").alias("position"),
        "page_0_8",
        "page_0_85",
        "all_match",
    )


def q32_multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary media decode via Arrow-batched mapInPandas (documents text
    bytes standing in for encoded media payloads): the Python batch path
    itself is what the oracle verifies (size + md5 digest per payload)."""
    from pagerank_spark.operators import multimodal

    docs = load_table(spark, sf_dir, "documents")
    media = multimodal.documents_as_media(docs)
    return multimodal.decode_media(media).select(
        "media_id", "kind", "n_bytes", "digest"
    )


def q31_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs, fully oracled: the 60-bit vote-sum
    fingerprint builds from the portable md5 hash family, so the DuckDB
    twin reproduces it bit-for-bit (bits from range(60), votes by
    ``(th >> bit) & 1``, bands by shift/mask, verify by
    ``bit_count(xor)``)."""
    docs = load_table(spark, sf_dir, "documents").where(F.col("doc_id") % 5 == 0)
    pairs = dedup.simhash_neardup_pairs(docs, "doc_id", "text", max_hamming=3)
    return pairs.select(
        "id_a", "id_b", F.col("hamming").cast("long").alias("hamming")
    )


# ---------------------------------------------------------------------------
# Driver contract


def q43_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extension: backward as-of join — each purchase event paired with
    the user's latest preceding (or simultaneous) click. Spark side is
    the union-marker single-shuffle plan (operators.relational.asof_join);
    the DuckDB twin uses its native ASOF LEFT JOIN."""
    ev = load_table(spark, sf_dir, "events")
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "user_id", "ts", "event_id"
    )
    clicks = ev.where(F.col("event_type") == "click").select(
        "user_id", "ts", "value"
    )
    out = relational.asof_join(
        purchases, clicks, on="user_id", value_cols=["value"]
    )
    return out.select(
        "event_id",
        "user_id",
        F.unix_timestamp("ts").cast("long").alias("ep"),
        F.unix_timestamp("ts_asof").cast("long").alias("click_ep"),
        F.round("value_asof", 2).alias("click_value"),
    )


def q44_customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anti join (left_anti — SURVEY §2.3 noted as native-when-needed):
    customers that never placed an order. One shuffle pair on the key;
    Catalyst rewrites NOT EXISTS to the same plan."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    return c.join(
        o.select(F.col("o_custkey").alias("c_custkey")),
        on="c_custkey",
        how="left_anti",
    ).select("c_custkey", "c_mktsegment")


def q45_cube_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over (status, priority) — the grouping-sets family beyond
    the reference's surface (rollup is q38). Null group keys are
    COALESCEd to a sentinel on both sides so the hash is stable."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.cube("o_orderstatus", "o_orderpriority")
        .agg(
            F.count("*").alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
        )
        .select(
            F.coalesce("o_orderstatus", F.lit("ALL")).alias("status"),
            F.coalesce("o_orderpriority", F.lit("ALL")).alias("priority"),
            "n_orders",
            "revenue",
        )
    )


def q46_lag_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lag/lead over per-user event-time order (SURVEY §2.5 noted as
    native-when-needed): value delta vs the previous event and the next
    event's type. Deterministic subset via user_id % 10 (no RNG)."""
    ev = load_table(spark, sf_dir, "events").where(
        F.col("user_id") % 10 == 0
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return ev.select(
        "event_id",
        "user_id",
        F.round(F.col("value") - F.lag("value").over(w), 2).alias(
            "delta_prev"
        ),
        F.lead("event_type").over(w).alias("next_type"),
    )


def q47_ntile_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ntile(4) balance quartiles WITHIN each market segment, then
    per-(segment, quartile) stats. The window partitions on the
    segment, so each sort is per-partition — no global single-partition
    sort (the round-2 perf-weak global form); segment cardinality
    bounds parallelism exactly like any grouped aggregate."""
    c = load_table(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy("c_acctbal", "c_custkey")
    return (
        c.select(
            "c_mktsegment",
            F.ntile(4).over(w).alias("quartile"),
            "c_acctbal",
        )
        .groupBy("c_mktsegment", "quartile")
        .agg(
            F.count("*").cast("long").alias("n_customers"),
            F.round(F.avg("c_acctbal"), 2).alias("avg_bal"),
        )
    )


def q48_pivot_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot (long → wide): order counts per priority, one column per
    status. Explicit pivot-value list so the plan is a single pass of
    conditional aggregates (no extra distinct-values job) — the same
    shape as the oracle's SUM(CASE WHEN ...)."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(F.count(F.lit(1)))
        .select(
            "o_orderpriority",
            F.coalesce(F.col("F"), F.lit(0)).cast("long").alias("n_f"),
            F.coalesce(F.col("O"), F.lit(0)).cast("long").alias("n_o"),
            F.coalesce(F.col("P"), F.lit(0)).cast("long").alias("n_p"),
        )
    )


def q49_tpch_q3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: segment-filtered customer (broadcast) ⋈ orders ⋈
    lineitem, shipped-after/ordered-before cutoff, top-10 by revenue.
    Both filters reach the parquet scans (pushdown); only the two fact
    tables shuffle, on the join key."""
    cutoff = "1998-06-30"
    c = load_table(spark, sf_dir, "customer").where(
        F.col("c_mktsegment") == "BUILDING"
    )
    o = load_table(spark, sf_dir, "orders").where(
        F.col("o_orderdate") < F.lit(cutoff).cast("timestamp")
    )
    li = load_table(spark, sf_dir, "lineitem").where(
        F.col("l_shipdate") > F.lit(cutoff).cast("timestamp")
    )
    return (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        .groupBy("l_orderkey", "o_orderdate")
        .agg(
            F.round(
                F.sum(
                    F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
                ),
                2,
            ).alias("revenue")
        )
        .select(
            "l_orderkey",
            F.unix_timestamp("o_orderdate").cast("long").alias("odate_ep"),
            "revenue",
        )
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
    )


def q50_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL approx_count_distinct, made hash-oracle-able: the raw HLL
    estimate cannot match across engines (sketch implementations
    differ), so the declared output carries the EXACT per-type NDV
    (oracled by DuckDB ``COUNT(DISTINCT …)``) plus a boolean asserting
    the HLL estimate lands within the documented bound (≤ max(2, 2%) of
    exact — the same bound tests/test_operators.py pins). The oracle
    declares the boolean TRUE, so a drifting estimate breaks the hash:
    the sketch's accuracy contract IS driver-verified, only its raw
    value is not."""
    ev = load_table(spark, sf_dir, "events")
    agg = ev.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", rsd=0.01).alias("__approx"),
        F.countDistinct("user_id").cast("long").alias("exact_users"),
    )
    bound = F.greatest(F.lit(2.0), 0.02 * F.col("exact_users"))
    return agg.select(
        "event_type",
        "exact_users",
        (F.abs(F.col("__approx") - F.col("exact_users")) <= bound).alias(
            "approx_within_2pct"
        ),
    )


def q51_dangling_nodes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT (set difference, SURVEY §2.7 noted as built-in-if-needed):
    nodes that appear as destinations but never as sources — the
    dangling set that G3's renormalization redistributes."""
    e = _edges(spark, sf_dir)
    return e.select(F.col("dst").alias("node")).subtract(
        e.select(F.col("src").alias("node"))
    )


def q52_shortest_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frontier BFS hop distances from a deterministic source set
    (node % 512 == 0) on the derived graph, vs a DuckDB recursive-CTE
    walk capped at the same 12 hops."""
    from pagerank_spark.graph.components import shortest_paths

    e = _edges(spark, sf_dir)
    srcs = vertices(e).where(F.col("node") % 512 == 0)
    out = shortest_paths(e, srcs, max_iterations=12)
    return out.select("node", F.col("dist").cast("long").alias("dist"))


def q53_monthly_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date/time function family (absent from the reference): calendar
    month rollup of order count + revenue."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.groupBy(
            F.year("o_orderdate").cast("long").alias("yr"),
            F.month("o_orderdate").cast("long").alias("mo"),
        )
        .agg(
            F.count("*").alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
        )
    )


def q54_regexp_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regex + string function family (absent from the reference): first
    7+-letter word per document, lowercased, plus a 20-char prefix."""
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.lower(F.regexp_extract("text", "[A-Za-z]{7,}", 0)).alias(
            "first_long_word"
        ),
        F.substring("text", 1, 20).alias("prefix20"),
        F.length("text").cast("long").alias("n_chars_text"),
    )


def q55_percent_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """percent_rank + cume_dist within market segment (completing the
    ranking-window family next to row_number/ntile). Partitioned window
    — scales with segment cardinality, no global sort."""
    c = load_table(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy("c_acctbal", "c_custkey")
    return c.select(
        "c_custkey",
        "c_mktsegment",
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cume"),
    )


def q57_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection: 2 rounds of synchronous label propagation
    (most frequent undirected-neighbor label, ties → smallest). Fixed
    iteration count makes the result deterministic and exactly
    SQL-expressible (mode-by-count CTEs with the same tie break)."""
    from pagerank_spark.graph.components import label_propagation

    labels = label_propagation(_edges(spark, sf_dir), n_iterations=2)
    return labels.select("node", F.col("label").cast("long").alias("label"))


def q58_except_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bag-semantics difference (exceptAll): duplicate edges survive
    with multiplicity — the multiset complement of the ``src % 3`` slice.
    DuckDB twin is EXCEPT ALL."""
    e = _edges(spark, sf_dir)
    return e.exceptAll(e.where(F.col("src") % 3 == 0))


def q59_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-bounded event correlation: per click, the count and value
    sum of the same user's views in the preceding hour. The batch twin
    of a stream-stream interval join; the operator buckets both sides
    by the interval width so the plan is an EQUI-join shuffle (plan
    test: no BroadcastNestedLoopJoin), with the exact bounds as a
    post-join filter."""
    ev = load_table(spark, sf_dir, "events")
    clicks = ev.where(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    views = ev.where(F.col("event_type") == "view").select(
        "user_id", "ts", "value"
    )
    pairs = relational.interval_join(
        clicks, views, on=["user_id"], interval_seconds=3600
    )
    return pairs.groupBy(F.col("event_id").alias("click_id")).agg(
        F.count("*").alias("n_views"),
        F.round(F.sum("value"), 2).alias("sum_view_value"),
    )


def q60_twohop_recs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Friend-of-friend motif: top-20 sources by count of distinct
    two-hop targets not already directly linked (recommendation
    candidates). Two equi-joins + anti join + TakeOrdered. Runs on the
    SPARSE derived graph: on the dense mod-4096 multigraph nearly every
    pair is two-hop reachable, so the intermediate (a, c) set
    approaches n² — quadratic at any scale and recommendation-
    meaningless (re-scoped in round 3; measured 26s → sub-second at
    sf0.1)."""
    from pagerank_spark.graph.components import twohop_recommendations

    e = _sparse_weighted_edges(spark, sf_dir).select("src", "dst")
    return twohop_recommendations(e, k=20)


def q61_personalized_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-iteration personalized PageRank from the ``node % 64 = 0`` seed
    set: teleport AND dangling mass return to the seeds. Exact SQL twin
    (same algebra, ROUND 12)."""
    from pagerank_spark.graph.pagerank import personalized_pagerank

    e = _edges(spark, sf_dir)
    seeds = vertices(e).where(F.col("node") % 64 == 0)
    ranks = personalized_pagerank(e, seeds, beta=0.85, iterations=2)
    return ranks.select("node", F.round("rank", 12).alias("rank"))


def q62_tpch_q7_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: shipping volume between two nations by ship
    year. Two broadcast dimension joins (nation via supplier and via
    customer) over the lineitem fact — the classic star plan."""
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    pair = ("NATION_1", "NATION_2")
    n1 = n.select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation")
    )
    n2 = n.select(
        F.col("n_nationkey").alias("c_nk"), F.col("n_name").alias("cust_nation")
    )
    joined = (
        li.join(F.broadcast(s), li["l_suppkey"] == s["s_suppkey"])
        .join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n1), s["s_nationkey"] == F.col("s_nk"))
        .join(F.broadcast(n2), c["c_nationkey"] == F.col("c_nk"))
    )
    return (
        joined.where(
            (
                (F.col("supp_nation") == pair[0])
                & (F.col("cust_nation") == pair[1])
            )
            | (
                (F.col("supp_nation") == pair[1])
                & (F.col("cust_nation") == pair[0])
            )
        )
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("long").alias("yr"),
        )
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
    )


def q63_weighted_sssp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted shortest paths (frontier Bellman-Ford) on a sparse
    derived graph, hop-bounded at 5 so a depth-bounded recursive CTE is
    an exact twin: after k rounds the distance table is exact over all
    ≤ k-edge paths, and both sides use the same deterministic integer
    weights ((src+dst) % 5 + 1)."""
    from pagerank_spark.graph.components import weighted_shortest_paths

    li = load_table(spark, sf_dir, "lineitem")
    e = (
        li.where((F.col("l_linenumber") == 1) & (F.col("l_orderkey") % 4 == 0))
        .select(
            (F.col("l_orderkey") % 256).cast("long").alias("src"),
            (F.col("l_partkey") % 256).cast("long").alias("dst"),
        )
        .distinct()
        .withColumn(
            "w", ((F.col("src") + F.col("dst")) % 5 + 1).cast("double")
        )
    )
    seeds = vertices(e.select("src", "dst")).where(F.col("node") % 64 == 0)
    out = weighted_shortest_paths(e, seeds, weight_col="w", max_iterations=5)
    return out.select("node", F.round("dist", 6).alias("dist"))


def q64_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPING SETS: order counts/revenue by (status, priority),
    (status), and grand total in ONE pass — the generalized form of the
    ROLLUP (q38) / CUBE (q45) family, expressed in Spark SQL."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("__orders_gs")
    return spark.sql(
        """
        SELECT COALESCE(o_orderstatus, 'ALL') AS status,
               COALESCE(o_orderpriority, 'ALL') AS priority,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               ROUND(SUM(o_totalprice), 2) AS revenue
        FROM __orders_gs
        GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
                                (o_orderstatus), ())
        """
    )


def q65_from_json_struct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typed JSON parsing: ``from_json`` with an explicit struct schema
    (vs q19's path-string access) — per (event_type, k-bucket) stats."""
    ev = load_table(spark, sf_dir, "events")
    parsed = ev.withColumn(
        "p", F.from_json(F.col("props"), "k INT")
    ).withColumn("k_bucket", (F.col("p.k") % 10).cast("long"))
    return parsed.groupBy("event_type", "k_bucket").agg(
        F.count("*").alias("n"),
        F.sum(F.col("p.k").cast("long")).alias("sum_k"),
    )


def q66_array_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Higher-order array functions over the embedding column: per
    label, mean L1 mass and max absolute component — pure Catalyst
    ``aggregate``/``transform`` folds, no UDF."""
    emb = load_table(spark, sf_dir, "embeddings")
    v = F.col("embedding").cast("array<double>")
    l1 = F.aggregate(v, F.lit(0.0), lambda acc, x: acc + F.abs(x))
    amax = F.array_max(F.transform(v, lambda x: F.abs(x)))
    return (
        emb.select(F.col("label").cast("long").alias("label"),
                   l1.alias("l1"), amax.alias("amax"))
        .groupBy("label")
        .agg(
            F.count("*").alias("n"),
            F.round(F.avg("l1"), 6).alias("avg_l1"),
            F.round(F.max("amax"), 6).alias("max_abs"),
        )
    )


def q67_levenshtein_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String-similarity join: edit distance between each document's
    20-char prefix and its successor's — an equi-join on doc_id+1 (no
    cross join), JVM-side ``levenshtein``."""
    docs = load_table(spark, sf_dir, "documents").where(F.col("doc_id") % 7 == 0)
    a = docs.select(
        F.col("doc_id"), F.substring("text", 1, 20).alias("pa")
    )
    b = docs.select(
        (F.col("doc_id") - 7).alias("doc_id"),
        F.substring("text", 1, 20).alias("pb"),
    )
    return a.join(b, on="doc_id").select(
        "doc_id",
        F.levenshtein("pa", "pb").cast("long").alias("edit_dist"),
    )


def q68_rank_dense_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """rank + dense_rank per market segment (completing the window
    family with the two gap-sensitive ranks; rounded acctbal forces
    real ties so the two functions visibly differ)."""
    c = load_table(spark, sf_dir, "customer")
    tier = F.floor(F.col("c_acctbal") / 1000).cast("long")
    return (
        c.select("c_custkey", "c_mktsegment", tier.alias("tier"))
        .withColumn("rnk", F.rank().over(
            Window.partitionBy("c_mktsegment").orderBy(F.desc("tier"))
        ).cast("long"))
        .withColumn("drnk", F.dense_rank().over(
            Window.partitionBy("c_mktsegment").orderBy(F.desc("tier"))
        ).cast("long"))
    )


def q69_conditional_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FILTER-clause style conditional aggregation in one pass: per
    nation, counts/sums split by account-balance sign without
    re-scanning (count_if / sum(when) — partial-agg friendly)."""
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    pos = F.col("c_acctbal") > 0
    return (
        c.join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .groupBy("n_name")
        .agg(
            F.count("*").alias("n_customers"),
            F.sum(F.when(pos, 1).otherwise(0)).cast("long").alias("n_positive"),
            F.round(F.sum(F.when(pos, F.col("c_acctbal")).otherwise(0.0)), 2)
              .alias("sum_positive"),
            F.round(F.sum(F.when(~pos, F.col("c_acctbal")).otherwise(0.0)), 2)
              .alias("sum_nonpositive"),
        )
    )


def q70_max_by(spark: SparkSession, sf_dir: str) -> DataFrame:
    """max_by/min_by argmax aggregates: per nation, the customer
    holding the extreme account balance. Ties are broken
    deterministically by folding the unique custkey into the ordering
    scalar (exact-integer cents·1e6 + custkey — identical arithmetic
    in both engines, no struct comparison needed)."""
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    key = (
        F.round(F.col("c_acctbal") * 100).cast("long") * 1_000_000
        + F.col("c_custkey")
    )
    return (
        c.join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .withColumn("__ord", key)
        .groupBy("n_name")
        .agg(
            F.expr("max_by(c_custkey, __ord)").alias("richest_cust"),
            F.expr("min_by(c_custkey, __ord)").alias("poorest_cust"),
            F.round(F.max("c_acctbal"), 2).alias("max_bal"),
            F.round(F.min("c_acctbal"), 2).alias("min_bal"),
        )
    )


def q71_wordcount(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The canonical wordcount: explode whitespace tokens over the
    corpus, count, top-20 (count desc, token asc). Partial-aggregated
    map-side before the single shuffle; top-k is TakeOrdered."""
    from pagerank_spark.functions import word_tokens

    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(F.explode(word_tokens("text")).alias("token"))
        .where(F.col("token") != "")
        .groupBy("token")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), F.asc("token"))
        .limit(20)
    )


def q72_exists_semijoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated EXISTS as a left-semi join: orders containing at
    least one high-value returned line item, counted per status. The
    semi join keeps the probe side lean (no fact-fact row explosion)."""
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    hot = li.where(
        (F.col("l_returnflag") == "R") & (F.col("l_extendedprice") > 30000)
    ).select(F.col("l_orderkey").alias("o_orderkey"))
    return (
        o.join(hot, on="o_orderkey", how="left_semi")
        .groupBy("o_orderstatus")
        .agg(
            F.count("*").alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
        )
    )


def q73_ann_ivf_seeded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN with the refine-free codebook (first-16-by-id seed
    vectors), hash-exact against a pure-SQL twin: the Lloyd-refined
    variant (q36) stays rows-only because float mean-reduction order
    differs across engines, but with raw seeds the whole
    assign→probe→rank pipeline is reproducible — the same argument the
    LSH twins use (identical sequential dot folds)."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries_df = emb.where(F.col("vec_id") % 50 == 0)
    out = similarity.ann_ivf(
        emb, queries_df, k=5, n_centroids=16, n_probe=4, refine=0
    )
    return out.select(
        "query_id", "nb_id", "cos", F.col("rank").cast("long").alias("rank")
    )


def q74_tpch_q18(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape (large-volume customers): group-HAVING on the
    fact to find big orders (sum qty > 150), then join customer+orders.
    The HAVING filter runs before the dimension joins, so only the
    (small) qualifying order set ever reaches the join — the shape that
    survives a 100× fact scale-up."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.round(F.sum("l_quantity"), 2).alias("sum_qty"))
        .where(F.col("sum_qty") > 150)
    )
    return (
        big.join(o, big["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .select(
            "c_custkey",
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
            F.round("o_totalprice", 2).alias("totalprice"),
            "sum_qty",
        )
        .orderBy(F.desc("totalprice"), F.asc("o_orderkey"))
        .limit(100)
    )


def q75_tpch_q21(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 join topology (suppliers who alone caused a problem in
    a multi-supplier order): semi join on "another supplier exists in
    the order" + anti join on "another supplier also flagged" — the
    EXISTS / NOT EXISTS pair over the same fact. Defect marker adapted
    to l_returnflag='R' (the fixture has no receipt/commit dates).
    Per-supplier count, top 20."""
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    flagged = li.where(F.col("l_returnflag") == "R").select(
        "l_orderkey", "l_suppkey"
    ).distinct()
    all_pairs = li.select("l_orderkey", "l_suppkey").distinct()
    # EXISTS: some other supplier participates in the same order.
    other = all_pairs.select(
        F.col("l_orderkey").alias("ok"), F.col("l_suppkey").alias("sk")
    )
    has_other = flagged.join(
        other,
        (flagged["l_orderkey"] == other["ok"])
        & (flagged["l_suppkey"] != other["sk"]),
        "left_semi",
    )
    # NOT EXISTS: no other supplier in the order is also flagged.
    other_flagged = flagged.select(
        F.col("l_orderkey").alias("ok"), F.col("l_suppkey").alias("sk")
    )
    lone = has_other.join(
        other_flagged,
        (has_other["l_orderkey"] == other_flagged["ok"])
        & (has_other["l_suppkey"] != other_flagged["sk"]),
        "left_anti",
    )
    return (
        lone.join(F.broadcast(s), lone["l_suppkey"] == s["s_suppkey"])
        .groupBy("s_name")
        .agg(F.count("*").alias("numwait"))
        .orderBy(F.desc("numwait"), F.asc("s_name"))
        .limit(20)
    )


def q76_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape (correlated scalar-min subquery): for each part in
    a deterministic subset, every supplier whose unit price equals the
    per-part minimum. The correlated subquery decorrelates into a
    per-part min aggregate joined back on (part, price) — both engines
    compute the min over identical IEEE doubles, so exact equality on
    the join is sound and ALL tied suppliers are returned (no
    tie-break needed)."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").where(F.col("p_partkey") % 20 == 0)
    offers = (
        li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
        .select(
            "p_partkey",
            "l_suppkey",
            (F.col("l_extendedprice") / F.col("l_quantity")).alias("unit"),
        )
    )
    mins = offers.groupBy(F.col("p_partkey").alias("mk")).agg(
        F.min("unit").alias("min_unit")
    )
    return (
        offers.join(
            mins,
            (offers["p_partkey"] == mins["mk"])
            & (offers["unit"] == mins["min_unit"]),
        )
        .select(
            "p_partkey",
            "l_suppkey",
            F.round("min_unit", 6).alias("min_unit"),
        )
        .distinct()
    )


def q77_stats_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical aggregates per return flag: Pearson correlation,
    sample covariance and sample stddev between quantity and price —
    single-pass partial-aggregable moments (both engines use the
    numerically stable one-pass form; rounding absorbs the ~1e-12
    relative reduction-order noise)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.count("*").alias("n"),
        F.round(F.corr("l_quantity", "l_extendedprice"), 6).alias("corr_qp"),
        F.round(F.covar_samp("l_quantity", "l_extendedprice"), 2).alias(
            "covar_qp"
        ),
        F.round(F.stddev_samp("l_extendedprice"), 3).alias("std_price"),
        F.round(F.avg("l_extendedprice"), 3).alias("avg_price"),
    )


def q78_median_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median + quartiles of account balance per market segment —
    ``percentile`` (exact, linear interpolation) matching DuckDB's
    ``quantile_cont``. The exact form sorts per group; at 100 TB swap
    in ``approx_percentile`` (t-digest sketch, mergeable) — q50 shows
    the sketch pattern for distinct counts."""
    c = load_table(spark, sf_dir, "customer")
    return c.groupBy("c_mktsegment").agg(
        F.count("*").alias("n"),
        F.round(F.expr("percentile(c_acctbal, 0.25)"), 6).alias("p25"),
        F.round(F.expr("median(c_acctbal)"), 6).alias("p50"),
        F.round(F.expr("percentile(c_acctbal, 0.75)"), 6).alias("p75"),
    )


def q79_range_moving_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-time moving aggregate: per event type, the trailing-hour
    event count and value sum at each event — a RANGE frame over epoch
    seconds (value-bounded, so tied timestamps are peers in both
    engines; deterministic without a row tie-break). Bounded to a
    deterministic user subset."""
    ev = load_table(spark, sf_dir, "events").where(F.col("user_id") % 20 == 0)
    epoch = F.unix_timestamp("ts").alias("epoch")
    w = (
        Window.partitionBy("event_type")
        .orderBy("epoch")
        .rangeBetween(-3600, 0)
    )
    return (
        ev.select("event_id", "event_type", epoch, "value")
        .withColumn("n_trailing", F.count("*").over(w))
        .withColumn("sum_trailing", F.round(F.sum("value").over(w), 2))
        .select(
            "event_id", "event_type", "epoch", "n_trailing", "sum_trailing"
        )
    )


def q80_value_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """first_value / last_value / nth_value with explicit full-partition
    frames (the default frame truncates last_value at CURRENT ROW —
    the classic window pitfall; both engines get the explicit
    UNBOUNDED..UNBOUNDED frame). Total ordering (tier desc, custkey
    asc) makes every value deterministic."""
    c = load_table(spark, sf_dir, "customer")
    tier = F.floor(F.col("c_acctbal") / 1000).cast("long")
    w = (
        Window.partitionBy("c_mktsegment")
        .orderBy(F.desc("tier"), F.asc("c_custkey"))
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return (
        c.select("c_custkey", "c_mktsegment", tier.alias("tier"))
        .withColumn("top_cust", F.first("c_custkey").over(w))
        .withColumn("bottom_cust", F.last("c_custkey").over(w))
        .withColumn("third_cust", F.nth_value("c_custkey", 3).over(w))
        .where(F.col("c_custkey") % 10 == 0)
    )


def q81_mutual_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal-edge motif: unordered node pairs connected in BOTH
    directions — a self-join of the distinct edge list on the swapped
    key with src<dst canonicalization (each mutual pair counted once),
    bucketed counts. One shuffle per side on the join key; no
    enumeration of non-edges."""
    e = _edges(spark, sf_dir).distinct()
    fwd = e.where(F.col("src") < F.col("dst"))
    rev = e.where(F.col("src") > F.col("dst")).select(
        F.col("dst").alias("src"), F.col("src").alias("dst")
    )
    mutual = fwd.join(rev, on=["src", "dst"], how="left_semi")
    return mutual.groupBy((F.col("src") % 16).alias("bucket")).agg(
        F.count("*").alias("n_mutual")
    )


def q82_salted_skew_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-resistant salted join as a declared query: lineitem (skewed
    side) × orders on the order key via ``salted_join`` — salting
    splits a hot key across 8 reducers; results are provably identical
    to the plain join (the oracle IS the plain join). Revenue per
    order priority."""
    li = load_table(spark, sf_dir, "lineitem").withColumnRenamed(
        "l_orderkey", "o_orderkey"
    )
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority"
    )
    joined = relational.salted_join(li, o, on=["o_orderkey"], n_salts=8)
    return joined.groupBy("o_orderpriority").agg(
        F.count("*").alias("n_lines"),
        F.round(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
        ).alias("revenue"),
    )


def q83_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified sampling with per-stratum rates (sampleBy surrogate,
    SURVEY §5.3 determinism rule): each market segment keeps a
    ``custkey % m == 0`` slice where the modulus is derived from the
    segment name itself — per-stratum rates without enumerating
    segment values, identical arithmetic in both engines."""
    c = load_table(spark, sf_dir, "customer")
    m = F.length("c_mktsegment") % 3 + 2
    return (
        c.where(F.col("c_custkey") % m == 0)
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("n_sampled"),
            F.round(F.avg("c_acctbal"), 2).alias("avg_bal"),
        )
    )


def q84_groupwise_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Groupwise feature standardization via the Catalyst WINDOW
    engine — the scale-default plan (one hash exchange, aggregates and
    the division in whole-stage codegen, no per-group memory cliff),
    so the driver hashes the plan you'd run at 100 TB. The Arrow
    ``applyInPandas`` engine stays covered by the
    ``test_groupwise_zscore_engines_agree`` pytest parity twin, and a
    plan test pins this query to one exchange with no ArrowEvalPython.
    Stats are computed over FULL segments; the output is then bounded
    to a deterministic customer subset."""
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment", "c_acctbal"
    )
    z = relational.groupwise_zscore(
        c, ["c_mktsegment"], "c_acctbal", engine="window"
    )
    return z.where(F.col("c_custkey") % 10 == 0).select(
        "c_custkey",
        "c_mktsegment",
        F.round("c_acctbal", 2).alias("c_acctbal"),
        F.round("z", 6).alias("z"),
    )


def q85_sketch_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable-sketch quantiles with a hash-exact oracle:
    ``approx_percentile`` (Greenwald-Khanna, the single-pass mergeable
    100 TB path — no per-group sort) with accuracy 1e6 has rank error
    ``n/accuracy < 1`` at oracle scale, so it returns exactly the
    discrete quantile DuckDB's ``quantile_disc`` picks. The declared
    query thus pins the SKETCH code path itself, not an exact-sort
    stand-in (same trick as q73's refine-free IVF). At real scale the
    same plan runs with accuracy ~1e4 and a bounded error instead."""
    li = load_table(spark, sf_dir, "lineitem")
    q = F.expr(
        "approx_percentile(l_extendedprice, array(0.25, 0.5, 0.75), 1000000)"
    )
    return (
        li.groupBy("l_returnflag")
        .agg(F.count("*").alias("n"), q.alias("q"))
        .select(
            "l_returnflag",
            "n",
            F.round(F.col("q")[0], 2).alias("p25"),
            F.round(F.col("q")[1], 2).alias("p50"),
            F.round(F.col("q")[2], 2).alias("p75"),
        )
    )


def q86_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel view→click→purchase: per stage, users whose
    earliest stage-i event is strictly after their stage-(i-1) time.
    Each stage is a conditional min-agg + user-key join — never a
    window over the raw stream."""
    from pagerank_spark.operators.analytics import funnel_counts

    ev = load_table(spark, sf_dir, "events")
    return funnel_counts(ev, ["view", "click", "purchase"])


def q87_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix: users bucketed by first-activity week
    (fixed 604800-second epoch buckets), counted as active per week
    offset 0..3."""
    from pagerank_spark.operators.analytics import cohort_retention

    ev = load_table(spark, sf_dir, "events")
    out = cohort_retention(ev, max_offset=3)
    return out.withColumnRenamed("offset", "week_offset")


def q88_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-round k=3 core peeling on a sparse derived graph (avg degree
    ~3.7, so the peel genuinely removes nodes). Fixed rounds ≡ the
    unrolled-CTE SQL twin exactly; the full k-core just iterates to
    fixpoint."""
    from pagerank_spark.graph.components import kcore_peel

    li = load_table(spark, sf_dir, "lineitem")
    e = li.where(F.col("l_linenumber") == 1).select(
        (F.col("l_orderkey") % 8192).cast("long").alias("src"),
        (F.col("l_partkey") % 8192).cast("long").alias("dst"),
    )
    return kcore_peel(e, k=3, rounds=3)


def q89_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity of the derived graph: corr of endpoint
    degrees across distinct undirected edges — graph topology meets
    the single-pass moment aggregates (q77)."""
    from pagerank_spark.graph.components import degree_assortativity

    return degree_assortativity(_edges(spark, sf_dir))


def q90_neardup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup canonicalization end-to-end: MinHash+LSH pairs →
    connected-components clustering → keep-min-id representative. The
    oracle embeds the signature-exact pair SQL (q27's twin,
    parameterized) as a CTE and closes it transitively with a recursive
    CTE (q41's pattern) — the whole pipeline is hash-checked, not just
    the pair list. Unigram shingles at threshold 0.9: the fixture
    corpus is unigram-near-dup-rich (~300 pairs in the subset), so the
    clustering genuinely merges (trigram/0.5 finds no pairs at
    sf0.01 and would make this a no-op)."""
    docs = load_table(spark, sf_dir, "documents").where(
        F.col("doc_id") % 5 == 0
    )
    return dedup.neardup_clusters(docs, "doc_id", "text", n=1, threshold=0.9)


def q91_vector_dim_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension embedding statistics via ``posexplode`` — the
    vector-column profiling pass (feature drift / normalization checks)
    a training pipeline runs. One explode + one partial-agg groupBy on
    the bounded dimension key (64 groups regardless of corpus size).
    DuckDB twin uses ``generate_subscripts`` (1-based → aligned)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return (
        emb.select(
            F.posexplode(F.col("embedding").cast("array<double>")).alias(
                "dim", "x"
            )
        )
        .groupBy(F.col("dim").cast("long").alias("dim"))
        .agg(
            F.count("*").alias("n"),
            F.round(F.avg("x"), 6).alias("avg_x"),
            F.round(F.min("x"), 6).alias("min_x"),
            F.round(F.max("x"), 6).alias("max_x"),
        )
    )


def _sparse_weighted_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q63's sparse deterministic weighted graph (shared by q92/q93)."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.where((F.col("l_linenumber") == 1) & (F.col("l_orderkey") % 4 == 0))
        .select(
            (F.col("l_orderkey") % 256).cast("long").alias("src"),
            (F.col("l_partkey") % 256).cast("long").alias("dst"),
        )
        .distinct()
        .withColumn(
            "w", ((F.col("src") + F.col("dst")) % 5 + 1).cast("double")
        )
    )


SQL_SPARSE_W = """
WITH e AS (
  SELECT DISTINCT CAST(l_orderkey % 256 AS BIGINT) AS src,
         CAST(l_partkey % 256 AS BIGINT) AS dst
  FROM lineitem WHERE l_linenumber = 1 AND l_orderkey % 4 = 0
),
ew AS (SELECT src, dst, CAST((src + dst) % 5 + 1 AS DOUBLE) AS w FROM e),
snodes AS (
  SELECT DISTINCT node FROM (
    SELECT src AS node FROM ew UNION ALL SELECT dst AS node FROM ew
  )
)
"""


def q92_weighted_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-iteration weighted PageRank on the sparse weighted graph:
    contributions split ∝ w/W(src); dangling mass recycled uniformly.
    Fixed iterations ⇒ exact unrolled-CTE twin (q61's pattern)."""
    from pagerank_spark.graph.pagerank import weighted_pagerank

    e = _sparse_weighted_edges(spark, sf_dir)
    out = weighted_pagerank(e, beta=0.85, iterations=2)
    return out.select("node", F.round("rank", 12).alias("rank"))


def q93_local_clustering(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node local clustering coefficient (triangles at v over
    C(deg,2)) — q42's canonical triangle plan extended to credit each
    triangle's three corners."""
    from pagerank_spark.graph.components import local_clustering

    e = _sparse_weighted_edges(spark, sf_dir).select("src", "dst")
    return local_clustering(e)


def q94_band_theta_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta (non-equi) join: price-band bucketing against a 5-row
    bands dimension via BETWEEN-style range predicates. With a tiny
    broadcast dimension the nested-loop join IS the right plan (every
    probe row tests 5 bands) — the one place the no-NLJ rule inverts;
    contrast q59, which buckets a real interval join into an equi
    join because BOTH sides are large."""
    bands = local_relation(spark, 
        [
            ("B0_under_1k", 0.0, 1_000.0),
            ("B1_1k_5k", 1_000.0, 5_000.0),
            ("B2_5k_20k", 5_000.0, 20_000.0),
            ("B3_20k_50k", 20_000.0, 50_000.0),
            ("B4_over_50k", 50_000.0, 1e18),
        ],
        "band string, lo double, hi double",
    )
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.join(
            F.broadcast(bands),
            (F.col("l_extendedprice") >= F.col("lo"))
            & (F.col("l_extendedprice") < F.col("hi")),
        )
        .groupBy("band")
        .agg(
            F.count("*").alias("n_lines"),
            F.round(F.sum("l_extendedprice"), 2).alias("total_price"),
        )
    )


def q95_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The curation pipeline end-to-end: language-ID + quality scoring
    composed into a keep/drop policy (quality ≥ 0.5, ≥ 5 tokens, known
    language), reported per predicted language. One scan computes all
    features (the two operators compose column-wise — Catalyst fuses
    them into a single projection), one conditional aggregation — the
    shape of a real corpus-filter job at 100 TB."""
    docs = load_table(spark, sf_dir, "documents")
    feats = text.quality_score(text.language_id(docs))
    keep = (
        (F.col("quality") >= 0.5)
        & (F.col("n_tokens") >= 5)
        & (F.col("pred_lang") != "unknown")
    )
    return (
        feats.groupBy("pred_lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.when(keep, 1).otherwise(0)).cast("long").alias("n_kept"),
            F.round(F.avg(F.when(keep, F.col("quality"))), 6).alias(
                "avg_kept_quality"
            ),
        )
    )


def q96_scc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strongly connected components (FW-BW min-pivot peeling) on the
    sparse directed graph — the sf0.01 instance has one 64-node SCC
    plus 192 singletons, so the peel does real work. Oracle: recursive
    transitive closure + mutual-reachability grouping (exact; the
    Spark side never materializes a closure)."""
    from pagerank_spark.graph.components import strongly_connected_components

    e = _sparse_weighted_edges(spark, sf_dir).select("src", "dst")
    return strongly_connected_components(e)


def q97_resample_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series resample with gap fill: hourly event counts per
    type, with MISSING hours materialized as zero rows — the dense
    grid a downstream model expects. The hour axis comes from
    ``sequence(min_h, max_h)`` + explode per type (rows ∝ type-span,
    never a cross join against a calendar table)."""
    ev = load_table(spark, sf_dir, "events")
    hour = F.floor(F.unix_timestamp("ts") / 3600).cast("long")
    counts = (
        ev.select("event_type", hour.alias("h"), "value")
        .groupBy("event_type", "h")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("sv"))
    )
    spans = counts.groupBy("event_type").agg(
        F.min("h").alias("h0"), F.max("h").alias("h1")
    )
    grid = spans.select(
        "event_type",
        F.explode(F.sequence(F.col("h0"), F.col("h1"))).alias("h"),
    )
    return grid.join(counts, on=["event_type", "h"], how="left").select(
        "event_type",
        "h",
        F.coalesce("n", F.lit(0)).cast("long").alias("n"),
        F.coalesce("sv", F.lit(0.0)).alias("sum_value"),
    )


def q98_session_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-level conversion: gap-sessionize (q35's lag +
    running-sum plan), flag sessions containing a purchase, summarize
    converted vs non-converted session populations in one pass."""
    ev = load_table(spark, sf_dir, "events")
    ep = F.unix_timestamp("ts").alias("ep")
    w = Window.partitionBy("user_id").orderBy("ep")
    run = Window.partitionBy("user_id").orderBy("ep").rowsBetween(
        Window.unboundedPreceding, 0
    )
    marked = (
        ev.select("user_id", ep, "event_type")
        .withColumn(
            "boundary",
            F.when(
                F.col("ep") - F.lag("ep").over(w) > 1800, 1
            ).otherwise(0),
        )
        .withColumn("session_idx", F.sum("boundary").over(run))
    )
    sessions = marked.groupBy("user_id", "session_idx").agg(
        F.count("*").alias("n_events"),
        (F.max("ep") - F.min("ep")).alias("dur"),
        F.max(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).alias("converted"),
    )
    return sessions.groupBy("converted").agg(
        F.count("*").alias("n_sessions"),
        F.round(F.avg("n_events"), 6).alias("avg_events"),
        F.round(F.avg("dur"), 6).alias("avg_duration_sec"),
    )


def q99_topn_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 customers per nation by balance: the canonical top-N-per-
    group window (partitioned row_number — bounded per-partition sort,
    never a global one)."""
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    w = Window.partitionBy("n_name").orderBy(
        F.desc("bal"), F.asc("c_custkey")
    )
    return (
        c.join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .select("n_name", "c_custkey", F.round("c_acctbal", 2).alias("bal"))
        .withColumn("rn", F.row_number().over(w).cast("long"))
        .where(F.col("rn") <= 3)
    )


def q100_width_bucket_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram via ``width_bucket`` (price axis 0..100k in
    20 buckets; overflow lands in bucket 21) — the equi-width
    counterpart of q94's hand-rolled bands, one partial-agg groupBy."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.select(
            F.expr(
                "width_bucket(l_extendedprice, 0.0, 100000.0, 20)"
            ).cast("long").alias("bucket")
        )
        .groupBy("bucket")
        .agg(F.count("*").alias("n_lines"))
    )


def q101_cooccurrence_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket co-occurrence with lift: item pairs sharing an
    order (self-join on the basket key, a<b canonicalization), scored
    by lift = P(ab)/(P(a)P(b)). The self-join is bounded by per-basket
    item counts (distinct items per order), not the catalog; per-item
    supports ride in on broadcastable aggregates. Top 20 by count."""
    li = load_table(spark, sf_dir, "lineitem")
    basket = (
        li.select(
            "l_orderkey", (F.col("l_partkey") % 500).cast("long").alias("item")
        )
        .distinct()
    )
    n_orders = F.broadcast(
        basket.select("l_orderkey").distinct().agg(
            F.count("*").alias("__n")
        )
    )
    support = basket.groupBy("item").agg(F.count("*").alias("s"))
    a = basket.select("l_orderkey", F.col("item").alias("item_a"))
    b = basket.select("l_orderkey", F.col("item").alias("item_b"))
    pairs = (
        a.join(b, on="l_orderkey")
        .where(F.col("item_a") < F.col("item_b"))
        .groupBy("item_a", "item_b")
        .agg(F.count("*").alias("n_co"))
    )
    sa = support.select(F.col("item").alias("item_a"), F.col("s").alias("sa"))
    sb = support.select(F.col("item").alias("item_b"), F.col("s").alias("sb"))
    return (
        pairs.join(F.broadcast(sa), on="item_a")
        .join(F.broadcast(sb), on="item_b")
        .crossJoin(n_orders)
        .select(
            "item_a",
            "item_b",
            "n_co",
            F.round(
                F.col("n_co") * F.col("__n") / (F.col("sa") * F.col("sb")), 6
            ).alias("lift"),
        )
        .orderBy(F.desc("n_co"), F.asc("item_a"), F.asc("item_b"))
        .limit(20)
    )


def q102_frame_sample_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal frame-sampling plan (the pure-Catalyst half of the
    video pipeline): deterministic media metadata derived from events
    (fps by type, duration from the value column) exploded into one
    row per sampled frame — the plan the decode mapInPandas would then
    consume, already partitioned by media id."""
    from pagerank_spark.operators import multimodal

    ev = load_table(spark, sf_dir, "events").where(
        F.col("event_id") % 20 == 0
    )
    fps = (
        F.when(F.length("event_type") % 3 == 0, 24.0)
        .when(F.length("event_type") % 3 == 1, 30.0)
        .otherwise(60.0)
    )
    meta = ev.select(
        F.col("event_id").alias("media_id"),
        fps.alias("fps"),
        (F.col("value") % 30 + 1).alias("duration_s"),
    )
    out = multimodal.frame_sample_plan(meta, every_s=1.0)
    return out.select(
        "media_id",
        F.round("sample_ts", 6).alias("sample_ts"),
        F.col("frame_index").cast("long").alias("frame_index"),
    )


def q103_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNPIVOT (wide → long), the inverse of q48's pivot: per-nation
    measures melted into (nation, measure, value) rows —
    ``DataFrame.unpivot`` compiles to a Generate (expand), no shuffle
    beyond the aggregation's own."""
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    wide = (
        c.join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .groupBy("n_name")
        .agg(
            F.count("*").cast("double").alias("n_customers"),
            F.round(F.sum("c_acctbal"), 2).alias("total_bal"),
            F.round(F.avg("c_acctbal"), 6).alias("avg_bal"),
        )
    )
    return wide.unpivot(
        ids=["n_name"],
        values=["n_customers", "total_bal", "avg_bal"],
        variableColumnName="measure",
        valueColumnName="value",
    )


def q104_asof_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q43's as-of join with a staleness bound (pandas
    ``merge_asof(tolerance=...)`` parity): clicks older than 1 hour
    before the purchase are nulled out — a post-window mask, same
    single-shuffle plan. The twin masks the native ASOF match with the
    identical CASE."""
    ev = load_table(spark, sf_dir, "events")
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "user_id", "ts", "event_id"
    )
    clicks = ev.where(F.col("event_type") == "click").select(
        "user_id", "ts", "value"
    )
    out = relational.asof_join(
        purchases, clicks, on="user_id", value_cols=["value"],
        tolerance_seconds=3600,
    )
    return out.select(
        "event_id",
        "user_id",
        F.unix_timestamp("ts").cast("long").alias("ep"),
        F.unix_timestamp("ts_asof").cast("long").alias("click_ep"),
        F.round("value_asof", 2).alias("click_value"),
    )


def q105_table_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Versioned table layer end-to-end under the oracle
    (pagerank_spark/table.py): write a base snapshot (orders with
    o_orderkey % 4 == 0), MERGE-upsert a fixed delta (doubled
    totalprice for % 8 == 0 — updates; % 4 == 1 rows — inserts), read
    the COMMITTED post-merge version through the atomic pointer, and
    return its rows plus the time-traveled v0 row count and the
    committed version id. The whole write→commit→read path is what the
    hash covers; the DuckDB twin computes the same MERGE with
    NOT EXISTS + UNION ALL over the same parquet."""
    import shutil
    import tempfile

    from pagerank_spark import table as tbl

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderstatus",
        F.round("o_totalprice", 2).alias("tp"),
    )
    base = o.where(F.col("o_orderkey") % 4 == 0)
    delta = (
        o.where(F.col("o_orderkey") % 8 == 0)
        .withColumn("tp", F.round(F.col("tp") * 2, 2))
        .unionByName(o.where(F.col("o_orderkey") % 4 == 1))
    )
    # Per-call unique root + finally-cleanup (r10 ADVICE, q239): a
    # fixed md5(sf_dir) path races concurrent invocations and leaks.
    # Eager localCheckpoint materializes the result before the table
    # dir is deleted.
    root = tempfile.mkdtemp(prefix="psq105_")
    try:
        v0 = tbl.write_table(base, root)
        v1 = tbl.upsert_table(spark, delta, root, keys=["o_orderkey"])
        committed = tbl.read_table(spark, root)  # resolves _latest
        n_v0 = tbl.read_table(spark, root, version=v0).count()
        return committed.select(
            "o_orderkey",
            "o_orderstatus",
            "tp",
            F.lit(n_v0).cast("long").alias("v0_rows"),
            F.lit(v1).cast("long").alias("version"),
        ).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(root, ignore_errors=True)


def q106_warmstart_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Warm-start incremental PageRank under the oracle: a cold
    2-iteration run seeds ``init_ranks`` for ONE further iteration
    (graph/pagerank.py warm-start path — the incremental-refresh story
    at scale: after a graph delta, the previous converged vector
    resumes instead of restarting from uniform). The warm result is
    algebraically a cold 3-iteration run, hash-checked against a
    3-step SQL power-iteration expansion; ``warm_iters`` ASSERTS the
    warm loop executed exactly 1 iteration (the oracle pins it to 1)."""
    e = _edges(spark, sf_dir)
    cold = pagerank(e, beta=0.85, delta=0.0, max_iterations=2)
    warm = pagerank(
        e, beta=0.85, delta=0.0, max_iterations=1, init_ranks=cold.ranks
    )
    return warm.ranks.select(
        "node",
        F.round("rank", 9).alias("rank"),
        F.lit(warm.iterations).cast("long").alias("warm_iters"),
    )


def q107_gopher_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style structural quality gates
    (operators/text.py gopher_quality; Rae et al. 2021 §A1.1): word
    count / mean word length / symbol ratio / duplicate-line bounds,
    one codegen'd projection, reported per source. The fixture docs
    span 10-99 words so the 50-word floor splits the corpus — n_pass
    exercises the gate, not a constant."""
    docs = load_table(spark, sf_dir, "documents")
    feats = text.gopher_quality(docs)
    return feats.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.when(F.col("passes_gopher"), 1).otherwise(0))
        .cast("long")
        .alias("n_pass"),
        F.round(F.avg("mean_word_len"), 6).alias("avg_mean_word_len"),
        F.round(F.avg("n_words"), 6).alias("avg_n_words"),
    )


def q108_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing (operators/text.py pii_redact): every doc gets a
    deterministic synthetic email + phone appended (the fixture corpus
    has none), then the redaction chain replaces them with
    placeholders. The hash covers the redacted TEXT (md5 digest), so
    the twin must reproduce the exact replacement semantics, plus
    both per-row counts from the original text."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact u"),
            F.col("doc_id").cast("string"),
            F.lit("@ex"),
            (F.col("doc_id") % 7).cast("string"),
            F.lit(".com or +1 555-"),
            F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
            F.lit("-"),
            F.lpad(((F.col("doc_id") * 7) % 10000).cast("string"), 4, "0"),
        ).alias("text"),
    )
    red = text.pii_redact(docs)
    return red.select(
        "doc_id",
        "n_emails",
        "n_phones",
        F.md5("text_redacted").alias("redacted_digest"),
    )


def q109_sample_to_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic domain-mix resampling
    (operators/curation.py sample_to_mix): downsample the corpus to a
    target language mix (en 40%, others 15% each) with a portable-hash
    coin per row — no RNG, no order dependence, reproducible in any
    engine with md5. Returns the kept rows themselves (doc_id, lang,
    source), so the hash pins the exact per-row keep decisions."""
    from pagerank_spark.operators.curation import sample_to_mix

    docs = load_table(spark, sf_dir, "documents")
    kept = sample_to_mix(
        docs,
        group_col="lang",
        weights={"en": 0.4, "de": 0.15, "es": 0.15, "fr": 0.15, "zh": 0.15},
        id_col="doc_id",
    )
    return kept.select("doc_id", "lang", "source")


def q110_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination
    (operators/curation.py contamination_report): every 50th doc plays
    the held-out eval set; the scan reports corpus docs sharing ≥1
    distinct 5-gram with it. Broadcast semi-join on the shingle key —
    the eval suite is tiny next to the corpus at any scale."""
    from pagerank_spark.operators.curation import contamination_report

    docs = load_table(spark, sf_dir, "documents")
    bench = docs.where(F.col("doc_id") % 50 == 0)
    corpus = docs.where(F.col("doc_id") % 50 != 0)
    return contamination_report(corpus, bench, n=5, min_overlap=1)


def q111_boilerplate_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style boilerplate-line removal
    (operators/curation.py remove_boilerplate_lines): every doc gets a
    shared footer line plus a doc-unique line appended; lines occurring
    in ≥2 distinct docs (the footer, plus any duplicated original
    text) are dropped and the doc reassembled in line order. The hash
    covers the cleaned text (md5) and the removed-line count."""
    from pagerank_spark.operators.curation import remove_boilerplate_lines

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit("\nfooter: standard legal boilerplate\nid line "),
            F.col("doc_id").cast("string"),
        ).alias("text"),
    )
    out = remove_boilerplate_lines(docs, min_docs=2)
    return out.select(
        "doc_id", F.md5("text").alias("clean_digest"), "n_lines_removed"
    )


def q112_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF keyword extraction (operators/text.py tfidf_top_terms):
    top-3 terms per document by tf·ln(N/df); the ROUNDED score drives
    the ranking so cross-engine libm ulp differences can't flip the
    order (ties by tf desc, term asc)."""
    docs = load_table(spark, sf_dir, "documents")
    return text.tfidf_top_terms(docs, k=3)


def q113_curate_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed batch curation transform behind the streaming
    ingest sink (streaming.curate_documents): PII scrub in place →
    Gopher structure gate → keep passing rows. Same synthetic PII
    augmentation as q108 so the scrub does real work; the hash covers
    the curated text (md5), the scrub counts, and the surviving row
    set — oracle evidence for exactly what the foreachBatch sink lands
    in the table."""
    from pagerank_spark.streaming import curate_documents

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact u"),
            F.col("doc_id").cast("string"),
            F.lit("@ex"),
            (F.col("doc_id") % 7).cast("string"),
            F.lit(".com or +1 555-"),
            F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
            F.lit("-"),
            F.lpad(((F.col("doc_id") * 7) % 10000).cast("string"), 4, "0"),
        ).alias("text"),
    )
    out = curate_documents(docs, min_words=50)
    return out.select(
        "doc_id",
        "n_emails",
        "n_phones",
        "n_words",
        F.md5("text").alias("curated_digest"),
    )


def q114_image_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image decoding under the oracle
    (operators/multimodal.py decode_image): every 10th doc id becomes
    a synthetic 64×48 P6 PPM whose pixel (x,y) channel c is
    (7·id + 3·x + 5·y + 11·c) mod 256; the numpy decoder parses the
    header+raster and reports dimensions, per-channel means, and a 2×2
    nearest-neighbor grayscale thumbnail. The DuckDB twin never sees
    the bytes — it integrates the same pixel formula in closed form
    over generate_series, so a hash match proves the decoder actually
    decoded."""
    from pagerank_spark.operators.multimodal import (
        decode_image,
        synthesize_ppm_media,
    )

    ids = (
        load_table(spark, sf_dir, "documents")
        .where(F.col("doc_id") % 10 == 0)
        .select(F.col("doc_id").alias("media_id"))
    )
    media = synthesize_ppm_media(ids, "media_id", width=64, height=48)
    return decode_image(media, thumb_size=2).select(
        "media_id",
        "format",
        "width",
        "height",
        "mean_r",
        "mean_g",
        "mean_b",
        F.col("thumb")[0].alias("t00"),
        F.col("thumb")[1].alias("t01"),
        F.col("thumb")[2].alias("t10"),
        F.col("thumb")[3].alias("t11"),
    )


def q115_audio_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio decoding under the oracle
    (operators/multimodal.py decode_audio): every 10th doc id becomes
    a synthetic mono 16-bit PCM WAV (2000 samples at 8 kHz, sample i =
    (13·id + 37·i) mod 65536 − 32768); the numpy decoder walks the
    RIFF chunks and reports rate/channels/frames/duration/RMS/peak.
    The DuckDB twin integrates the same sample formula in closed form
    over generate_series — sqrt is IEEE-exact, so the RMS hash-matches
    bit-for-bit."""
    from pagerank_spark.operators.multimodal import (
        decode_audio,
        synthesize_wav_media,
    )

    ids = (
        load_table(spark, sf_dir, "documents")
        .where(F.col("doc_id") % 10 == 0)
        .select(F.col("doc_id").alias("media_id"))
    )
    media = synthesize_wav_media(ids, "media_id", n_samples=2000, rate=8000)
    return decode_audio(media)


def q116_star_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Large-star/small-star connected components
    (graph/components.py _connected_components_star; Kiveris et al.) —
    the diameter-independent O(log²)-round contraction the engine
    auto-selects above the broadcast-state cut. Same graph and
    recursive-closure oracle as q41, so the hash proves star and label
    propagation compute the identical (node, min-id component)
    mapping."""
    from pagerank_spark.graph.components import connected_components

    li = load_table(spark, sf_dir, "lineitem")
    edges = li.where(
        (F.col("l_linenumber") == 1) & (F.col("l_orderkey") % 8 == 0)
    ).select(
        (F.col("l_orderkey") + 1_000_000).cast("long").alias("src"),
        F.col("l_partkey").cast("long").alias("dst"),
    )
    return connected_components(edges, algorithm="star")


def q117_bloom_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter decontamination (operators/curation.py bloom_bits /
    bloom_might_contain): the eval set's distinct 5-gram shingles set
    k=3 md5-derived bits in an m=65536-bit filter; every corpus doc
    counts its shingles the filter MIGHT contain. The deliberately
    small m makes real false positives occur, and the DuckDB twin
    reproduces the identical bit arithmetic — so the hash pins exact
    Bloom semantics (no false negatives, deterministic false
    positives), not just the exact-overlap answer q110 computes. The
    scale story: the set-bit table is bounded by k·|eval shingles| and
    broadcasts, so the corpus-side scan is one broadcast join + one
    partial-combined count regardless of corpus size."""
    from pagerank_spark.operators.curation import (
        bloom_bits,
        bloom_might_contain,
    )
    from pagerank_spark.operators.dedup import word_shingles

    docs = load_table(spark, sf_dir, "documents")
    bench = docs.where(F.col("doc_id") % 50 == 0)
    corpus = docs.where(F.col("doc_id") % 50 != 0)
    bench_sh = (
        word_shingles(bench, "doc_id", "text", 5)
        .select("shingle")
        .distinct()
    )
    bits = bloom_bits(bench_sh, "shingle", m=1 << 16, k=3)
    probes = word_shingles(corpus, "doc_id", "text", 5)
    flagged = bloom_might_contain(probes, "shingle", bits, m=1 << 16, k=3)
    return (
        flagged.where(F.col("might_contain"))
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_maybe"))
    )


def q118_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget sequence packing (operators/curation.py
    pack_sequences): documents laid head-to-tail in doc_id order and
    cut into 512-token training sequences — concatenate-and-chunk, the
    T5/GPT batch layout. The global token offsets come from a
    distributed two-level prefix sum (order-preserving id blocks →
    local window cumsum → block-total offsets broadcast back), never a
    single-partition global window; the twin is DuckDB's plain ordered
    window cumsum, so the hash proves the distributed scan equals the
    sequential one."""
    from pagerank_spark.functions import word_tokens
    from pagerank_spark.operators.curation import pack_sequences

    docs = load_table(spark, sf_dir, "documents")
    counted = docs.select(
        "doc_id",
        F.size(word_tokens(F.col("text"))).cast("long").alias("n_toks"),
    )
    return pack_sequences(counted, "doc_id", "n_toks", budget=512, blocks=8)


def q119_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM fluency scoring (operators/text.py unigram_logprob):
    per-document mean log-probability under the corpus's own unigram
    model — the cheap CCNet-style LM quality proxy. One explode, one
    vocabulary-sized frequency agg, one join back; score rounded to
    6dp (the tfidf libm discipline)."""
    from pagerank_spark.operators.text import unigram_logprob

    docs = load_table(spark, sf_dir, "documents")
    return unigram_logprob(docs)


def q120_dataset_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test split (operators/curation.py
    dataset_split): 90/5/5 by a portable md5 coin on doc_id — stable
    under reruns and repartitioning, so eval rows can never leak into
    train across reprocessing. Returns every row's assignment; the
    hash pins each individual membership decision."""
    from pagerank_spark.operators.curation import dataset_split

    docs = load_table(spark, sf_dir, "documents")
    out = dataset_split(
        docs, "doc_id", {"train": 0.9, "val": 0.05, "test": 0.05}
    )
    return out.select("doc_id", "split")


def q121_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch point estimates (operators/sketch.py): build a
    4×512 CMS over the corpus token stream (bounded, mergeable,
    map-side-combined), then estimate the frequencies of the exact
    top-20 tokens. The deliberately narrow width forces real
    collisions; the twin rebuilds the identical sketch from the same
    md5 bucket arithmetic, so the hash pins the estimates themselves —
    including the never-underestimate guarantee asserted per row."""
    from pagerank_spark.functions import word_tokens
    from pagerank_spark.operators.sketch import cms_build, cms_estimate

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        F.explode(word_tokens(F.col("text"))).alias("tok")
    ).where(F.col("tok") != "")
    sketch = cms_build(toks, "tok", width=512, depth=4)
    top = (
        toks.groupBy("tok")
        .agg(F.count("*").alias("exact_cnt"))
        .orderBy(F.desc("exact_cnt"), F.asc("tok"))
        .limit(20)
    )
    est = cms_estimate(top, "tok", sketch, width=512, depth=4)
    return est.select(
        "tok",
        "exact_cnt",
        "cms_est",
        (F.col("cms_est") >= F.col("exact_cnt")).alias("never_under"),
    )


def q122_adamic_adar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adamic-Adar link prediction (graph/components.py adamic_adar):
    top-50 non-adjacent pairs scored Σ 1/ln(deg(w)) over common
    neighbors, hub-capped at deg ≤ 64 — the graph-ML feature op for
    recommendation candidates. Runs on the sparse derived graph (q60's
    re-scoping rationale: the dense mod-4096 multigraph makes
    common-neighbor pairs approach n²)."""
    from pagerank_spark.graph.components import adamic_adar

    e = _sparse_weighted_edges(spark, sf_dir).select("src", "dst")
    return adamic_adar(e, k=50, max_degree=64)


def q123_incremental_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental aggregate maintenance (operators/relational.py
    merge_grouped_partials): per-nation revenue state built from the
    base orders (o_orderkey % 10 != 0), then refreshed by merging the
    delta batch's partials — the algebraic combine
    merge(agg(base), agg(delta)) == agg(all) that lets a materialized
    aggregate refresh in O(|delta|+|state|). The oracle recomputes
    from the full table, so the hash proves the identity holds."""
    from pagerank_spark.operators.relational import merge_grouped_partials

    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    enriched = orders.join(
        cust, orders.o_custkey == cust.c_custkey
    ).select(
        "o_orderkey",
        F.col("c_nationkey").alias("nationkey"),
        "o_totalprice",
    )

    def partial(part: DataFrame) -> DataFrame:
        return part.groupBy("nationkey").agg(
            F.sum("o_totalprice").alias("revenue"),
            F.count("*").alias("n_orders"),
        )

    base = partial(enriched.where(F.col("o_orderkey") % 10 != 0))
    delta = partial(enriched.where(F.col("o_orderkey") % 10 == 0))
    merged = merge_grouped_partials(
        base, delta, keys=["nationkey"], sum_cols=["revenue", "n_orders"]
    )
    return merged.select(
        "nationkey",
        F.round("revenue", 2).alias("revenue"),
        F.col("n_orders").cast("long").alias("n_orders"),
    )


def q124_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS hubs-and-authorities (graph/pagerank.py hits): 2
    synchronous L1-normalized rounds of the Kleinberg mutual-
    reinforcement recursion on the sparse derived graph — the other
    classic link-analysis fixed point beside the reference's PageRank.
    Fixed iterations ⇒ exact unrolled-CTE twin (q92's pattern); 9dp
    rounding absorbs summation-order ulps. The engine is the
    checkpointed loop (the scale shape per GRAPH_LOOP_AB.json, and
    ~1.2x faster than an unrolled DAG even at k=2); a pure-Python
    L1-normalized HITS oracle pins it in test_hits_loop_matches_oracle."""
    from pagerank_spark.graph.pagerank import hits

    e = _sparse_weighted_edges(spark, sf_dir).select("src", "dst")
    out = hits(e, iterations=2)
    return out.select(
        "node",
        F.round("hub", 9).alias("hub"),
        F.round("auth", 9).alias("auth"),
    )


def q125_katz_centrality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Katz centrality (graph/pagerank.py katz_centrality): 3 rounds
    of the truncated damped-path series x = 1 + α·Mᵀx (α=0.1) — the
    path-counting cousin of PageRank that does not split weight by
    out-degree. Fixed iterations ⇒ exact unrolled twin."""
    from pagerank_spark.graph.pagerank import katz_centrality

    e = _sparse_weighted_edges(spark, sf_dir).select("src", "dst")
    out = katz_centrality(e, alpha=0.1, iterations=3)
    return out.select("node", F.round("katz", 9).alias("katz"))


def q126_zorder_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order compaction round trip (table.py compact_table
    cluster="zorder"): write a customer projection as a fragmented
    snapshot, rewrite it Morton-clustered on (c_custkey, c_nationkey),
    and read the committed version back through the atomic pointer.
    Clustering must be a pure LAYOUT change — the twin is the plain
    projection, so the hash proves the interleave/normalize/sort
    pipeline loses and alters nothing. The output also pins the
    physical claim: per-file c_custkey spans from the committed
    snapshot, summed, must stay below the unclustered total (files
    cover disjoint-ish key ranges after clustering)."""
    import glob as _glob
    import os as _os
    import tempfile as _tempfile

    from pagerank_spark import table as _table

    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey", "c_acctbal"
    )
    root = _os.path.join(
        _tempfile.mkdtemp(prefix="q126_"), "ztbl"
    )
    _table.write_table(cust.repartition(8), root)
    v = _table.compact_table(
        spark,
        root,
        target_files=4,
        sort_by=["c_custkey", "c_nationkey"],
        cluster="zorder",
    )
    snap = _table.read_table(spark, root, version=v)
    files = _glob.glob(_os.path.join(root, f"v{v:05d}", "*.parquet"))
    span_total = 0
    for fp in files:
        st = spark.read.parquet(fp).agg(
            (F.max("c_custkey") - F.min("c_custkey")).alias("s")
        ).collect()[0]
        span_total += int(st["s"])
    full = cust.agg(
        (F.max("c_custkey") - F.min("c_custkey")).alias("s")
    ).collect()[0]["s"]
    clustered = bool(
        len(files) >= 2 and span_total < int(full) * len(files)
    )
    return snap.crossJoin(
        F.broadcast(
            local_relation(spark, [(clustered,)], "clustered boolean")
        )
    ).select(
        "c_custkey",
        "c_nationkey",
        F.round("c_acctbal", 2).alias("acctbal"),
        "clustered",
    )


def q127_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window document chunking (operators/text.py
    chunk_documents): 64-token windows with 8-token overlap — the
    embedding/RAG preparation step. Pure Catalyst sequence/slice
    explode, no shuffle; the hash covers every chunk's exact text."""
    from pagerank_spark.operators.text import chunk_documents

    docs = load_table(spark, sf_dir, "documents")
    return chunk_documents(
        docs, "doc_id", "text", chunk_tokens=64, overlap_tokens=8
    )


def q128_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-quality validation (operators/validate.py
    expectations_report): not-null / unique / range / accepted-values
    / referential-integrity rules over orders, one report row per
    rule. The rule mix includes deliberately failing bounds (a
    too-tight o_totalprice cap) so the hash pins real violation
    COUNTS, not an all-zeros report; scalar rules fuse into one scan,
    uniqueness is one groupBy, the FK check one anti join."""
    from pagerank_spark.operators.validate import expectations_report

    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    return expectations_report(
        orders,
        not_null=["o_orderkey", "o_custkey", "o_orderstatus"],
        unique=[["o_orderkey"]],
        ranges={
            "o_totalprice": (0.0, 200_000.0),  # deliberately tight
        },
        accepted={"o_orderstatus": ["O", "F", "P"]},
        foreign_keys=[("o_custkey", cust, "c_custkey")],
    )


def q129_multi_source_bfs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Labeled multi-source BFS (graph/components.py
    multi_source_shortest_paths): per-seed hop distances from 8
    landmark seeds over the sparse graph, one synchronized frontier
    loop for all seeds — the landmark-distance primitive. Twin: a
    (seed, node, dist)-keyed recursive CTE (q52's pattern with the
    seed label carried through)."""
    from pagerank_spark.graph.components import multi_source_shortest_paths

    e = _sparse_weighted_edges(spark, sf_dir).select("src", "dst")
    seeds = (
        e.select(F.col("src").alias("node"))
        .unionAll(e.select(F.col("dst").alias("node")))
        .distinct()
        .where(F.col("node") % 32 == 0)
    )
    out = multi_source_shortest_paths(e, seeds, max_iterations=12)
    return out.select("seed", "node", F.col("dist").cast("long").alias("dist"))


def q130_harmonic_centrality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Out-harmonic centrality of the landmark seeds
    (graph/components.py harmonic_centrality): Σ 1/d(s,v) over
    reachable v — the disconnection-safe closeness variant, computed
    from the same multi-source frontier loop."""
    from pagerank_spark.graph.components import harmonic_centrality

    e = _sparse_weighted_edges(spark, sf_dir).select("src", "dst")
    seeds = (
        e.select(F.col("src").alias("node"))
        .unionAll(e.select(F.col("dst").alias("node")))
        .distinct()
        .where(F.col("node") % 32 == 0)
    )
    return harmonic_centrality(e, seeds, max_iterations=12)


def q131_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-weighted deterministic sampling (operators/curation.py
    sample_weighted): each document survives with probability equal to
    its 9dp-rounded quality score — per-row Bernoulli via the portable
    md5 coin, the curation shape behind quality-proportional
    downsampling. The hash pins every individual keep decision."""
    from pagerank_spark.operators.curation import sample_weighted
    from pagerank_spark.operators.text import quality_score

    docs = load_table(spark, sf_dir, "documents")
    scored = quality_score(docs)
    kept = sample_weighted(scored, "quality", "doc_id")
    return kept.select("doc_id", "lang", "quality")


def q132_portable_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Portable HyperLogLog (operators/sketch.py hll_registers /
    hll_estimate): q50's engine HLL can't cross-verify by
    construction, so this one derives bucket and rho from the portable
    md5 family with integer-only arithmetic — the DuckDB twin rebuilds
    the IDENTICAL 256 registers and the estimate itself hash-matches.
    Output: the estimate, the exact NDV, and the relative error
    asserted inside the standard ~1.04/√256 envelope (×3)."""
    from pagerank_spark.operators.sketch import hll_estimate, hll_registers

    orders = load_table(spark, sf_dir, "orders")
    regs = hll_registers(orders, "o_custkey")
    est = hll_estimate(regs)
    exact = orders.agg(
        F.count_distinct("o_custkey").alias("exact_ndv")
    )
    return (
        est.crossJoin(F.broadcast(exact))
        .select(
            "hll_estimate",
            "exact_ndv",
            (
                F.abs(F.col("hll_estimate") - F.col("exact_ndv"))
                / F.col("exact_ndv")
                <= F.lit(3 * 1.04 / 16.0)
            ).alias("within_bound"),
        )
    )


def q133_full_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL OUTER join semantics: per-nation customer counts (nations
    < 15) full-outer-joined to per-nation supplier counts (nations
    ≥ 10) — left-only, right-only, and overlapping keys all present,
    the unmatched sides carrying NULL counts. The only outer-join
    flavor not yet declared (left/right/semi/anti all are)."""
    cust = load_table(spark, sf_dir, "customer")
    supp = load_table(spark, sf_dir, "supplier")
    c = (
        cust.where(F.col("c_nationkey") < 15)
        .groupBy(F.col("c_nationkey").alias("nationkey"))
        .agg(F.count("*").alias("n_cust"))
    )
    s = (
        supp.where(F.col("s_nationkey") >= 10)
        .groupBy(F.col("s_nationkey").alias("nationkey"))
        .agg(F.count("*").alias("n_supp"))
    )
    return c.join(s, on="nationkey", how="full").select(
        "nationkey", "n_cust", "n_supp"
    )


def q134_intersect_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT ALL bag semantics (q58's EXCEPT ALL complement): the
    multiset intersection keeps each value min(multiplicity-left,
    multiplicity-right) times — part keys appearing in both order
    slices, duplicates preserved."""
    li = load_table(spark, sf_dir, "lineitem")
    a = li.where(F.col("l_orderkey") % 4 == 0).select(
        F.col("l_partkey").alias("partkey")
    )
    b = li.where(F.col("l_orderkey") % 6 == 0).select(
        F.col("l_partkey").alias("partkey")
    )
    return a.intersectAll(b)


def q135_scalar_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar-function zoo over nation: string
    (translate/lpad/reverse/repeat/left/ascii), conditional
    (nullif/greatest/least), numeric (sign/abs/bit_count) — each
    portable and hash-checked against the identical DuckDB
    expression."""
    n = load_table(spark, sf_dir, "nation")
    return n.select(
        "n_nationkey",
        F.translate(F.lower("n_name"), "aeiou", "AEIOU").alias(
            "vowels_up"
        ),
        F.lpad(F.col("n_nationkey").cast("string"), 4, "0").alias(
            "padded"
        ),
        F.reverse(F.lower("n_name")).alias("reversed"),
        F.repeat(F.lit("ab"), (F.col("n_nationkey") % 3 + 1).cast("int"))
        .alias("repeated"),
        F.substring(F.lower("n_name"), 1, 3).alias("prefix3"),
        F.ascii(F.upper("n_name")).alias("first_ascii"),
        F.nullif(F.col("n_regionkey"), F.lit(2)).alias("region_not2"),
        F.greatest(
            F.col("n_nationkey"), F.col("n_regionkey") * 5
        ).alias("greater"),
        F.least(F.col("n_nationkey"), F.col("n_regionkey") * 5).alias(
            "lesser"
        ),
        F.sign(F.col("n_nationkey") - 12).cast("int").alias("sgn"),
        F.abs(F.col("n_nationkey") - 12).alias("absdiff"),
        F.bit_count(F.col("n_nationkey")).cast("int").alias("popcount"),
    )


def q136_incremental_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental near-dup (operators/dedup.py
    minhash_neardup_against): an incoming batch — synthetic near-
    copies of every 25th corpus document with a 3-token suffix
    appended — is checked against the EXISTING corpus by MinHash+LSH
    across the batch×corpus boundary only, never re-pairing the
    corpus. The twin runs the self-join pipeline over the unioned
    docs and keeps only cross-boundary pairs, so the hash proves the
    asymmetric path finds exactly the pairs the symmetric one would."""
    from pagerank_spark.operators.dedup import minhash_neardup_against

    docs = load_table(spark, sf_dir, "documents")
    new_batch = docs.where(F.col("doc_id") % 25 == 7).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" near dup marker")).alias("text"),
    )
    return minhash_neardup_against(
        new_batch, docs, n=3, threshold=0.5
    )


def q137_png_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL PNG decoding under the oracle (operators/multimodal.py
    _decode_png): the same closed-form pixel formula as q114, but the
    payload is a genuine PNG — zlib-deflated filtered scanlines built
    by encode_png — so the hash match proves chunk walk + inflate +
    scanline unfiltering, not just raster reshaping. Oracle is q114's
    closed-form integration with format='png'."""
    from pagerank_spark.operators.multimodal import (
        decode_image,
        synthesize_png_media,
    )

    ids = (
        load_table(spark, sf_dir, "documents")
        .where(F.col("doc_id") % 10 == 0)
        .select(F.col("doc_id").alias("media_id"))
    )
    media = synthesize_png_media(ids, "media_id", width=64, height=48)
    return decode_image(media, thumb_size=2).select(
        "media_id",
        "format",
        "width",
        "height",
        "mean_r",
        "mean_g",
        "mean_b",
        F.col("thumb")[0].alias("t00"),
        F.col("thumb")[1].alias("t01"),
        F.col("thumb")[2].alias("t10"),
        F.col("thumb")[3].alias("t11"),
    )


def _ramp_want_means(spark: SparkSession, ids: DataFrame) -> DataFrame:
    """Closed-form per-channel target means for the 64x48 JPEG ramp
    ``least(255, 7*id%100 + x + y + 40c)`` (q138/q251).

    r14 optimization: the old form enumerated the full
    |ids|x64x48x3 grid (9216 rows per id) through three crossJoins.
    The ramp depends on (x, y) only through s = x + y, so enumerate
    the 111 diagonals with their cell counts instead (~27x fewer
    generated rows). Every term is a small integer, so both sums are
    exact in double and ``sum(w*v)/3072`` is the bit-identical double
    the full-grid ``avg`` produced."""
    ss = spark.range(64 + 48 - 1).select(F.col("id").alias("s"))
    cs = spark.range(3).select(F.col("id").alias("c"))
    diag_w = (
        F.least(F.lit(63), F.col("s"))
        - F.greatest(F.lit(0), F.col("s") - 47)
        + 1
    ).cast("double")
    return (
        ids.crossJoin(ss)
        .crossJoin(cs)
        .groupBy("media_id", "c")
        .agg(
            (
                F.sum(
                    diag_w
                    * F.least(
                        F.lit(255),
                        (F.col("media_id") * 7) % 100
                        + F.col("s")
                        + F.lit(40) * F.col("c"),
                    )
                )
                / F.lit(float(64 * 48))
            ).alias("want_mean")
        )
        .groupBy("media_id")
        .pivot("c", [0, 1, 2])
        .agg(F.first("want_mean"))
        .select(
            "media_id",
            F.col("0").alias("want_r"),
            F.col("1").alias("want_g"),
            F.col("2").alias("want_b"),
        )
    )


def q138_jpeg_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL baseline-JPEG decoding under the oracle
    (operators/jpeg.py): every 20th doc id becomes a genuine
    Huffman-coded 4:4:4 JPEG of a smooth closed-form ramp
    (``clip(offset + x + y + 40c, 0, 255)``, offset = 7·id mod 100),
    built by the numpy encoder and decoded by the independent-IDCT
    numpy decoder. JPEG is lossy, so the oracle pins BOOLEANS: each
    decoded channel mean must sit within 1.0 of the closed-form pixel
    mean (which the Spark side recomputes with the same SQL formula
    the DuckDB twin integrates — a broken decoder flips a boolean and
    the hash). Exact fields (format/width/height) are pinned directly."""
    from pagerank_spark.operators.multimodal import (
        decode_image,
        synthesize_jpeg_media,
    )

    ids = (
        load_table(spark, sf_dir, "documents")
        .where(F.col("doc_id") % 20 == 0)
        .select(F.col("doc_id").alias("media_id"))
    )
    dec = decode_image(synthesize_jpeg_media(ids, "media_id"), thumb_size=2)
    want = _ramp_want_means(spark, ids)
    return dec.join(want, on="media_id").select(
        "media_id",
        "format",
        "width",
        "height",
        (F.abs(F.col("mean_r") - F.col("want_r")) <= 1.0).alias("r_ok"),
        (F.abs(F.col("mean_g") - F.col("want_g")) <= 1.0).alias("g_ok"),
        (F.abs(F.col("mean_b") - F.col("want_b")) <= 1.0).alias("b_ok"),
    )


def q139_image_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL pixel embeddings under the oracle
    (operators/multimodal.py image_embedding): every 10th doc id is
    rendered as BOTH a P6 PPM and a PNG of the SAME closed-form
    pixels, each decoded by its own real decoder and embedded
    (grayscale 2×2 block means, L2-normalized). The declared output
    is the embedding dimension and the 6dp-rounded cosine between the
    two formats' embeddings — exactly 1.0 row-by-row iff both
    decoders reproduce identical rasters AND the embedding pipeline
    is deterministic; the DuckDB twin pins dim=4, cos=1.0 per id.
    (Raw embedding values are float32 — hashing them would race the
    cast against the oracle's float64; the cosine collapses that to
    an exact invariant.)"""
    from pagerank_spark.operators.multimodal import (
        image_embedding,
        synthesize_png_media,
        synthesize_ppm_media,
    )

    ids = (
        load_table(spark, sf_dir, "documents")
        .where(F.col("doc_id") % 10 == 0)
        .select(F.col("doc_id").alias("media_id"))
    )
    a = image_embedding(
        synthesize_ppm_media(ids, "media_id", width=32, height=24), grid=2
    ).select(F.col("media_id"), F.col("embedding").alias("ea"))
    b = image_embedding(
        synthesize_png_media(ids, "media_id", width=32, height=24), grid=2
    ).select(F.col("media_id"), F.col("embedding").alias("eb"))
    dot = F.aggregate(
        F.zip_with("ea", "eb", lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    return a.join(b, on="media_id").select(
        "media_id",
        F.size("ea").alias("dim"),
        F.round(dot, 6).alias("cross_format_cos"),
    )


def q140_repetition_filters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher repetition filters (operators/text.py
    repetition_signals): per-document duplicate-2/3-gram fractions and
    the top-2-gram share, with the pass flag at the declared
    thresholds — the in-document repetition signals that catch
    machine-generated/boilerplate text before structural stats do.
    The twin rebuilds occurrence-preserving n-grams with DuckDB list
    slicing and reproduces the identical fraction arithmetic."""
    from pagerank_spark.operators.text import repetition_signals

    docs = load_table(spark, sf_dir, "documents").where(
        F.col("doc_id") % 5 == 0
    )
    return repetition_signals(docs)


def q141_kmeans_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lloyd's k-means on the embeddings table
    (operators/similarity.py kmeans): k=4, exactly 2 assign→mean
    rounds, seeds = first k vectors by id, euclidean argmin with ties
    to the smallest centroid id — every design choice made so the
    DuckDB twin can unroll the identical computation (the q33
    fixed-iteration pattern) and every per-vector cluster assignment
    hash-matches as an integer."""
    from pagerank_spark.operators.similarity import kmeans

    emb = load_table(spark, sf_dir, "embeddings").where(
        F.col("vec_id") % 3 == 0
    )
    return kmeans(emb, k=4, iterations=2)


def q142_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (operators/similarity.py semantic_dedup): k-means
    bounds the pair work to within-cluster, then the greedy keep-first
    rule drops any vector with an earlier same-cluster neighbor above
    the cosine threshold. The fixture's random embeddings top out at
    cosine ~0.48, so every 20th vector is planted back with a
    +1M-offset id and a 1.001x scale (cosine ≈ 1 with its source) —
    at threshold 0.99 exactly the planted copies must drop, and the
    twin reproduces the full pipeline: 2 unrolled Lloyd rounds over
    the augmented set, within-cluster pairs, identical keep/drop."""
    from pagerank_spark.operators.similarity import semantic_dedup

    emb = load_table(spark, sf_dir, "embeddings").where(
        F.col("vec_id") % 3 == 0
    )
    planted = emb.where(F.col("vec_id") % 20 == 0).select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"),
        F.transform(
            F.col("embedding").cast("array<double>"), lambda x: x * 1.001
        ).alias("embedding"),
    )
    aug = emb.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    ).unionByName(planted)
    return semantic_dedup(aug, k=4, iterations=2, threshold=0.99)


def q143_pca_component(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top principal component by power iteration
    (operators/similarity.py pca_top_component): the covariance is a
    (i, j, cov) relation (dim² rows after map-side partial agg —
    corpus-size-independent shuffle), each power step one broadcast
    matvec; exactly 2 rounds from the all-ones start so the twin
    unrolls the identical arithmetic. 6dp rounding absorbs
    reduction-order ulps (q33's determinism pattern)."""
    from pagerank_spark.operators.similarity import pca_top_component

    emb = load_table(spark, sf_dir, "embeddings").where(
        F.col("vec_id") % 3 == 0
    )
    out = pca_top_component(emb, iterations=2)
    return out.select(
        "pos",
        F.round("component", 6).alias("component"),
        F.round("eigenvalue", 6).alias("eigenvalue"),
    )


def q144_pca_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-D PCA whitening (operators/similarity.py pca_project): each
    embedding's centered dot product with the q143 power-iteration
    eigenvector. The eigenvector and the mean-offset scalar are
    dim-sized plan LITERALS, so the projection is a single codegen
    map over the corpus — zero shuffles, zero Python; the only
    collects in the whole pipeline are dim-sized. 6dp rounding
    absorbs reduction-order ulps."""
    from pagerank_spark.operators.similarity import pca_project

    emb = load_table(spark, sf_dir, "embeddings").where(
        F.col("vec_id") % 3 == 0
    )
    out = pca_project(emb, iterations=2)
    return out.select("vec_id", F.round("proj", 6).alias("proj"))


def q145_dup_span_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact duplicate-substring coverage (operators/dedup.py
    dup_span_coverage, Lee et al. 2022 dedup signal): token 5-grams
    occurring in >1 document, unioned into per-doc covered-position
    counts. Inverted-index shape — gram shuffle with map-side partial
    count-distinct, dup keys joined back, per-doc agg; corpus-linear,
    never all-pairs. 6dp rounding on the fraction only."""
    from pagerank_spark.operators.dedup import dup_span_coverage

    docs = load_table(spark, sf_dir, "documents")
    out = dup_span_coverage(docs, n=5)
    return out.select(
        "doc_id",
        "n_tokens",
        "dup_starts",
        "covered_tokens",
        F.round("dup_frac", 6).alias("dup_frac"),
    )


def q146_quantize_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8 scalar quantization of the embedding corpus
    (operators/similarity.py quantize_embeddings): per-dimension
    min/max grid, explicit floor(+0.5) tie-rule so both engines code
    identically, per-vector mean-squared reconstruction error. The
    min/max pass is the only shuffle (dim-row output); the coding is a
    literal-folded codegen map. Codes stringified for a
    representation-stable hash (q16's pattern); mse at 12dp — the
    values are ~1e-6 so 6dp would erase the signal."""
    from pagerank_spark.operators.similarity import quantize_embeddings

    emb = load_table(spark, sf_dir, "embeddings")
    out = quantize_embeddings(emb, bits=8)
    return out.select(
        "vec_id",
        F.concat_ws(
            ",", F.transform(F.col("codes"), lambda x: x.cast("string"))
        ).alias("codes"),
        F.round("mse", 12).alias("mse"),
    )


def q147_quantized_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric quantized search (operators/similarity.py
    quantized_ann_topk): int8 corpus codes, full-precision queries,
    ADC scoring against the literal-folded reconstruction — the
    IVFADC/ScaNN serving pattern. Same query subset and schema as the
    exact q28 baseline so quantization recall loss is directly
    measurable. Quantize∘dequantize is identical IEEE arithmetic in
    both engines, so the twin is value-exact at 6dp."""
    from pagerank_spark.operators.similarity import quantized_ann_topk

    emb = load_table(spark, sf_dir, "embeddings")
    queries_df = emb.where(F.col("vec_id") % 50 == 0)
    out = quantized_ann_topk(emb, queries_df, k=5, bits=8)
    return out.select(
        "query_id", "nb_id", "cos", F.col("rank").cast("long").alias("rank")
    )


def q148_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle-key skew diagnostic (operators/relational.py
    skew_report): heaviest event users with share-of-total and the
    global max/mean skew factor — the pre-join report that decides
    plain-hash vs salted vs AQE-skew-hinted. One count shuffle +
    scalar agg + TakeOrdered; nothing data-sized on the driver."""
    from pagerank_spark.operators.relational import skew_report

    ev = load_table(spark, sf_dir, "events")
    out = skew_report(ev, ["user_id"], top_n=15)
    return out.select(
        "user_id",
        "cnt",
        F.round("share", 9).alias("share"),
        F.round("skew_factor", 6).alias("skew_factor"),
        "rank",
    )


def q149_remove_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring corpus rewrite (operators/dedup.py
    remove_duplicate_spans): every token position covered by a
    cross-document duplicated 5-gram is dropped and the remaining
    tokens reassembled in order — the Lee et al. 2022 dedup
    transformation itself, with the rewritten text in the value hash.
    Same inverted-index shape as q145 plus a left-anti positional
    join and sort_array reassembly (no window, no Python)."""
    from pagerank_spark.operators.dedup import remove_duplicate_spans

    docs = load_table(spark, sf_dir, "documents")
    return remove_duplicate_spans(docs, n=5).select(
        "doc_id", "clean_text", "removed_tokens"
    )


def q150_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed BPE tokenizer training (operators/text.py
    bpe_train): 6 merge rounds over the documents vocabulary — pair
    counts weighted by word frequency, (count DESC, lhs, rhs) argmax,
    greedy leftmost-first rewrite as a sequential fold. The corpus
    collapses to the (word, freq) vocabulary ONCE; each round is one
    partial-combined pair shuffle + TakeOrdered(1) + a literal-folded
    rewrite map; exactly one row per round reaches the driver. The
    twin unrolls all 6 rounds with DuckDB ``list_reduce`` making the
    same fold decisions."""
    from pagerank_spark.operators.text import bpe_train

    docs = load_table(spark, sf_dir, "documents")
    return bpe_train(docs, merges=6)


def q151_bpe_segment_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer application (operators/text.py
    bpe_segment_stats): encode every document with the 6-merge q150
    vocabulary and report per-doc word/char/token counts and
    chars-per-token — the fertility number that judges a vocabulary.
    Encoding is a single vocab join (no per-doc re-folding); the twin
    joins the q150 unroll's final w6 relation back to the exploded
    corpus."""
    from pagerank_spark.operators.text import bpe_segment_stats

    docs = load_table(spark, sf_dir, "documents")
    out = bpe_segment_stats(docs, merges=6)
    return out.select(
        "doc_id",
        "n_words",
        "n_chars",
        "n_tokens",
        F.round("chars_per_token", 6).alias("chars_per_token"),
    )


def q152_tpch_q5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape (local supplier volume): revenue per nation for
    one region-year where the customer and the supplier share a
    nation. All three dimensions (supplier, nation-filtered customer
    side via nation⋈region) broadcast; only orders⋈lineitem shuffles,
    on the order key; date bounds and the region filter reach the
    scans."""
    lo, hi = "1996-01-01", "1997-01-01"
    r = load_table(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    n = load_table(spark, sf_dir, "nation").join(
        F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey")
    )
    c = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier")
    o = load_table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit(lo).cast("timestamp"))
        & (F.col("o_orderdate") < F.lit(hi).cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        .join(
            F.broadcast(s),
            (li["l_suppkey"] == s["s_suppkey"])
            & (c["c_nationkey"] == s["s_nationkey"]),
        )
        .join(F.broadcast(n), s["s_nationkey"] == n["n_nationkey"])
        .groupBy("n_name")
        .agg(
            F.round(
                F.sum(
                    F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
                ),
                2,
            ).alias("revenue")
        )
        .select("n_name", "revenue")
    )


def q153_tpch_q10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape (returned-item reporting): revenue lost to
    returns per customer over one quarter, top 20. Customer and
    nation broadcast; the fact join shuffles once on the order key;
    TakeOrdered caps the result."""
    lo, hi = "1997-01-01", "1997-07-01"
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    o = load_table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit(lo).cast("timestamp"))
        & (F.col("o_orderdate") < F.lit(hi).cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem").where(
        F.col("l_returnflag") == "R"
    )
    return (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(
            F.round(
                F.sum(
                    F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
                ),
                2,
            ).alias("revenue")
        )
        .select(
            "c_custkey",
            "c_name",
            F.round("c_acctbal", 2).alias("c_acctbal"),
            "n_name",
            "revenue",
        )
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
    )


def q154_ivf_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVFADC serving composition (operators/similarity.py
    ann_ivf_adc): IVF list pruning AND int8 asymmetric scoring in one
    plan — per-query work is n_probe/n_centroids of the corpus, over
    codes instead of floats. Same query subset as q73/q147 so the
    recall cost of each leg (pruning, quantization, both) is directly
    comparable across the declared ANN family."""
    from pagerank_spark.operators.similarity import ann_ivf_adc

    emb = load_table(spark, sf_dir, "embeddings")
    queries_df = emb.where(F.col("vec_id") % 50 == 0)
    out = ann_ivf_adc(
        emb, queries_df, k=5, n_centroids=16, n_probe=4, bits=8
    )
    return out.select(
        "query_id", "nb_id", "cos", F.col("rank").cast("long").alias("rank")
    )


def q155_binary_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact tie-corrected ROC AUC (operators/analytics.py
    binary_auc): Mann-Whitney rank-sum of n_chars predicting
    lang='en' — the classifier-evaluation primitive, with the integer
    score domain forcing heavy tie-correction. One shuffle to the
    distinct-score relation; the rank window sees score cardinality,
    never corpus size."""
    from pagerank_spark.operators.analytics import binary_auc

    docs = load_table(spark, sf_dir, "documents")
    out = binary_auc(
        docs.select((F.col("lang") == "en").alias("y"), "n_chars"),
        "y",
        "n_chars",
    )
    return out.select("n_pos", "n_neg", F.round("auc", 9).alias("auc"))


def q156_pr_thresholds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gate-threshold tuning (operators/analytics.py
    pr_at_thresholds): precision/recall/F1 of ``n_chars >= t``
    predicting lang='en' over a 4-point cutoff grid. One
    distinct-score shuffle + a broadcast threshold join — the corpus
    is scanned once for the whole grid."""
    from pagerank_spark.operators.analytics import pr_at_thresholds

    docs = load_table(spark, sf_dir, "documents")
    out = pr_at_thresholds(
        docs.select((F.col("lang") == "en").alias("y"), "n_chars"),
        "y",
        "n_chars",
        [100.0, 150.0, 200.0, 250.0],
    )
    return out.select(
        "threshold",
        "tp",
        "fp",
        "fn",
        F.round("precision", 9).alias("precision"),
        F.round("recall", 9).alias("recall"),
        F.round("f1", 9).alias("f1"),
    )


def q157_token_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc token-distribution entropy + type-token ratio
    (operators/text.py token_entropy): the repetitiveness/diversity
    curation signal. One explode, one partial-combined count shuffle,
    one per-doc agg carrying Σc, vocab, and Σ c·ln c together — no
    second pass, no window. 6dp rounding absorbs libm ln ulps."""
    from pagerank_spark.operators.text import token_entropy

    docs = load_table(spark, sf_dir, "documents")
    out = token_entropy(docs)
    return out.select(
        "doc_id",
        "n_tokens",
        "vocab",
        F.round("entropy", 6).alias("entropy"),
        F.round("ttr", 6).alias("ttr"),
    )


def q158_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user EWMA over the event stream (operators/analytics.py
    ewma, α=0.25 — exactly binary-representable so 1−α is too): the
    smoothing/anomaly-baseline recurrence as a sequential Catalyst
    fold per key — one shuffle, per-key memory bounded by series
    length, no window over the full table. The twin makes the same
    fold with list_reduce, so every smoothed value matches at 6dp."""
    from pagerank_spark.operators.analytics import ewma

    ev = load_table(spark, sf_dir, "events")
    out = ewma(ev, "user_id", "ts", "value", alpha=0.25, id_col="event_id")
    # explicit floor(+0.5) rounding: the folded doubles land exactly ON
    # 5e-7 boundaries (2dp inputs x binary-exact 0.25 powers), where
    # engine ROUND conventions disagree — the quantization tier's tie
    # rule makes both engines break ties identically (values are >= 0)
    return out.select(
        "user_id",
        "event_id",
        "value",
        (F.floor(F.col("ewma") * 1e6 + F.lit(0.5)) / 1e6).alias("ewma"),
    )


def q159_random_walks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DeepWalk-style walk corpus (graph/walks.py random_walks): one
    4-step walk per source node, each step hash-selecting a neighbor
    from the dst-sorted adjacency — RNG-free, so the whole corpus is
    engine-reproducible and the twin unrolls the same four joins.
    Frontier joins only; no driver participation; dangling nodes end
    their walk early but keep the row."""
    from pagerank_spark.graph.walks import random_walks

    return random_walks(_edges(spark, sf_dir), steps=4)


def q160_skipgram_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skip-gram pair counts over the q159 walk corpus
    (graph/walks.py skipgram_pairs, window=2): the node2vec
    training-data emission. Window pairing is an equi-join on (walk,
    position) after a constant 2·window offset fan-out — no theta
    join; one partial-combined count shuffle."""
    from pagerank_spark.graph.walks import random_walks, skipgram_pairs

    return skipgram_pairs(
        random_walks(_edges(spark, sf_dir), steps=4), window=2
    )


def q161_ppmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PPMI weighting of the q160 co-occurrence relation
    (graph/walks.py ppmi_matrix) — the count-based embedding matrix
    skip-gram implicitly factorizes (Levy & Goldberg 2014). Two
    node-sized marginals broadcast back onto one pass of the pair
    table; no self-join. 6dp rounding absorbs ln ulps."""
    from pagerank_spark.graph.walks import (
        ppmi_matrix,
        random_walks,
        skipgram_pairs,
    )

    pairs = skipgram_pairs(
        random_walks(_edges(spark, sf_dir), steps=4), window=2
    )
    out = ppmi_matrix(pairs)
    return out.select(
        "center", "context", "cnt", F.round("ppmi", 6).alias("ppmi")
    )


def q162_table_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change data feed across three committed versions
    (pagerank_spark/table.py table_changes — the Delta CDF analogue):
    base snapshot → MERGE-upsert (q105's delta) → DELETE (% 16 keys),
    then the v0→v2 diff emits insert / delete / update_preimage /
    update_postimage rows from ONE null-safe full-outer join —
    O(|v0| + |v2|) however many versions lie between. The twin
    rebuilds both endpoint snapshots relationally and classifies with
    NOT EXISTS + IS DISTINCT FROM."""
    import shutil
    import tempfile

    from pagerank_spark import table as tbl

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderstatus",
        F.round("o_totalprice", 2).alias("tp"),
    )
    base = o.where(F.col("o_orderkey") % 4 == 0)
    delta = (
        o.where(F.col("o_orderkey") % 8 == 0)
        .withColumn("tp", F.round(F.col("tp") * 2, 2))
        .unionByName(o.where(F.col("o_orderkey") % 4 == 1))
    )
    # Per-call unique root + finally-cleanup (r10 ADVICE, q239): a
    # fixed md5(sf_dir) path races concurrent invocations and leaks.
    root = tempfile.mkdtemp(prefix="psq162_")
    try:
        v0 = tbl.write_table(base, root)
        tbl.upsert_table(spark, delta, root, keys=["o_orderkey"])
        v2 = tbl.delete_where(spark, root, F.col("o_orderkey") % 16 == 0)
        return tbl.table_changes(
            spark, root, v0, v2, keys=["o_orderkey"]
        ).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(root, ignore_errors=True)


def q163_cdf_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental aggregate refresh from the change feed
    (operators/relational.py apply_cdf_to_sums): the per-status
    (count, revenue) aggregate materialized at v0 is refreshed with
    the q162 CDF — and must equal a from-scratch aggregate of v2,
    which is exactly what the twin computes over the reconstructed
    endpoint. O(|cdf|) refresh, no join against the base table."""
    import shutil
    import tempfile

    from pagerank_spark import table as tbl
    from pagerank_spark.operators.relational import apply_cdf_to_sums

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderstatus",
        F.round("o_totalprice", 2).alias("tp"),
    )
    base = o.where(F.col("o_orderkey") % 4 == 0)
    delta = (
        o.where(F.col("o_orderkey") % 8 == 0)
        .withColumn("tp", F.round(F.col("tp") * 2, 2))
        .unionByName(o.where(F.col("o_orderkey") % 4 == 1))
    )
    # Per-call unique root + finally-cleanup (r10 ADVICE, q239): a
    # fixed md5(sf_dir) path races concurrent invocations and leaks.
    root = tempfile.mkdtemp(prefix="psq163_")
    try:
        v0 = tbl.write_table(base, root)
        tbl.upsert_table(spark, delta, root, keys=["o_orderkey"])
        v2 = tbl.delete_where(spark, root, F.col("o_orderkey") % 16 == 0)
        agg0 = (
            tbl.read_table(spark, root, version=v0)
            .groupBy("o_orderstatus")
            .agg(F.count("*").alias("n_rows"), F.sum("tp").alias("tp"))
        )
        cdf = tbl.table_changes(spark, root, v0, v2, keys=["o_orderkey"])
        refreshed = apply_cdf_to_sums(
            agg0, cdf, keys=["o_orderstatus"], sum_cols=["tp"]
        )
        return refreshed.select(
            "o_orderstatus",
            "n_rows",
            F.round("tp", 2).alias("revenue"),
        ).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(root, ignore_errors=True)


def q164_join_cardinality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pre-flight exact join-size prediction (operators/relational.py
    join_cardinality): |lineitem ⋈ events ON key| computed from the
    two per-key COUNT relations — the data tables are never joined.
    lineitem keyed by l_orderkey % 512 against events keyed by
    user_id % 512 makes a genuinely multiplicative many-to-many, the
    case this pre-flight exists to catch."""
    from pagerank_spark.operators.relational import join_cardinality

    li = load_table(spark, sf_dir, "lineitem").select(
        (F.col("l_orderkey") % 512).alias("k")
    )
    ev = load_table(spark, sf_dir, "events").select(
        (F.col("user_id") % 512).alias("k")
    )
    out = join_cardinality(li, ev, ["k"], top_n=10)
    return out.select(
        "k",
        "pairs",
        "total_pairs",
        F.round("blowup_left", 6).alias("blowup_left"),
        F.round("blowup_right", 6).alias("blowup_right"),
        "rank",
    )


def q165_winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group-wise winsorization (operators/relational.py winsorize):
    events.value clipped into its event_type's [p05, p95] band. The
    bound pass is the mergeable GK sketch (accuracy 1e6 → rank error
    < 1 row at oracle scale, q85's trick) and the bounds relation
    broadcasts back — one scan, no window over the raw stream."""
    from pagerank_spark.operators.relational import winsorize

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "value"
    )
    out = winsorize(ev, ["event_type"], "value", lower=0.05, upper=0.95)
    return out.select(
        "event_id",
        "event_type",
        "value",
        F.round("__lo", 2).alias("lo"),
        F.round("__hi", 2).alias("hi"),
        F.round("value_clipped", 2).alias("value_clipped"),
    )


def q166_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-drift report (operators/analytics.py psi_report):
    PSI of events.value between even and odd user cohorts on a pinned
    0..100 grid of 10 buckets (+under/overflow) with 0.5 additive
    smoothing. Two aggregation passes over the data, a ≤12-row
    full-outer join, scalar totals broadcast back. 6dp rounding
    absorbs ln ulps."""
    from pagerank_spark.operators.analytics import psi_report

    ev = load_table(spark, sf_dir, "events")
    out = psi_report(
        ev.where(F.col("user_id") % 2 == 0),
        ev.where(F.col("user_id") % 2 == 1),
        "value",
        0.0,
        100.0,
        n_buckets=10,
    )
    return out.select(
        "bucket",
        "n_ref",
        "n_cur",
        F.round("contrib", 9).alias("contrib"),
        F.round("psi", 9).alias("psi"),
    )


def q167_epoch_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic epoch-2 shuffle of the documents corpus into 4
    reader shards (operators/curation.py epoch_shuffle): md5(id#epoch)
    drives both shard and within-shard order, so every epoch is a
    fresh reproducible permutation with per-shard (parallel) windows
    and no global sort."""
    from pagerank_spark.operators.curation import epoch_shuffle

    docs = load_table(spark, sf_dir, "documents")
    return epoch_shuffle(docs, epoch=2, n_shards=4)


def q168_sql_interface(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The raw SQL front door: the same engine queried through
    ``spark.sql`` over registered temp views — a user of the
    reference's query surface can type ANSI SQL at this engine and
    Catalyst plans it identically to the DataFrame API (this query's
    twin is literally the same SQL text handed to DuckDB)."""
    for t in ("customer", "orders", "nation"):
        load_table(spark, sf_dir, t).createOrReplaceTempView(t)
    return spark.sql(
        """
        SELECT n.n_name AS n_name,
               COUNT(*) AS n_orders,
               ROUND(SUM(o.o_totalprice), 2) AS revenue
        FROM orders o
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation n ON c.c_nationkey = n.n_nationkey
        WHERE o.o_orderstatus = 'F'
        GROUP BY n.n_name
        """
    )


def q169_maximal_independent_set(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Deterministic Luby MIS over the derived graph
    (graph/components.py maximal_independent_set, 3 rounds): the
    distributed symmetry-breaking classic with hash priorities
    instead of RNG, so the selected set is engine-reproducible and
    the twin unrolls the identical three rounds. Per round one join +
    one min-agg over the shrinking live subgraph."""
    from pagerank_spark.graph.components import maximal_independent_set

    return maximal_independent_set(_edges(spark, sf_dir), rounds=3)


def q170_negative_samples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic word2vec negative sampling over the q160 pair
    relation (graph/walks.py negative_samples, k=2): integer
    inverse-CDF through the context unigram distribution — hash mod
    total mapped through cumulative count ranges, all-integer so the
    twin reproduces every sample; collisions flagged, not resampled.
    CDF is vocabulary-sized and broadcast."""
    from pagerank_spark.graph.walks import (
        negative_samples,
        random_walks,
        skipgram_pairs,
    )

    pairs = skipgram_pairs(
        random_walks(_edges(spark, sf_dir), steps=4), window=2
    )
    return negative_samples(pairs, k=2)


def q171_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranked retrieval (operators/text.py bm25_rank): top-20 docs for
    the query {spark, window, dup} under Lucene-variant BM25 — the
    query-term tf relation is filtered BEFORE its shuffle, df/N/avgdl
    ride broadcast scalars, and the rounded-6dp score drives the
    ranking (id asc tie-break) for cross-libm reproducibility."""
    from pagerank_spark.operators.text import bm25_rank

    docs = load_table(spark, sf_dir, "documents")
    return bm25_rank(docs, ["spark", "window", "dup"], top_k=20)


def q172_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated bigram-LM fluency (operators/text.py
    bigram_logprob): per-doc mean ln(0.75·c12/c1 + 0.25·c2/T) over
    adjacent word pairs — the word-ORDER-aware quality score one step
    up from q119's unigram model. Output bounded to doc_id % 7 == 0
    to keep the driver compare cheap; the model itself is trained on
    the FULL corpus."""
    from pagerank_spark.operators.text import bigram_logprob

    docs = load_table(spark, sf_dir, "documents")
    return bigram_logprob(docs).where(F.col("doc_id") % 7 == 0)


def q173_longest_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands (operators/analytics.py longest_streaks): each
    user's longest consecutive-active-day run via the day−row_number
    island key. The distinct (user, day) collapse runs BEFORE any
    window, so per-user window state is calendar-bounded, never
    event-volume-bounded."""
    from pagerank_spark.operators.analytics import longest_streaks

    return longest_streaks(load_table(spark, sf_dir, "events"))


def q174_scd2_dimension(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Type-2 SCD build (operators/analytics.py scd2_runs): collapse
    each user's event sequence into versioned runs of equal
    event_type with whole-second validity epochs — the two-row_number
    island difference shares one exchange+sort across both windows,
    and version ties under same-second starts break on the run's
    first event id (deterministic across engines)."""
    from pagerank_spark.operators.analytics import scd2_runs

    return scd2_runs(load_table(spark, sf_dir, "events"))


def q175_fuzzy_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity-resolution candidate pairs (operators/dedup.py
    fuzzy_blocked_pairs): distinct p_name values, blocked on the last
    token, in-block levenshtein ≤ 2 with the early-exit threshold —
    the collapse-then-block-then-verify ER shape (no cartesian,
    plan-asserted)."""
    from pagerank_spark.operators.dedup import fuzzy_blocked_pairs

    return fuzzy_blocked_pairs(
        load_table(spark, sf_dir, "part"), "p_name", max_dist=2
    )


def q176_profile_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column profiler (operators/validate.py profile_columns) over
    the orders fact: per-column rows/nulls/exact-distincts plus typed
    min/max (numerics and epoch-second timestamps in min_num/max_num,
    strings in min_str/max_str). One pruned single-column scan per
    branch, no Expand; approx_count_distinct is the documented 100 TB
    default, exact kept for the oracle."""
    from pagerank_spark.operators.validate import profile_columns

    return profile_columns(load_table(spark, sf_dir, "orders"))


def q177_er_resolve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity resolution end-to-end (operators/dedup.py er_resolve):
    q175's blocked fuzzy pairs closed transitively, one canonical
    (minimum) name per entity cluster over the distinct p_name values.
    The oracle embeds q175's pair SQL as a CTE and closes it with the
    q90-pattern recursive CTE — the whole resolve pipeline is
    hash-checked, not just the pair list."""
    from pagerank_spark.operators.dedup import er_resolve

    return er_resolve(load_table(spark, sf_dir, "part"), "p_name", max_dist=2)


def q178_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document 3-gram novelty (operators/dedup.py ngram_novelty):
    share of each doc's distinct word trigrams whose first corpus
    appearance (min doc_id) is this doc — the staleness/memorization
    curation signal. Inverted-index shape: one shingle explode, one
    min-per-shingle combine, one equality join back; no windows, no
    self-join."""
    from pagerank_spark.operators.dedup import ngram_novelty

    docs = load_table(spark, sf_dir, "documents").where(
        F.col("doc_id") % 3 == 0
    )
    return ngram_novelty(docs, "doc_id", "text", n=3)


def q179_zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus Zipf fit (operators/text.py zipf_slope): least-squares
    slope/intercept of ln(freq) ~ ln(rank) over the top-500 unigram
    terms — the one-row corpus-health gate. (term,freq) in one
    partial-combined shuffle; top-N via TakeOrderedAndProject; the
    rank window runs AFTER the limit (the q171 lesson)."""
    from pagerank_spark.operators.text import zipf_slope

    return zipf_slope(
        load_table(spark, sf_dir, "documents"), "text", top_n=500
    )


def q180_tpch_q22(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape (global-market opportunity): customers from a
    set of nations with above-average positive balances who have never
    ordered — the classic TWO-decorrelation query: a global scalar
    aggregate inside the filter (broadcast one-row cross join, never a
    per-row subquery) plus a NOT EXISTS anti join. Per-nation count +
    total balance. (q152/q153 cover Q5/Q10; this adds the
    scalar-subquery-in-filter + anti-join pattern. No c_phone in the
    fixture, so nation keys stand in for country codes.)"""
    nations = [1, 3, 5, 7, 9, 11, 13]
    c = load_table(spark, sf_dir, "customer").where(
        F.col("c_nationkey").isin(nations)
    )
    avg_bal = c.where(F.col("c_acctbal") > 0.0).agg(
        F.avg("c_acctbal").alias("__avg")
    )
    o = load_table(spark, sf_dir, "orders").select("o_custkey").distinct()
    return (
        c.crossJoin(F.broadcast(avg_bal))
        .where(F.col("c_acctbal") > F.col("__avg"))
        .join(o, F.col("c_custkey") == o["o_custkey"], "left_anti")
        .groupBy(F.col("c_nationkey").cast("long").alias("cntry"))
        .agg(
            F.count("*").alias("numcust"),
            F.round(F.sum("c_acctbal"), 2).alias("totacctbal"),
        )
        .orderBy("cntry")
    )


def q181_tpch_q15(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape (top supplier): period revenue per supplier,
    then the supplier(s) whose revenue EQUALS the global maximum — the
    argmax-by-scalar-subquery pattern (equality against a broadcast
    one-row max, not a top-k: ties all return). The revenue relation
    is supplier-sized, so the max and the equality join are both
    cheap regardless of fact size."""
    lo, hi = "1996-01-01", "1996-04-01"
    li = load_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit(lo).cast("timestamp"))
        & (F.col("l_shipdate") < F.lit(hi).cast("timestamp"))
    )
    rev = li.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        F.round(
            F.sum(
                F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
            ),
            2,
        ).alias("total_revenue")
    )
    mx = rev.agg(F.max("total_revenue").alias("__mx"))
    s = load_table(spark, sf_dir, "supplier")
    return (
        rev.crossJoin(F.broadcast(mx))
        .where(F.col("total_revenue") == F.col("__mx"))
        .join(
            F.broadcast(s), F.col("supplier_no") == s["s_suppkey"]
        )
        .select(
            F.col("s_suppkey").cast("long").alias("s_suppkey"),
            "s_name",
            "total_revenue",
        )
        .orderBy("s_suppkey")
    )


def q182_script_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document character-class profile: latin / digit / space /
    other counts plus the dominant class — the script-detection
    curation signal (mixed-script documents are the classic spam /
    mojibake tell). Pure fused codegen projection (regexp_replace
    length deltas), no shuffle beyond none: one scan."""
    docs = load_table(spark, sf_dir, "documents")
    text = F.col("text")
    n_latin = F.length(F.regexp_replace(text, "[^a-zA-Z]", ""))
    n_digit = F.length(F.regexp_replace(text, "[^0-9]", ""))
    n_space = F.length(F.regexp_replace(text, "[^ \t\n]", ""))
    n_other = F.length(text) - n_latin - n_digit - n_space
    dominant = (
        F.when(
            (n_latin >= n_digit) & (n_latin >= n_other), F.lit("latin")
        )
        .when(n_digit >= n_other, F.lit("digit"))
        .otherwise(F.lit("other"))
    )
    return docs.select(
        "doc_id",
        n_latin.cast("long").alias("n_latin"),
        n_digit.cast("long").alias("n_digit"),
        n_space.cast("long").alias("n_space"),
        n_other.cast("long").alias("n_other"),
        dominant.alias("dominant"),
    )


def q183_url_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL normalization via Spark's ``parse_url`` (crawl-pipeline
    front door: host/path/query extraction before per-domain policy).
    The fixture has no URL column, so one is synthesized
    deterministically from (source, lang, doc_id) — the q111
    augmentation pattern; the parse itself is what's hashed. DuckDB
    twin parses with anchored regexps."""
    docs = load_table(spark, sf_dir, "documents").where(
        F.col("doc_id") % 10 == 0
    )
    url = F.concat(
        F.lit("https://"),
        F.col("source"),
        F.lit(".example.com/"),
        F.col("lang"),
        F.lit("/doc-"),
        F.col("doc_id").cast("string"),
        F.lit("?ref=r"),
        (F.col("doc_id") % 7).cast("string"),
    )
    with_url = docs.select("doc_id", url.alias("url"))
    return with_url.select(
        "doc_id",
        "url",
        F.parse_url("url", F.lit("HOST")).alias("host"),
        F.parse_url("url", F.lit("PATH")).alias("path"),
        F.parse_url("url", F.lit("QUERY")).alias("query"),
    )


def q184_equidepth_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-depth histogram (operators/analytics.py
    equidepth_histogram) of lineitem extended prices into 8
    quantile-bounded bins: GK-sketch (approx_percentile) cutpoints as
    a broadcast one-row relation — the mergeable bounded-memory
    default, hash-exact vs quantile_disc at accuracy ≥ n (the q85
    equivalence) — bucket assignment as a scan-side fold; never ntile
    over a global window. Complements q100's equi-width form."""
    from pagerank_spark.operators.analytics import equidepth_histogram

    return equidepth_histogram(
        load_table(spark, sf_dir, "lineitem"), "l_extendedprice", buckets=8
    )


def q185_ktruss(spark: SparkSession, sf_dir: str) -> DataFrame:
    """4-truss edge peeling, 2 fixed rounds (graph/components.py
    ktruss): per-edge triangle support via the canonical two-join
    wedge closure, edges below support 2 dropped, support recomputed
    on the survivors. The oracle unrolls both rounds. Community-core
    mining one notch stronger than k-core (q88)."""
    from pagerank_spark.graph.components import ktruss

    edges = _edges(spark, sf_dir).where(F.col("src") % 4 == 0)
    return ktruss(edges, k=4, rounds=2)


def q186_groupwise_ols(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group OLS fit (operators/analytics.py groupwise_ols) of
    extendedprice ~ quantity per (returnflag, linestatus), declared on
    the ``sql`` engine — Catalyst's algebraic regr_count/slope/
    intercept/r2 moment aggregates in one partial-combined hash
    aggregation, the plan you'd run at 100 TB (q84 precedent, applied
    after AB_BENCH_r10.json adjudicated the r09 bench uptick as host
    drift and measured sql 1.5× faster than the Arrow arm). The
    ``arrow`` applyInPandas engine — the template for fits SQL can't
    express — stays pinned value-equal by
    ``test_groupwise_ols_engines_agree``, and a plan test pins this
    query to a single aggregate exchange with no ArrowEvalPython."""
    from pagerank_spark.operators.analytics import groupwise_ols

    return groupwise_ols(
        load_table(spark, sf_dir, "lineitem"),
        ["l_returnflag", "l_linestatus"],
        "l_quantity",
        "l_extendedprice",
        engine="sql",
    )


def q187_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric shingle containment (operators/dedup.py
    containment_pairs): quote/sub-document detection — pairs where
    either direction's containment |A∩B|/|A| reaches 0.8 on unigram
    shingles, verified ONLY over MinHash-LSH banded candidates (the
    q27 candidate generator feeding the q187 verifier). The candidate
    join bounds pair work by |candidates|·|shingles per doc| — the
    uncapped inverted-index self-join this query declared through
    round 8 goes F²-quadratic on any shingle in F docs (round-8
    verdict's one scale-killer) and is no longer a declared plan."""
    from pagerank_spark.operators.dedup import (
        containment_pairs,
        lsh_candidate_pairs,
        minhash_signatures,
        word_shingles,
    )

    docs = load_table(spark, sf_dir, "documents").where(
        F.col("doc_id") % 7 == 0
    )
    sh = word_shingles(docs, "doc_id", "text", n=1)
    cands = lsh_candidate_pairs(
        minhash_signatures(sh, "doc_id"), "doc_id"
    )
    return containment_pairs(
        docs, "doc_id", "text", n=1, threshold=0.8,
        candidates=cands, shingled=sh,
    )


def q188_leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup-aware train/val/test split (operators/dedup.py
    leakage_safe_split): the md5 split coin is tossed on the near-dup
    CLUSTER canonical id so near-copies land in the same split — the
    leakage guard q120's per-doc split lacks. Oracle: q90's
    recursive-CTE clustering composed with q120's coin SQL on the
    canonical id."""
    from pagerank_spark.operators.dedup import leakage_safe_split

    docs = load_table(spark, sf_dir, "documents").where(
        F.col("doc_id") % 5 == 0
    )
    return leakage_safe_split(
        docs, "doc_id", "text", n=1, threshold=0.9,
        val_frac=0.1, test_frac=0.1, seed="split-v1",
    )


def q189_quality_stratified_sample(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Quality-curriculum resampling: bucket documents by quality
    score (fixed grid, deterministic), then ``sample_to_mix`` toward a
    quality-weighted target mix (keep more high-quality) — the
    composition a data-curriculum pipeline actually runs. All
    md5-coin, no RNG; the twin replays the same score, bucket, plan
    and coin arithmetic."""
    from pagerank_spark.operators.curation import sample_to_mix
    from pagerank_spark.operators.text import quality_score

    docs = quality_score(
        load_table(spark, sf_dir, "documents"), "text"
    ).select(
        "doc_id",
        F.least(
            F.floor(F.col("quality") * 4).cast("int"), F.lit(3)
        ).cast("string").alias("qb"),
    )
    out = sample_to_mix(
        docs,
        group_col="qb",
        weights={"0": 0.1, "1": 0.2, "2": 0.3, "3": 0.4},
        id_col="doc_id",
        salt="quality-mix",
    )
    return out.select("doc_id", "qb")


def q190_daily_top_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-day top-3 event types by count with a PARTITIONED rank
    window — the shape where Spark's rank-limit pushdown
    (InferWindowGroupLimit → WindowGroupLimit) DOES fire, asserted by
    plan test: partial per-partition top-k before the exchange, the
    complement of the q171 empty-partition lesson."""
    ev = load_table(spark, sf_dir, "events")
    day = F.unix_date(F.to_date("ts")).cast("long")
    counts = (
        ev.groupBy(day.alias("day"), "event_type")
        .agg(F.count("*").alias("n"))
    )
    from pyspark.sql import Window

    w = Window.partitionBy("day").orderBy(
        F.desc("n"), F.asc("event_type")
    )
    return (
        counts.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= 3)
        .select("day", "event_type", "n", "rk")
    )


def q191_pq_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ADC top-k (operators/similarity.py
    pq_adc_topk, Jegou et al. 2011): corpus compressed to 4x4-bit
    subspace codes, queries full-precision, scores via per-query
    inner-product tables — n_subspaces lookups per pair instead of a
    dim-length dot. Declared refine-free (seed codebooks, the
    q36/q73 engine-reproducibility pattern; production uses
    refine>=1, pytest-verified at topic precision 1.0 on structured
    embeddings). Same schema/queries as q28/q147 so the
    compression-recall trade is directly comparable."""
    from pagerank_spark.operators.similarity import pq_adc_topk

    emb = load_table(spark, sf_dir, "embeddings")
    queries_df = emb.where(F.col("vec_id") % 50 == 0)
    out = pq_adc_topk(
        emb, queries_df, k=5, n_subspaces=4, n_codes=16, refine=0
    )
    return out.select(
        "query_id", "nb_id", "cos", F.col("rank").cast("long").alias("rank")
    )


def q192_sorted_neighborhood(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sorted-neighborhood ER blocking (the classic alternative to
    q175's key blocking): distinct names ranked in lexicographic
    order, pairs generated within a rank window of 3, verified by
    thresholded levenshtein (operators/dedup.py
    sorted_neighborhood_pairs). The global rank is a distributed
    two-level prefix sum over order-preserving string-prefix blocks —
    never an unpartitioned row_number window — and pairing is an
    equi-join on rank offsets, no self-cartesian. Catches near-dups
    key blocking splits (typos in the blocking key itself)."""
    from pagerank_spark.operators.dedup import sorted_neighborhood_pairs

    return sorted_neighborhood_pairs(
        load_table(spark, sf_dir, "part").select(
            F.col("p_name").alias("name")
        ),
        "name",
        window=3,
        max_dist=2,
    )


def q193_event_type_cooccurrence(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Frequent event-type pair mining (market-basket over user
    baskets): distinct (user, type) relation self-joined on the user
    with type_a < type_b, support-thresholded — the association
    primitive for feature co-occurrence audits. Type-space is tiny so
    the pair relation is bounded; the only corpus-sized work is the
    distinct collapse (one partial-combined shuffle)."""
    ev = load_table(spark, sf_dir, "events")
    ut = ev.select("user_id", "event_type").distinct()
    a = ut.select("user_id", F.col("event_type").alias("type_a"))
    b = ut.select("user_id", F.col("event_type").alias("type_b"))
    users = ut.agg(
        F.count_distinct("user_id").cast("double").alias("__users")
    )
    return (
        a.join(b, on="user_id")
        .where(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(F.count("*").alias("support"))
        .where(F.col("support") >= 10)
        .crossJoin(F.broadcast(users))
        .select(
            "type_a",
            "type_b",
            "support",
            F.round(F.col("support") / F.col("__users"), 6).alias(
                "lift_base"
            ),
        )
    )


def q194_corr_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature correlation matrix (operators/relational.py
    corr_matrix): pairwise Pearson corr of four lineitem numerics in
    ONE aggregation pass (k² algebraic corr expressions, one scan —
    never k² scans). Upper triangle, 6dp, SQL corr NULL semantics."""
    from pagerank_spark.operators.relational import corr_matrix

    return corr_matrix(
        load_table(spark, sf_dir, "lineitem"),
        ["l_quantity", "l_extendedprice", "l_discount", "l_tax"],
    )


def q195_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch reading-ease per document — the classic readability
    quality signal (public formula: 206.835 - 1.015·words/sentences -
    84.6·syllables/words), with syllables approximated by VOWEL RUNS
    (the standard regex proxy) and sentences by terminator runs, both
    floored at 1. Pure fused-codegen projection; deterministic, so
    the twin replays the identical regexp arithmetic."""
    docs = load_table(spark, sf_dir, "documents")
    text = F.col("text")
    words = F.size(
        F.regexp_extract_all(text, F.lit("[A-Za-z]+"), F.lit(0))
    )
    sents = F.greatest(
        F.size(F.regexp_extract_all(text, F.lit("[.!?]+"), F.lit(0))),
        F.lit(1),
    )
    sylls = F.greatest(
        F.size(
            F.regexp_extract_all(
                F.lower(text), F.lit("[aeiouy]+"), F.lit(0)
            )
        ),
        F.lit(1),
    )
    w = F.greatest(words, F.lit(1))
    score = (
        F.lit(206.835)
        - F.lit(1.015) * (w / sents)
        - F.lit(84.6) * (sylls / w)
    )
    return docs.select(
        "doc_id",
        words.cast("long").alias("n_words"),
        sents.cast("long").alias("n_sents"),
        sylls.cast("long").alias("n_sylls"),
        F.round(score, 6).alias("flesch"),
    )


def q196_lang_source_mi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual information between lang and source
    (operators/stats.py mutual_information) — the is-this-metadata-
    column-informative audit before using it as a training feature.
    One corpus groupBy to the joint-count relation; marginals and MI
    arithmetic over that tiny relation only."""
    from pagerank_spark.operators.stats import mutual_information

    return mutual_information(
        load_table(spark, sf_dir, "documents"), "lang", "source"
    )


def q197_markov_transitions(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """First-order Markov transition matrix of per-user event
    sequences (operators/stats.py markov_transitions): lag window
    partitioned by user (total order: ts, event_id), collapse to the
    type×type relation, row-normalize with a window over THAT."""
    from pagerank_spark.operators.stats import markov_transitions

    return markov_transitions(load_table(spark, sf_dir, "events"))


def q198_welch_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's unequal-variance t-test of event value between the
    click and purchase arms (operators/stats.py welch_ttest): six
    conditional aggregates in ONE pruned scan, then scalar algebra —
    the did-the-metric-move readout for curation experiments."""
    from pagerank_spark.operators.stats import welch_ttest

    return welch_ttest(
        load_table(spark, sf_dir, "events"),
        "value",
        "event_type",
        "click",
        "purchase",
    )


def q199_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median-absolute-deviation outlier summary of order totals
    (operators/stats.py mad_outliers): robust z = 0.6745·(x−med)/MAD,
    outliers past 3.5 (Iglewicz–Hoaglin). Exact percentiles keep the
    twin byte-comparable; at 100 TB the same plan runs on
    approx_percentile with a pinned accuracy."""
    from pagerank_spark.operators.stats import mad_outliers

    return mad_outliers(load_table(spark, sf_dir, "orders"), "o_totalprice")


def q200_ab_assign_srm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic salted-md5 A/B assignment of users + the
    sample-ratio-mismatch χ² (operators/stats.py ab_assign_srm):
    per-unit collapse, two-cell arm relation, χ² window over it. The
    first check any experiment readout runs — a big χ² voids the
    experiment before anyone reads the means."""
    from pagerank_spark.operators.stats import ab_assign_srm

    return ab_assign_srm(
        load_table(spark, sf_dir, "events"), "user_id", "value"
    )


def q201_jackknife_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delete-one-bucket jackknife 95% CI for the mean event value
    (operators/stats.py jackknife_ci): md5-bucketed pseudo-replicates
    (RNG-free, twin-replayable), leave-one-out means from ONE
    corpus pass — the distributed substitute for the R-pass
    bootstrap."""
    from pagerank_spark.operators.stats import jackknife_ci

    return jackknife_ci(
        load_table(spark, sf_dir, "events"),
        "value",
        buckets=50,
        id_expr="CAST(event_id AS STRING)",
    )


def q202_spearman_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation of quantity vs extended price
    (operators/stats.py spearman_corr): average-rank ties computed
    from the DISTINCT-VALUE relations (never a global row_number over
    the corpus), one Pearson corr over the ranked pairs."""
    from pagerank_spark.operators.stats import spearman_corr

    return spearman_corr(
        load_table(spark, sf_dir, "lineitem"),
        "l_quantity",
        "l_extendedprice",
    )


def q203_chi2_independence(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """χ² test of independence between order status and priority
    (operators/stats.py chi2_independence): full marginal-cross
    expected grid (zero joint cells included), one corpus pass."""
    from pagerank_spark.operators.stats import chi2_independence

    return chi2_independence(
        load_table(spark, sf_dir, "orders"),
        "o_orderstatus",
        "o_orderpriority",
    )


def q204_benford_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford first-digit audit of order totals
    (operators/validate.py benford_audit): digit from the integer
    part's decimal string (bit-identical across engines, no log10
    ulp hazard), 9-row digit relation + χ² window."""
    from pagerank_spark.operators.validate import benford_audit

    return benford_audit(
        load_table(spark, sf_dir, "orders"), "o_totalprice"
    )


def q205_source_concentration(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Corpus concentration by source, char-weighted
    (operators/analytics.py concentration_report): HHI, Gini
    (sorted-rank formula over the GROUP relation), top share — the
    is-one-domain-dominating check before a training mix is frozen."""
    from pagerank_spark.operators.analytics import concentration_report

    return concentration_report(
        load_table(spark, sf_dir, "documents"), "source", "n_chars"
    )


def q206_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit of customers over the quasi-identifier pair
    (nation, market segment) at k=5 (operators/validate.py
    k_anonymity): group-size relation + one summary aggregate."""
    from pagerank_spark.operators.validate import k_anonymity

    return k_anonymity(
        load_table(spark, sf_dir, "customer"),
        ["c_nationkey", "c_mktsegment"],
        k=5,
    )


def q207_cusum_changepoint(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """CUSUM change-point over the daily mean event value
    (operators/stats.py cusum_changepoint): day relation from one
    corpus pass, running Σ(mean_d − grand_mean) and argmax as windows
    over days — Page's drift test for pipeline telemetry."""
    from pagerank_spark.operators.stats import cusum_changepoint

    return cusum_changepoint(load_table(spark, sf_dir, "events"), "value")


def q208_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM customer segmentation (operators/analytics.py
    rfm_segments): per-customer recency/frequency/monetary from one
    orders pass, quintile scores via deterministic-tiebreak ntile
    over the customer relation, grid summarized per segment code."""
    from pagerank_spark.operators.analytics import rfm_segments

    return rfm_segments(load_table(spark, sf_dir, "orders"))


def q209_tpch_q6(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape (forecast revenue change): pure filter +
    aggregate over lineitem — every predicate (date year, discount
    band, quantity cap) reaches the parquet scan as a pushed filter;
    the whole query is one partial-agg scan, zero joins, zero
    shuffles beyond the final scalar combine."""
    li = load_table(spark, sf_dir, "lineitem")
    d = F.to_date("l_shipdate")
    return (
        li.where(
            (d >= F.lit("1996-01-01").cast("date"))
            & (d < F.lit("1997-01-01").cast("date"))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2
            ).alias("revenue"),
            F.count("*").alias("n_items"),
        )
    )


def q210_tpch_q14(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape (promotion effect): one month of lineitem ⋈
    broadcast part, promo share as a conditional-aggregate ratio —
    the date filter prunes the fact scan, the dimension broadcasts,
    and the ratio needs no second pass."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    d = F.to_date("l_shipdate")
    price = F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    return (
        li.where(
            (d >= F.lit("1997-03-01").cast("date"))
            & (d < F.lit("1997-04-01").cast("date"))
        )
        .join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .agg(
            F.round(
                F.lit(100.0)
                * F.sum(
                    F.when(F.col("p_type") == "PROMO", price).otherwise(
                        0.0
                    )
                )
                / F.sum(price),
                6,
            ).alias("promo_share_pct"),
            F.count("*").alias("n_items"),
        )
    )


def q211_tpch_q17(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape (small-quantity-order revenue), adapted to the
    fixture's part columns (brand + size band instead of brand +
    container): for Brand#9 parts of size < 10, revenue from lines
    whose quantity is below 20% of that part's average. The per-part
    average is a window over the ALREADY part-filtered join — a
    key-partitioned window on the reduced subset, never a second
    corpus scan (the classic correlated subquery becomes one
    shuffle)."""
    from pyspark.sql import Window

    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").where(
        (F.col("p_brand") == "Brand#9") & (F.col("p_size") < 10)
    )
    joined = li.join(
        F.broadcast(p), F.col("l_partkey") == F.col("p_partkey")
    )
    avg_q = F.avg("l_quantity").over(Window.partitionBy("p_partkey"))
    return (
        joined.withColumn("avg_q", avg_q)
        .where(F.col("l_quantity") < 0.2 * F.col("avg_q"))
        .agg(
            F.round(F.sum("l_extendedprice") / 7.0, 2).alias(
                "avg_yearly"
            ),
            F.count("*").alias("n_lines"),
        )
    )


def q212_tpch_q19(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape (discounted revenue, disjunctive brackets),
    adapted to the fixture's part columns: an equi-join on partkey
    whose residual predicate is an OR of three (brand, size band,
    quantity band) brackets. Catalyst keeps the equi-join hashable
    and pushes the brand IN-list + max size bound to the part scan —
    the OR never degenerates into a nested-loop join."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    b1 = (
        (F.col("p_brand") == "Brand#1")
        & (F.col("p_size").between(1, 5))
        & (F.col("l_quantity").between(1, 11))
    )
    b2 = (
        (F.col("p_brand") == "Brand#13")
        & (F.col("p_size").between(1, 10))
        & (F.col("l_quantity").between(10, 20))
    )
    b3 = (
        (F.col("p_brand") == "Brand#20")
        & (F.col("p_size").between(1, 15))
        & (F.col("l_quantity").between(20, 30))
    )
    return (
        li.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .where(b1 | b2 | b3)
        .agg(
            F.round(
                F.sum(
                    F.col("l_extendedprice")
                    * (F.lit(1.0) - F.col("l_discount"))
                ),
                2,
            ).alias("revenue"),
            F.count("*").alias("n_lines"),
        )
    )


def q213_tpch_q8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape (national market share): ECONOMY-type parts
    ordered 1996–1997 by customers in region 2, per-year share of
    volume supplied by NATION_7. Six-table topology: the two facts
    shuffle once on their join keys; part, customer-side nation ⋈
    region, and the supplier-side nation map all broadcast. The share
    is a conditional-aggregate ratio per year — no self-join."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    cust_nat = c.join(
        F.broadcast(
            n.join(
                F.broadcast(r.where(F.col("r_name") == "ASIA")),
                F.col("n_regionkey") == F.col("r_regionkey"),
            )
        ),
        F.col("c_nationkey") == F.col("n_nationkey"),
    ).select("c_custkey")
    supp_nat = s.join(
        F.broadcast(
            n.select(
                F.col("n_nationkey").alias("sn_key"),
                F.col("n_name").alias("supp_nation"),
            )
        ),
        F.col("s_nationkey") == F.col("sn_key"),
    ).select("s_suppkey", "supp_nation")
    p = load_table(spark, sf_dir, "part").where(
        F.col("p_type") == "ECONOMY"
    )
    od = F.to_date("o_orderdate")
    vol = F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    return (
        li.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .join(
            o.where(
                (od >= F.lit("1996-01-01").cast("date"))
                & (od <= F.lit("1997-12-31").cast("date"))
            ),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(F.broadcast(cust_nat), F.col("o_custkey") == F.col("c_custkey"))
        .join(
            F.broadcast(supp_nat),
            F.col("l_suppkey") == F.col("s_suppkey"),
        )
        .groupBy(F.year(F.to_date("o_orderdate")).alias("o_year"))
        .agg(
            F.round(
                F.sum(
                    F.when(
                        F.col("supp_nation") == "NATION_7", vol
                    ).otherwise(0.0)
                )
                / F.sum(vol),
                6,
            ).alias("mkt_share"),
            F.count("*").alias("n_lines"),
        )
    )


def q214_tpch_q4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape (order priority checking), adapted to the
    fixture's date columns (ship-lag instead of commit/receipt): per
    priority, orders from one quarter having at least one line
    shipped more than 60 days after the order date. LEFT SEMI join
    with a mixed equi + non-equi condition — the fact pair shuffles
    once on orderkey; EXISTS never materializes duplicates."""
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    od = F.to_date("o_orderdate")
    orders_q = o.where(
        (od >= F.lit("1996-07-01").cast("date"))
        & (od < F.lit("1996-10-01").cast("date"))
    )
    cond = (F.col("l_orderkey") == F.col("o_orderkey")) & (
        F.to_date("l_shipdate") > F.date_add(F.to_date("o_orderdate"), 60)
    )
    return (
        orders_q.join(li, cond, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
    )


def q215_kaplan_meier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan–Meier retention curve over user lifetimes
    (operators/stats.py kaplan_meier): each user is a unit with
    duration = active hours (hour-bucket span between first and last
    event) and observed = the user's final event (by ts, event_id) is
    a purchase — i.e. the "death" is a terminal conversion; everyone
    else is right-censored at their last sighting. One corpus pass
    collapses units to the distinct-time relation; at-risk counts and
    the running survival product are windows over event TIMES (a few
    dozen rows), never over units."""
    from pagerank_spark.operators.stats import kaplan_meier

    ev = load_table(spark, sf_dir, "events")
    h = F.floor(F.unix_timestamp("ts") / 3600).cast("long")
    per_user = (
        ev.select("user_id", h.alias("h"), "ts", "event_id", "event_type")
        .groupBy("user_id")
        .agg(
            (F.max("h") - F.min("h")).alias("duration"),
            (
                F.max_by(
                    "event_type",
                    F.format_string(
                        "%012d-%012d",
                        F.unix_timestamp("ts"),
                        F.col("event_id"),
                    ),
                )
                == F.lit("purchase")
            ).alias("observed"),
        )
    )
    return kaplan_meier(per_user, "duration", "observed")


def q216_tpch_q7(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 (volume shipping, adapted to the fixture schema):
    revenue flowing between supplier-nation NATION_1 and
    customer-nation NATION_2 (both directions) by ship year, over a
    two-year window. Plan shape: lineitem joins orders on orderkey
    (the only fact-fact shuffle), then dimension hops
    supplier→nation and customer→nation broadcast; the nation-pair
    disjunction filters AFTER both nation names are attached — on the
    25-row broadcast side, never as a residual on the fact."""
    li = load_table(spark, sf_dir, "lineitem").where(
        F.col("l_shipdate").between("1995-01-01", "1996-12-31")
    )
    o = load_table(spark, sf_dir, "orders")
    n = load_table(spark, sf_dir, "nation")
    sup = (
        load_table(spark, sf_dir, "supplier")
        .join(
            F.broadcast(n.select("n_nationkey", F.col("n_name").alias("supp_nation"))),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey", "supp_nation")
    )
    cust = (
        load_table(spark, sf_dir, "customer")
        .join(
            F.broadcast(n.select("n_nationkey", F.col("n_name").alias("cust_nation"))),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .select("c_custkey", "cust_nation")
    )
    pair_ok = (
        (F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2")
    ) | (
        (F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1")
    )
    return (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(sup.where(F.col("supp_nation").isin("NATION_1", "NATION_2"))),
              F.col("l_suppkey") == F.col("s_suppkey"))
        .join(cust.where(F.col("cust_nation").isin("NATION_1", "NATION_2")),
              F.col("o_custkey") == F.col("c_custkey"))
        .where(pair_ok)
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").alias("l_year"),
        )
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
            ).alias("revenue")
        )
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


def q217_tpch_q9(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 (product-type profit, adapted: the fixture has no
    partsupp, so profit is revenue net of tax instead of net of
    supplycost; the part filter keeps PROMO types). Plan shape:
    lineitem filters to PROMO parts by a broadcast semi-ish join on
    part, joins orders for the year, supplier→nation broadcast for
    the grouping nation."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").where(
        F.col("p_type") == "PROMO"
    ).select("p_partkey")
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", F.year("o_orderdate").alias("o_year")
    )
    n = load_table(spark, sf_dir, "nation")
    sup = (
        load_table(spark, sf_dir, "supplier")
        .join(
            F.broadcast(n.select("n_nationkey", F.col("n_name").alias("nation"))),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey", "nation")
    )
    # exact money arithmetic: a DOUBLE sum depends on summation order,
    # which flipped the 4th decimal of one group against the twin at
    # sf0.1; the decimal product and sum are exact on both engines
    dec = lambda c: F.col(c).cast("decimal(15,2)")  # noqa: E731
    amount = dec("l_extendedprice") * (1 - dec("l_discount")) * (
        1 - dec("l_tax")
    )
    return (
        li.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(sup), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("nation", "o_year")
        .agg(F.round(F.sum(amount), 4).cast("double").alias("sum_profit"))
        .orderBy("nation", F.col("o_year").desc())
    )


def q218_tpch_q13(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 (customer order-count distribution, adapted: the
    fixture has no o_comment so no comment exclusion): LEFT join
    customer→orders so zero-order customers keep c_count = 0, count
    orders per customer, then the distribution of customers by that
    count. Two partial-combined aggregations, one outer shuffle join
    — the distribution relation is order-count-space sized."""
    c = load_table(spark, sf_dir, "customer").select("c_custkey")
    o = load_table(spark, sf_dir, "orders").select("o_custkey", "o_orderkey")
    per = (
        c.join(o, F.col("c_custkey") == F.col("o_custkey"), "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per.groupBy("c_count")
        .agg(F.count("*").alias("custdist"))
        .orderBy(F.col("custdist").desc(), F.col("c_count").desc())
    )


def q219_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-allocation stratified sample (operators/curation.py
    stratified_exact_sample): exactly ceil(0.2 · n) docs per
    (lang, source) stratum, selected by portable-md5 rank — the
    balanced-eval-set / per-language-quota primitive, with nested
    samples for free (rank ≤ k is always the k/n sample). Per-stratum
    row_number window (partitioned — parallelism = stratum count),
    one broadcast count join; selection is engine-reproducible, which
    is exactly what the DuckDB twin replays."""
    from pagerank_spark.operators.curation import stratified_exact_sample

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source"
    )
    return stratified_exact_sample(
        docs, ["lang", "source"], 0.2, "doc_id"
    ).select(
        "doc_id", "lang", "source", F.col("__rk").cast("long").alias("rk")
    )


def q220_event_acf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation of the daily event-count series at lags 1–7
    (operators/analytics.py autocorrelation) — the seasonality
    diagnostic (a weekly cycle spikes lag 7). One corpus pass builds
    the day-bucket series; the ACF works entirely on that bucket
    relation: global mean/SS as a broadcast one-row relation, one
    equi-join per the exploded lag set. Classic estimator (global
    mean + global SS denominator), matching statsmodels' acf."""
    from pagerank_spark.operators.analytics import autocorrelation

    ev = load_table(spark, sf_dir, "events")
    series = ev.groupBy(
        F.floor(F.unix_timestamp("ts") / 86400).cast("long").alias("d")
    ).agg(F.count("*").cast("double").alias("n_events"))
    return autocorrelation(series, "d", "n_events", max_lag=7).orderBy("lag")


def q221_image_ahash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual-hash image dedup under the oracle
    (operators/multimodal.py ahash_image + hamming_near_dup_pairs):
    every 10th doc id becomes a synthetic 64×48 P6 image with PLANTED
    near-dup structure (group = id/40 shares a base pattern, variant =
    (id/10) mod 4 perturbs one corner region); the REAL pipeline
    decodes the bytes, average-hashes into 64 integer-exact bits (four
    16-bit bands), and pairs via the banded Hamming join (pigeonhole:
    distance ≤ 3 ⇒ one of 4 bands equal — candidate generation is an
    equi-join, never an all-pairs scan). The DuckDB twin integrates
    the pixel formula over generate_series and reproduces hash and
    pairs without ever seeing a byte — a hash match proves the decoder
    and the hasher, end to end."""
    from pagerank_spark.operators.multimodal import (
        ahash_image,
        hamming_near_dup_pairs,
        synthesize_ppm_variant_media,
    )

    ids = (
        load_table(spark, sf_dir, "documents")
        .where(F.col("doc_id") % 10 == 0)
        .select(
            F.col("doc_id").alias("media_id"),
            (F.col("doc_id") / 40).cast("long").alias("grp"),
            ((F.col("doc_id") / 10) % 4).cast("long").alias("variant"),
        )
    )
    media = synthesize_ppm_variant_media(ids)
    return hamming_near_dup_pairs(ahash_image(media), max_dist=3).orderBy(
        "id_a", "id_b"
    )


def q222_word_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word-pair PMI within a 2-token window (operators/text.py
    word_pmi_pairs) — the distributional-semantics / collocation
    signal (SGNS factorizes shifted PMI; Levy & Goldberg 2014). ONE
    tokenization feeds ONE per-doc lead() window; unigrams, pairs,
    and both scalars derive from that single corpus exchange
    (runtime-reused, plan-asserted) — never a per-doc cross join or
    a re-tokenizing self-join."""
    from pagerank_spark.operators.text import word_pmi_pairs

    return word_pmi_pairs(
        load_table(spark, sf_dir, "documents"), window=2, min_count=10
    ).orderBy("term_a", "term_b")


def q223_feature_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Signed hashing-trick features over (lang, source)
    (operators/text.py feature_hash): portable-md5 index + sign, no
    vocabulary relation at all — the memoryless categorical encoder
    (Weinberger 2009) a 100 TB pipeline uses instead of a fitted
    dictionary. Sparse long-form output; collisions sum (scikit-learn
    FeatureHasher semantics)."""
    from pagerank_spark.operators.text import feature_hash

    return feature_hash(
        load_table(spark, sf_dir, "documents"),
        ["lang", "source"],
        n_features=64,
    ).orderBy("doc_id", "feature_index")


def q224_percentile_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mid-rank percentile transform of l_extendedprice
    (operators/stats.py percentile_rank) — rank-uniform feature
    scaling over a CONTINUOUS column, where distinct ≈ corpus: the
    tie-averaged ranks come from the spearman-style distributed
    two-level prefix sum over deterministic value-range blocks (never
    an unpartitioned corpus window), then join back to rows by value
    equality."""
    from pagerank_spark.operators.stats import percentile_rank

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_extendedprice"
    )
    return percentile_rank(li, "l_extendedprice").select(
        "l_orderkey", "l_linenumber", "pct_rank"
    )


def q225_funnel_times(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered-funnel completion times view → click → purchase
    (operators/analytics.py funnel_stage_times): the earliest time
    each stage is reached STRICTLY AFTER the previous one, NULL from
    the first never-completed stage. One conditional-min aggregation
    per stage; the stage dependency is a |users|-row join, never a
    window over the raw stream."""
    from pagerank_spark.operators.analytics import funnel_stage_times

    return funnel_stage_times(
        load_table(spark, sf_dir, "events"), ["view", "click", "purchase"]
    ).orderBy("user_id")


def q226_cuped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED variance reduction (operators/stats.py cuped_adjustment;
    Deng et al. 2013): per-user pre-metric (click value) vs
    post-metric (purchase value), θ = cov/var and the realized
    variance reduction. One corpus pass to units, one algebraic
    aggregate after."""
    from pagerank_spark.operators.stats import cuped_adjustment

    ev = load_table(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.coalesce(
            F.sum(F.when(F.col("event_type") == "click", F.col("value"))),
            F.lit(0.0),
        ).alias("pre"),
        F.coalesce(
            F.sum(F.when(F.col("event_type") == "purchase", F.col("value"))),
            F.lit(0.0),
        ).alias("post"),
    )
    return cuped_adjustment(per_user, "user_id", "pre", "post")


def q227_ab_ztest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-proportion z-test over the deterministic salted-md5 A/B
    split (operators/stats.py two_proportion_ztest): per-arm
    conversion (a heavy purchaser: >= 14 purchases) and the pooled z — the binary readout
    paired with q200's SRM check (same assignment hash)."""
    from pagerank_spark.operators.stats import two_proportion_ztest

    return two_proportion_ztest(
        load_table(spark, sf_dir, "events"),
        "user_id",
        "SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) >= 14",
    )


def q228_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling without replacement, 3 docs per language by
    text length (operators/curation.py weighted_sample_wor;
    Efraimidis–Spirakis A-ES): portable-md5 coin u, survive if
    ln(u)/w is among the group's 3 largest — exact-k AND
    weight-proportional, one per-group window, no RNG."""
    from pagerank_spark.operators.curation import weighted_sample_wor

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", F.length("text").alias("w")
    )
    return weighted_sample_wor(
        docs, "w", 3, "doc_id", group_cols=["lang"]
    ).select("lang", F.col("__rk").cast("long").alias("rk"), "doc_id", "w")


def q229_seasonal_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classical additive seasonal decomposition of the daily
    event-count series, period 7 (operators/analytics.py
    seasonal_decompose): centered width-7 moving-average trend (NULL
    at edges), phase-mean seasonal centered to sum ~0, residual —
    the companion to q220's ACF. All windows run on the day relation
    (bucket-space sized); the phase means are a 7-row broadcast."""
    from pagerank_spark.operators.analytics import seasonal_decompose

    ev = load_table(spark, sf_dir, "events")
    series = ev.groupBy(
        F.floor(F.unix_timestamp("ts") / 86400).cast("long").alias("d")
    ).agg(F.count("*").cast("double").alias("n_events"))
    return seasonal_decompose(series, "d", "n_events", period=7).orderBy("t")


def q230_groupwise_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-nation Gini of customer account balances via the
    GROUPED_AGG pandas_udf UDAF (operators/analytics.py
    groupwise_gini) — the Arrow-vectorized Python AGGREGATE path,
    value-hashed by the driver against a rank-window SQL twin (the
    q84 twin-engine discipline: the Python path IS what gets hashed).
    Balances shift by the nation minimum so values are non-negative
    (Gini's domain)."""
    from pagerank_spark.operators.analytics import groupwise_gini

    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    from pyspark.sql import Window

    shifted = c.withColumn(
        "bal",
        F.col("c_acctbal")
        - F.min("c_acctbal").over(Window.partitionBy("c_nationkey")),
    )
    return (
        groupwise_gini(shifted, ["c_nationkey"], "bal")
        .join(
            F.broadcast(n.select("n_nationkey", "n_name")),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .select(
            F.col("n_name").alias("nation"),
            F.col("n_values").cast("long").alias("n_values"),
            "gini",
        )
        .orderBy("nation")
    )


def q232_seasonal_naive_backtest(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Seasonal-naive forecast backtest over the daily event counts
    (operators/analytics.py seasonal_naive_backtest): x̂_t = x_{t−7}
    evaluated on the last 7 days, MAE + sMAPE — the baseline every
    telemetry forecaster must beat. One lag window on the day
    relation, broadcast max-t cut, one bounded aggregate."""
    from pagerank_spark.operators.analytics import seasonal_naive_backtest

    ev = load_table(spark, sf_dir, "events")
    series = ev.groupBy(
        F.floor(F.unix_timestamp("ts") / 86400).cast("long").alias("d")
    ).agg(F.count("*").cast("double").alias("n_events"))
    return seasonal_naive_backtest(series, "d", "n_events")


def q233_calibration_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability diagram + ECE (operators/analytics.py
    calibration_report), composing the percentile-rank transform: the
    pseudo-probability is the mid-rank percentile of n_chars (q224's
    blocked prefix-sum machinery) predicting lang='en' — the
    calibration leg of the classifier-eval trio next to q155's AUC and
    q156's PR grid. One bins-key aggregation, ECE broadcast back."""
    from pagerank_spark.operators.analytics import calibration_report
    from pagerank_spark.operators.stats import percentile_rank

    docs = load_table(spark, sf_dir, "documents").select(
        (F.col("lang") == "en").cast("int").alias("y"), "n_chars"
    )
    probed = percentile_rank(docs, "n_chars", out_col="p")
    return calibration_report(probed, "y", "p", bins=10).orderBy("bin")


def q234_ivf_index_lifecycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Persisted IVF index lifecycle under the oracle
    (operators/similarity.py build_ivf_index / ann_ivf_persisted):
    build the refine-free seeded codebook and the cid-PARTITIONED
    inverted lists on disk, then serve top-5 neighbors through the
    committed index — the probed-cid set becomes a static IN filter so
    the list scan directory-prunes to n_probe=3 of 16 partitions (the
    build-once/query-many path q36/q73 re-derive per call; pruning
    pytest-asserted in test_persisted_ivf_matches_in_memory_and_prunes).
    The q105 pattern: the write→read lifecycle itself is what the hash
    covers; the twin is the same seeded-IVF algebra, because index
    persistence must not change the answer."""
    from pagerank_spark.operators.similarity import (
        ann_ivf_persisted,
        build_ivf_index,
        index_scratch_root,
        remove_index,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    # Per-call private index path, removed before returning:
    # ann_ivf_persisted's result is an EAGER checkpoint, so it survives
    # the index's deletion, and two concurrent q234 invocations (e.g. a
    # parity run racing the pytest suite) can no longer delete each
    # other's half-read lists directory (a q105-style fixed hash path
    # would be shared state). index_scratch_root honors
    # spark.pagerank.scratchDir / SPARK_GRAFT_SCRATCH for cluster
    # deployments where the index must live on executor-shared storage
    # (r9 ADVICE); the driver-local mkdtemp fallback covers local mode.
    root = index_scratch_root(spark, prefix="psq234_")
    try:
        build_ivf_index(emb, root, n_centroids=16, refine=0)
        return ann_ivf_persisted(
            spark, root, emb.where(F.col("vec_id") % 40 == 0),
            k=5, n_probe=3,
        ).select(
            "query_id",
            "nb_id",
            "cos",
            F.col("rank").cast("long").alias("rank"),
        )
    finally:
        remove_index(spark, root)


def q235_image_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL box-average image resize under the oracle
    (operators/multimodal.py resize_image): every 10th doc id becomes
    q114's synthetic 64×48 P6 PPM (pixel (x,y,c) =
    (7·id + 3·x + 5·y + 11·c) mod 256), area-downsampled to 16×12 —
    each target pixel the exact mean of its 4×4 source block, one row
    per (media_id, y, x) with 6dp-rounded channel means. The DuckDB
    twin never sees bytes: it integrates the same pixel formula over
    generate_series and block-averages in SQL (the q221 pattern), so a
    hash match proves decode AND the area-average arithmetic. Block
    means have fixed denominator 16 — exact at 6dp on any engine."""
    from pagerank_spark.operators.multimodal import (
        resize_image,
        synthesize_ppm_media,
    )

    ids = (
        load_table(spark, sf_dir, "documents")
        .where(F.col("doc_id") % 10 == 0)
        .select(F.col("doc_id").alias("media_id"))
    )
    media = synthesize_ppm_media(ids, "media_id", width=64, height=48)
    return resize_image(media, out_w=16, out_h=12)


def q236_mp4_container_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL MP4/ISO-BMFF container metadata under the oracle
    (operators/multimodal.py parse_mp4_meta): every 10th doc id
    becomes a synthesized well-formed MP4 (ftyp + free + moov(mvhd +
    n_tracks × trak(tkhd + mdia(mdhd + hdlr))) + mdat, every field a
    closed-form function of the id), and the big-endian box walk
    reports brand, mvhd duration, track/video/audio counts, and the
    first video tkhd's 16.16 presentation size. The DuckDB twin
    computes the same closed forms and never sees bytes — a hash
    match proves the walk finds the right boxes at the right offsets
    (the r9 verdict's stub-shrink item: container metadata needs no
    codec)."""
    from pagerank_spark.operators.multimodal import (
        parse_mp4_meta,
        synthesize_mp4_media,
    )

    ids = (
        load_table(spark, sf_dir, "documents")
        .where(F.col("doc_id") % 10 == 0)
        .select(F.col("doc_id").alias("media_id"))
    )
    return parse_mp4_meta(synthesize_mp4_media(ids))


def q237_mp3_frame_walk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL MP3 frame-header walk under the oracle
    (operators/multimodal.py parse_mp3_meta): every 10th doc id
    becomes a synthesized CBR MPEG-1 Layer III stream (bitrate /
    sample rate / frame count closed-form in the id; every 4th id
    carries an ID3v2 tag, every 5th a trailing ID3v1 block, every 7th
    per-frame padding bits) and the walker hops frame to frame by the
    Layer III length formula, so one wrong header field
    desynchronizes the whole stream. The DuckDB twin reproduces
    bitrate table lookups and the duration 1152·n/rate in SQL."""
    from pagerank_spark.operators.multimodal import (
        parse_mp3_meta,
        synthesize_mp3_media,
    )

    ids = (
        load_table(spark, sf_dir, "documents")
        .where(F.col("doc_id") % 10 == 0)
        .select(F.col("doc_id").alias("media_id"))
    )
    return parse_mp3_meta(synthesize_mp3_media(ids))


def q238_session_window_native(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Native merging session windows (streaming/__init__.py
    sessionize_stream_agg): ``F.session_window`` with a 30-minute gap
    over the events table — the data-dependent-boundary window the
    STREAMING engine runs (q35 declares the lag+running-sum batch
    plan; this declares the SessionWindow physical operator itself, so
    the driver hashes the exact aggregation
    ``run_session_stream_to_memory`` incrementalizes, and the
    stream≡batch pytest closes the loop). Spark merges an event at
    exactly gap distance (window end is inclusive), which is
    precisely the lag plan's ``diff > gap`` boundary — the oracle
    reuses that algebra, aggregated to (user, session_start)."""
    from pagerank_spark.streaming import sessionize_stream_agg

    ev = load_table(spark, sf_dir, "events")
    return sessionize_stream_agg(ev, gap="30 minutes")


def q239_merge_schema_evolution(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """MERGE with schema evolution across the versioned-table boundary
    (table.py upsert_table(evolve_schema=True) — the Delta mergeSchema
    analogue): v0 commits orders (%4==0) WITHOUT o_orderpriority, the
    delta (updates %8==0 at doubled totalprice, inserts %4==1) CARRIES
    it, and the committed v1 snapshot must hold the widened schema with
    NULL priority on every untouched base row. The same query
    time-travels BACK to v0 and reports its row count and column count
    (3 — the pre-evolution schema must read back unwidened, which the
    version-boundary pytest also pins). The DuckDB twin rebuilds v1 as
    NOT-EXISTS kept rows (NULL priority) UNION ALL the delta, so the
    hash covers the write→evolve→commit→read lifecycle, not just the
    final algebra."""
    import shutil
    import tempfile

    from pagerank_spark import table as tbl

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderstatus",
        F.round("o_totalprice", 2).alias("tp"),
        "o_orderpriority",
    )
    base = o.where(F.col("o_orderkey") % 4 == 0).drop("o_orderpriority")
    delta = (
        o.where(F.col("o_orderkey") % 8 == 0)
        .withColumn("tp", F.round(F.col("tp") * 2, 2))
        .unionByName(o.where(F.col("o_orderkey") % 4 == 1))
    )
    # Per-call unique root + finally-cleanup (r10 ADVICE): the previous
    # FIXED md5(sf_dir)-keyed path let two concurrent invocations (a
    # parity run racing a bench run on the same sf_dir) rmtree each
    # other's half-read snapshot, and the tree was never cleaned up —
    # the same shared-state hazard q234's index_scratch_root removed.
    # The result is materialized (eager localCheckpoint) BEFORE the
    # table dir is deleted so the returned DataFrame never dangles on
    # removed parquet files.
    root = tempfile.mkdtemp(prefix="psq239_")
    try:
        v0 = tbl.write_table(base, root)
        v1 = tbl.upsert_table(
            spark, delta, root, keys=["o_orderkey"], evolve_schema=True
        )
        evolved = tbl.read_table(spark, root)
        pre = tbl.read_table(spark, root, version=v0)  # time travel
        n_v0 = pre.count()
        return evolved.select(
            "o_orderkey",
            "o_orderstatus",
            "tp",
            "o_orderpriority",
            F.lit(n_v0).cast("long").alias("v0_rows"),
            F.lit(len(pre.columns)).cast("long").alias("v0_cols"),
            F.lit(v1).cast("long").alias("version"),
        ).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(root, ignore_errors=True)


def q240_training_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global training-order shuffle
    (operators/curation.py training_order, seed=7): every document
    gets a unique position 0..N-1 in portable-hash pseudo-random
    order — the reproducible data-loader ordering a training run
    consumes, re-derivable bit-identically on any engine or
    partitioning (the per-epoch seed changes the order wholesale).
    The Spark plan is the pack_sequences two-level prefix sum over
    hash-space slices — one exchange, per-block local ranks, a
    blocks-row offset relation broadcast back — NEVER a global
    row_number window; the DuckDB twin is exactly that single-window
    form (row_number over hash order), so the hash match proves the
    distributed rank algebra equals the global sort."""
    from pagerank_spark.operators.curation import training_order

    docs = load_table(spark, sf_dir, "documents")
    return training_order(docs, "doc_id", seed=7)


def q241_mixture_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic multi-source mixture interleave
    (operators/curation.py mixture_order, seed=5): each source gets an
    integer weight 1 + (suffix mod 3); the epoch order advances source
    s proportionally to its weight via the exact integer interleave
    key ``local_rank · lcm/parts_s`` — no float keys, so any engine
    reproduces the permutation bit-identically. Source weights are a
    dimension-sized driver list (the one bounded collect); both rank
    levels run the two-level prefix sum, never a global window over
    the data. The DuckDB twin is the two-window global form
    (per-source row_number → row_number over the interleave key), so
    the hash match proves the distributed construction equals it."""
    from pagerank_spark.operators.curation import mixture_order

    docs = load_table(spark, sf_dir, "documents")
    sources = [
        r["source"]
        for r in docs.select("source").distinct().collect()
    ]
    parts = {s: 1 + int(s[3:]) % 3 for s in sources}
    return mixture_order(docs, parts, "source", "doc_id", seed=5)


def q242_gif_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL GIF decoding under the oracle (operators/multimodal.py
    _decode_gif): every 10th doc id becomes a genuine single-frame
    GIF89a — 256-color palette, LZW-compressed index raster built by
    encode_gif, graphics-control extension in the stream — decoded by
    the stdlib-only LZW+palette decoder. GIF is paletted, so the
    closed form splits: pixel (x,y) takes palette index
    ``v = (7·id + 3·x + 5·y) mod 256`` and the palette maps
    ``v → (v, (2v+11) mod 256, (3v+22) mod 256)``; the DuckDB twin
    integrates exactly that (never sees bytes), so a hash match proves
    header walk + extension skip + LZW decompression (every payload's
    3072-pixel raster grows the code width 9→10→11 bits) + palette
    mapping + the stat arithmetic."""
    from pagerank_spark.operators.multimodal import (
        decode_image,
        synthesize_gif_media,
    )

    ids = (
        load_table(spark, sf_dir, "documents")
        .where(F.col("doc_id") % 10 == 0)
        .select(F.col("doc_id").alias("media_id"))
    )
    media = synthesize_gif_media(ids, "media_id", width=64, height=48)
    return decode_image(media, thumb_size=2).select(
        "media_id",
        "format",
        "width",
        "height",
        "mean_r",
        "mean_g",
        "mean_b",
        F.col("thumb")[0].alias("t00"),
        F.col("thumb")[1].alias("t01"),
        F.col("thumb")[2].alias("t10"),
        F.col("thumb")[3].alias("t11"),
    )


def q243_betweenness_centrality(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Approximate betweenness centrality, sampled Brandes
    (graph/components.py betweenness_centrality): 8 deterministic
    hash-chosen pivots (node % 32 == 0, q129's landmark rule) over
    the sparse graph, 12-hop bound on both phases, Brandes–Pich
    |V|/|pivots| scaling. Forward phase is the multi-source BFS
    extended with a sigma SUM riding the same per-round aggregation;
    backward phase is level-synchronous dependency accumulation over
    the shortest-path-DAG edges (enforced by a level join, never
    materialized). Twin: the SAME levels unrolled as chained CTEs —
    12 forward levels computing (dist, sigma), 12 backward levels
    computing delta, then the scaled pivot sum."""
    from pagerank_spark.graph.components import betweenness_centrality

    e = _sparse_weighted_edges(spark, sf_dir).select("src", "dst")
    seeds = (
        e.select(F.col("src").alias("node"))
        .unionAll(e.select(F.col("dst").alias("node")))
        .distinct()
        .where(F.col("node") % 32 == 0)
    )
    out = betweenness_centrality(e, seeds, max_iterations=12, scaled=True)
    return out.select(
        "node", F.round("betweenness", 6).alias("betweenness")
    ).where(F.col("betweenness") > 0)


def q244_curation_provenance(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-document curation lineage (operators/curation.py
    curation_provenance): the (id, stage, verdict, reason) audit
    relation the curate CLI's --audit flag writes — one scan, flags
    exploded in-row, ONE window on md5(redacted text) for the dedup
    winner, the dataset_split md5 coin for the split stage. The
    fixture corpus is adversarial on every stage: doc_id % 3 == 0
    gains q108's synthetic PII (scrub does real work), doc_id % 7 == 0
    is truncated to 30 chars (gate drops it as too_few_words), and
    doc_id % 5 == 0 is duplicated under id+1000000 (dedup drops the
    copy, reason pointing at the surviving original). The twin builds
    the identical corpus and unpivots the same four stage relations."""
    from pagerank_spark.operators.curation import curation_provenance

    docs = load_table(spark, sf_dir, "documents")
    aug = docs.select(
        "doc_id",
        F.concat(
            F.when(
                F.col("doc_id") % 7 == 0, F.substring("text", 1, 30)
            ).otherwise(F.col("text")),
            F.when(
                F.col("doc_id") % 3 == 0,
                F.concat(
                    F.lit(" contact u"),
                    F.col("doc_id").cast("string"),
                    F.lit("@ex"),
                    (F.col("doc_id") % 7).cast("string"),
                    F.lit(".com or +1 555-"),
                    F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
                    F.lit("-"),
                    F.lpad(
                        ((F.col("doc_id") * 7) % 10000).cast("string"), 4, "0"
                    ),
                ),
            ).otherwise(F.lit("")),
        ).alias("text"),
    )
    corpus = aug.unionAll(
        aug.where(F.col("doc_id") % 5 == 0).select(
            (F.col("doc_id") + 1000000).alias("doc_id"), "text"
        )
    )
    return curation_provenance(
        corpus, fractions={"train": 0.9, "val": 0.05, "test": 0.05}
    )


def q245_tiff_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL TIFF decoding under the oracle (operators/multimodal.py
    _decode_tiff): every 10th doc id becomes a genuine baseline TIFF
    carrying the q114 pixel formula ``(7·id + 3x + 5y + 11c) mod 256``
    — and the ENCODING varies per id so one corpus exercises the whole
    decoder matrix: compression cycles none/TIFF-LZW/PackBits by
    id mod 3 (the LZW payloads additionally carry horizontal-
    differencing predictor 2), byte order flips to big-endian on odd
    ids, and strip height 16 forces multi-strip assembly everywhere.
    The DuckDB twin integrates the closed form (never sees bytes), so
    a hash match proves IFD walk + strip assembly + LZW early-change
    decompression + PackBits RLE + predictor undo + both endiannesses
    against an independent computation."""
    from pagerank_spark.operators.multimodal import (
        decode_image,
        synthesize_tiff_media,
    )

    ids = (
        load_table(spark, sf_dir, "documents")
        .where(F.col("doc_id") % 10 == 0)
        .select(F.col("doc_id").alias("media_id"))
    )
    media = synthesize_tiff_media(ids, "media_id", width=64, height=48)
    return decode_image(media, thumb_size=2).select(
        "media_id",
        "format",
        "width",
        "height",
        "mean_r",
        "mean_g",
        "mean_b",
        F.col("thumb")[0].alias("t00"),
        F.col("thumb")[1].alias("t01"),
        F.col("thumb")[2].alias("t10"),
        F.col("thumb")[3].alias("t11"),
    )


def q246_hybrid_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid lexical+semantic retrieval fused with reciprocal-rank
    fusion (operators/similarity.py rrf_fuse; Cormack et al. 2009):
    the BM25 arm ranks the top-50 documents for {spark, window, dup}
    (q171's engine) and the semantic arm ranks the top-50 exact-cosine
    neighbors of embedding vec_id 0 (q28's engine, vec_id ≡ doc_id on
    the fixture corpus); each doc scores Σ 1/(60 + rank) over the arms
    it appears in, rounded-6dp score driving the fused top-20. The
    fusion itself is one union + partial-combined SUM + TakeOrdered —
    the per-arm top bounds make it corpus-size-independent."""
    from pagerank_spark.operators.similarity import (
        ann_topk_bruteforce,
        rrf_fuse,
    )
    from pagerank_spark.operators.text import bm25_rank

    docs = load_table(spark, sf_dir, "documents")
    lexical = bm25_rank(docs, ["spark", "window", "dup"], top_k=50)
    emb = load_table(spark, sf_dir, "embeddings")
    semantic = ann_topk_bruteforce(
        emb, emb.where(F.col("vec_id") == 0), k=50
    ).select(
        F.col("nb_id").alias("doc_id"), F.col("rank").alias("rk")
    )
    return rrf_fuse(
        [lexical.select("doc_id", "rk"), semantic], k=60, top_k=20
    )


def q247_hll_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-mergeable distinct-user rollup (operators/sketch.py
    hll_grouped_registers / hll_grouped_estimate): per (day,
    event_type) portable-HLL registers — ≤256 rows per group whatever
    the event volume — folded into per-group NDV estimates, with the
    exact NDV and the standard-error envelope alongside. This is the
    continuous-aggregate shape (Druid/Timescale sketch rollups): the
    register relation is a commutative idempotent monoid, so a refresh
    merges new-partition registers with ``hll_merge`` instead of
    rescanning history — merge(rollup(a), rollup(b)) == rollup(a ∪ b)
    EXACTLY, pinned bit-equal by pytest. The twin rebuilds identical
    registers from the md5 family, so the estimate itself
    hash-matches; only its distance to the exact NDV is approximate."""
    from pagerank_spark.operators.sketch import (
        hll_grouped_estimate,
        hll_grouped_registers,
    )

    ev = load_table(spark, sf_dir, "events").select(
        F.to_date("ts").cast("string").alias("day"),
        "event_type",
        "user_id",
    )
    regs = hll_grouped_registers(ev, "user_id", ["day", "event_type"])
    est = hll_grouped_estimate(regs, ["day", "event_type"])
    exact = ev.groupBy("day", "event_type").agg(
        F.count_distinct("user_id").alias("exact_ndv")
    )
    return est.join(exact, on=["day", "event_type"]).select(
        "day",
        "event_type",
        "hll_estimate",
        "exact_ndv",
        (
            F.abs(F.col("hll_estimate") - F.col("exact_ndv"))
            / F.greatest(F.col("exact_ndv"), F.lit(1))
            <= F.lit(3 * 1.04 / 16.0)
        ).alias("within_bound"),
    )


def q248_bottomk_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic mergeable bottom-k sampling (operators/sketch.py
    bottomk_sample): the 5 documents with the smallest portable md5
    hash per language — the classic bottom-k sketch whose shard
    samples combine exactly (bottomk(a ∪ b) == bottomk of the two
    shard sketches, pinned by pytest), so a 100 TB corpus sample
    assembles from per-partition samples without a second pass. The
    grouped form runs as a rank window Spark rewrites into per-key
    top-k pushdown; the hash order IS the sample, so the twin selects
    identical rows."""
    from pagerank_spark.operators.sketch import bottomk_sample

    docs = load_table(spark, sf_dir, "documents")
    return bottomk_sample(
        docs, "doc_id", k=5, group_cols=["lang"]
    ).select("lang", "doc_id", "sample_rank")


def q249_weighted_bottomk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted without-replacement sampling (operators/sketch.py
    weighted_bottomk_sample; Efraimidis–Spirakis 2006): the 20 orders
    drawn by smallest exponential clock ``-ln(u)/o_totalprice`` with
    the deterministic md5 uniform — price-proportional inclusion, WOR,
    mergeable across shards like plain bottom-k. The key rounds to 9dp
    BEFORE ranking so both engines make identical keep decisions
    despite libm ln differences; the ungrouped form is a
    TakeOrderedAndProject, never a global sort."""
    from pagerank_spark.operators.sketch import weighted_bottomk_sample

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice"
    )
    return weighted_bottomk_sample(
        orders, "o_orderkey", "o_totalprice", k=20
    ).select("o_orderkey", "o_totalprice", "sample_rank")


def q250_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retention cohort matrix over the events table: users cohorted
    by their FIRST active day, then for every (cohort_day, day_offset)
    the distinct users still active — the classic product-analytics
    triangle. Two partial-combined aggregations and one co-keyed join;
    the per-user min-day relation is vertex-sized, never the event
    volume."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", F.to_date("ts").alias("day")
    )
    first = ev.groupBy("user_id").agg(F.min("day").alias("cohort_day"))
    return (
        ev.join(first, on="user_id")
        .select(
            F.col("cohort_day").cast("string").alias("cohort_day"),
            F.datediff("day", "cohort_day").alias("day_offset"),
            "user_id",
        )
        .groupBy("cohort_day", "day_offset")
        .agg(F.count_distinct("user_id").alias("n_users"))
    )


def q251_progressive_jpeg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL progressive-JPEG decoding under the oracle
    (operators/jpeg.py SOF2 path, round 11): every 20th doc id is
    encoded TWICE from the same q138 ramp — once baseline, once
    progressive (six scans: interleaved DC first at Al=1, split-band
    AC firsts, DC refinement bits, AC refinement) — and both payloads
    decode through ``decode_image``. The progressive scans carry the
    SAME quantized coefficients, so the oracle pins
    ``same_as_baseline`` TRUE on every stat AND thumb pixel (exact
    equality, not a tolerance: any scan-layer bug desyncs or perturbs
    coefficients and flips the boolean), plus the q138 within-1.0
    channel-mean booleans against the closed-form ramp."""
    from pagerank_spark.operators.multimodal import (
        decode_image,
        synthesize_jpeg_media,
    )

    ids = (
        load_table(spark, sf_dir, "documents")
        .where(F.col("doc_id") % 20 == 0)
        .select(F.col("doc_id").alias("media_id"))
    )
    prog = decode_image(
        synthesize_jpeg_media(ids, "media_id", progressive=True),
        thumb_size=2,
    )
    base = decode_image(
        synthesize_jpeg_media(ids, "media_id"), thumb_size=2
    ).select(
        "media_id",
        F.col("mean_r").alias("b_mean_r"),
        F.col("mean_g").alias("b_mean_g"),
        F.col("mean_b").alias("b_mean_b"),
        F.col("thumb").alias("b_thumb"),
    )
    want = _ramp_want_means(spark, ids)
    return (
        prog.join(base, on="media_id")
        .join(want, on="media_id")
        .select(
            "media_id",
            "format",
            "width",
            "height",
            (F.abs(F.col("mean_r") - F.col("want_r")) <= 1.0).alias("r_ok"),
            (F.abs(F.col("mean_g") - F.col("want_g")) <= 1.0).alias("g_ok"),
            (F.abs(F.col("mean_b") - F.col("want_b")) <= 1.0).alias("b_ok"),
            (
                (F.col("mean_r") == F.col("b_mean_r"))
                & (F.col("mean_g") == F.col("b_mean_g"))
                & (F.col("mean_b") == F.col("b_mean_b"))
                & (F.col("thumb") == F.col("b_thumb"))
            ).alias("same_as_baseline"),
        )
    )


def q252_interlaced_palette_png(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """REAL Adam7-interlaced PALETTE-PNG decoding under the oracle
    (operators/multimodal.py _decode_png, round 11): every 10th doc
    id becomes a genuine color-type-3 PNG written in the seven-pass
    Adam7 sequence — indices from the q242 closed form
    ``(7·id + 3x + 5y) mod 256``, palette
    ``v → (v, (2v+11) mod 256, (3v+22) mod 256)`` — so the identical
    byte-free twin proves PLTE mapping AND the per-pass filter-context
    restart AND the pass-scatter reassembly in one hash (a wrong pass
    geometry leaves pixels uncovered and shifts every channel mean)."""
    from pagerank_spark.operators.multimodal import (
        decode_image,
        synthesize_png_media,
    )

    ids = (
        load_table(spark, sf_dir, "documents")
        .where(F.col("doc_id") % 10 == 0)
        .select(F.col("doc_id").alias("media_id"))
    )
    media = synthesize_png_media(
        ids, "media_id", width=64, height=48, interlace=True, paletted=True
    )
    return decode_image(media, thumb_size=2).select(
        "media_id",
        "format",
        "width",
        "height",
        "mean_r",
        "mean_g",
        "mean_b",
        F.col("thumb")[0].alias("t00"),
        F.col("thumb")[1].alias("t01"),
        F.col("thumb")[2].alias("t10"),
        F.col("thumb")[3].alias("t11"),
    )


def q253_logreg_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed quality-classifier TRAINING (operators/classifier.py
    logreg_train) — the missing learning stage of the curation story
    (the engine could gate, score with fixed heuristics, and evaluate a
    classifier, but not train one; CCNet / GPT-3 fastText-gate
    pattern). Full-batch logistic-regression gradient descent over
    signed hashed bag-of-words features (hashed_token_features — the
    q223 portable-md5 arithmetic over exploded tokens): per round ONE
    broadcast of the dim-sized weight vector + one co-partitioned
    margin aggregation + one partial-combined gradient aggregation —
    the PageRank per-round cost profile, with driver-held
    feature-dimension-sized state so lineage never compounds. Fixed 2
    rounds / lr 0.5 / zero init here so the DuckDB twin unrolls the
    exact trajectory in SQL; the converged model's AUC evidence lives
    in tests/test_classifier.py through the q155 machinery."""
    from pagerank_spark.operators.classifier import (
        hashed_token_features,
        logreg_train,
    )

    docs = load_table(spark, sf_dir, "documents")
    feats = hashed_token_features(docs, n_features=64)
    labels = docs.select(
        "doc_id", (F.col("lang") == "en").cast("double").alias("y")
    )
    model = logreg_train(feats, labels, rounds=2, lr=0.5)
    return model.weights.select(
        "feature_index", F.round("weight", 9).alias("weight")
    ).orderBy("feature_index")


def q254_unigram_lm_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SentencePiece-style unigram-LM tokenizer training
    (operators/tokenizer.py unigram_lm_train, Kudo 2018) — the
    tokenizer family of Llama/T5-class models, complementing q150's
    bottom-up BPE with top-down EM: seed all ≤4-char substrings
    (60 heaviest + every char), 2 rounds of lattice forward–backward
    expected counts (per round: one broadcast vocab join, one
    exchange-free per-word regroup, JVM-codegen alpha/beta array folds,
    one partial-combined per-piece aggregation), prune to the 40 most
    probable + chars, renormalize. Fixed rounds + zero randomness →
    the DuckDB twin unrolls the identical trajectory with list_reduce
    folds. Fertility evidence vs q151's BPE: UNIGRAM_PROBE.json +
    tests/test_tokenizer.py."""
    from pagerank_spark.operators.tokenizer import unigram_lm_train

    docs = load_table(spark, sf_dir, "documents")
    out = unigram_lm_train(
        docs, rounds=2, max_piece_len=4, seed_size=60, vocab_size=40
    )
    return out.select(
        "piece", F.round("prob", 9).alias("prob")
    ).orderBy("piece")


def q257_unigram_segment_stats(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Unigram-tokenizer APPLICATION (operators/tokenizer.py
    unigram_segment_stats): Viterbi-segment every document with the
    q254-trained vocabulary and report the per-doc fertility numbers,
    the q151 shape for the second tokenizer family. Both engines run
    the max-probability DP over the 9dp-ROUNDED vocabulary, so every
    lattice product is bit-identical and the argmax (ties → fewer
    tokens) is exactly reproducible — the DuckDB twin unrolls the same
    DP with list_reduce on top of the q254 unroll. Per DISTINCT word,
    not per occurrence: one broadcast vocab join + one corpus join."""
    from pagerank_spark.operators.tokenizer import (
        unigram_lm_train,
        unigram_segment_stats,
    )

    docs = load_table(spark, sf_dir, "documents")
    vocab = unigram_lm_train(
        docs, rounds=2, max_piece_len=4, seed_size=60, vocab_size=40
    ).select("piece", F.round("prob", 9).alias("prob"))
    out = unigram_segment_stats(docs, vocab, max_piece_len=4)
    return out.select(
        "doc_id",
        "n_words",
        "n_chars",
        "n_tokens",
        F.round("chars_per_token", 6).alias("chars_per_token"),
    )


def q258_logreg_score_corpus(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Trained-classifier SCORING (operators/classifier.py
    logreg_predict): apply the q253 2-round model to the whole corpus —
    one broadcast join of the dim-sized weight relation + one
    partial-combined per-doc margin sum + the literal intercept fold,
    the shape a 100 TB quality-gate pass runs. The twin extends q253's
    unrolled trajectory with the margin + sigmoid projection."""
    from pagerank_spark.operators.classifier import (
        hashed_token_features,
        logreg_predict,
        logreg_train,
    )

    docs = load_table(spark, sf_dir, "documents")
    # r14 optimization: feats feed both train and the scoring pass —
    # persist so the explode+md5 pipeline runs once (the q263 note)
    feats = hashed_token_features(docs, n_features=64).persist()
    labels = docs.select(
        "doc_id", (F.col("lang") == "en").cast("double").alias("y")
    )
    model = logreg_train(feats, labels, rounds=2, lr=0.5)
    return logreg_predict(feats, model.weights).select(
        "doc_id", F.round("score", 9).alias("score")
    )


def q255_flac_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL FLAC audio SAMPLE decode under the oracle
    (operators/flac.py, round 12): every 10th doc id becomes a genuine
    RFC 9639 FLAC stream — the q115 closed-form waveform losslessly
    compressed by the real fixed-predictor/rice encoder — and the full
    decoder (CRC-8/16 + STREAMINFO-MD5 verified) reproduces the exact
    PCM, so the byte-free twin integrates the same sample formula and
    the stats hash-match bit-for-bit (lossless beats the q138
    within-tolerance pattern a lossy codec would need). The md5_ok and
    compressed booleans are pinned TRUE: decode integrity is proven by
    the STREAMINFO digest, and the stream is genuinely smaller than
    the PCM. MP3 Layer III sample decode is the documented reasoned
    negative (multimodal.py module docstring): its Huffman/window spec
    TABLES are absent from this environment and not derivable."""
    from pagerank_spark.operators.multimodal import (
        decode_flac_audio,
        synthesize_flac_media,
    )

    ids = (
        load_table(spark, sf_dir, "documents")
        .where(F.col("doc_id") % 10 == 0)
        .select(F.col("doc_id").alias("media_id"))
    )
    media = synthesize_flac_media(
        ids, "media_id", n_samples=2000, rate=8000, block_size=576
    )
    out = decode_flac_audio(media)
    return out.select(
        "media_id",
        "format",
        "sample_rate",
        "n_channels",
        "n_samples",
        "duration_s",
        "rms",
        "peak",
        "n_frames",
        "md5_ok",
        (F.col("compress_ratio") < 1.0).alias("compressed"),
    )


def q256_node2vec_walks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """node2vec biased walks (graph/walks.py node2vec_walks, Grover &
    Leskovec 2016): q159's uniform walker extended with the p/q
    return/in-out bias — the knob that tunes a walk corpus between
    homophily and structural equivalence. Step ≥ 2 weights each
    out-edge 1/p (return) / 1 (triangle) / 1/q (explore), picked by the
    RNG-free inverse-CDF hash rule; p=2, q=0.5 keeps every weight an
    exact binary fraction so even the running sums are float-exact
    against the twin's unrolled step CTEs. One extra (prev, dst)
    membership equi-join per step over the same indexed adjacency —
    exactly the cost node2vec's second-order bias demands."""
    from pagerank_spark.graph.walks import node2vec_walks

    return node2vec_walks(
        _edges(spark, sf_dir), steps=4, p=2.0, q=0.5, strict_parity=True
    )


def q259_ppmi_svd_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Node-embedding TRAINING (graph/embeddings.py
    ppmi_svd_embeddings): distributed truncated SVD of the q161 PPMI
    matrix — the step that makes the walks→pairs→PPMI pipeline
    actually produce embeddings (Levy & Goldberg 2014: skip-gram
    implicitly factorizes this matrix; here it is factorized
    explicitly). Rank-3, fixed 2 power rounds per component on
    G = MᵀM: each matvec is two sparse equi-joins + two
    partial-combined aggs over the DISTINCT-pair-bounded PPMI
    relation (never G itself); later components orthogonalize by
    PROJECTION deflation, whose normalize-and-round step absorbs
    cross-engine float drift each iteration — eigenvalue-scale
    scalars never enter the loop. All vectors stay distributed; only
    the 3 Rayleigh scalars reach the driver. Output is the
    Levy–Goldberg U·Σ^½ long form (node, dim, value) that
    embedding_vectors pivots into the ANN tier's array shape; the
    twin unrolls the identical trajectory (9dp-rounded weights and
    per-step vectors, 6dp output). Convergence-vs-NumPy and cluster
    geometry: tests/test_embeddings.py; corpus-growth evidence:
    SVD_PROBE.json."""
    from pagerank_spark.graph.embeddings import ppmi_svd_embeddings
    from pagerank_spark.graph.walks import (
        ppmi_matrix,
        random_walks,
        skipgram_pairs,
    )

    pairs = skipgram_pairs(
        random_walks(_edges(spark, sf_dir), steps=4), window=2
    )
    emb = ppmi_svd_embeddings(ppmi_matrix(pairs), rank=3, iterations=2)
    return emb.select(
        "node", "dim", F.round("value", 6).alias("value")
    )


def q260_kn_lm_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kneser–Ney trigram LM TRAINING (operators/ngram_lm.py
    kn_trigram_probs, Chen & Goodman 1999): the model CCNet-class
    pipelines actually score with — q119's unigram logprob is its
    degenerate case. One corpus scan explodes padded trigram positions
    from array expressions (no window, no self-join), then every KN
    quantity is a grouped (distinct-)count over the TYPE relation
    (Heaps-bounded, far sublinear in corpus); the fixed-discount
    (D=0.75, exact binary fraction) interpolated probability is one
    scalar expression tree over exact integer counts — bit-identical
    across engines, so the twin needs no intermediate rounding.
    Output: (w1, w2, w3, p) per observed trigram type. Hand-computed
    reference + sum-to-one property: tests/test_ngram_lm.py."""
    from pagerank_spark.operators.ngram_lm import kn_trigram_probs

    docs = load_table(spark, sf_dir, "documents")
    out = kn_trigram_probs(docs, discount=0.75)
    return out.select("w1", "w2", "w3", F.round("p", 9).alias("p"))


def q261_kn_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kneser–Ney perplexity SCORING (operators/ngram_lm.py
    kn_perplexity): per-doc ppl = exp(−Σ ln P / n) under the q260
    model trained on the same corpus — the CCNet in-domain scoring
    shape that ranks documents by fluency. The instance relation
    left-joins the type-bounded count relations on token keys
    (co-partitionable equi-joins; CASE-chain backoff for unseen
    contexts, NULL-poisoned docs for unseen continuations); the only
    cross-engine drift is the per-doc ln-sum reduction order,
    absorbed at 6dp. Fluency-ranking evidence vs the q119 unigram
    scorer: tests/test_ngram_lm.py."""
    from pagerank_spark.operators.ngram_lm import kn_perplexity

    docs = load_table(spark, sf_dir, "documents")
    out = kn_perplexity(docs, discount=0.75)
    return out.select(
        "doc_id", "n_tokens", F.round("ppl", 6).alias("ppl")
    )


def q262_softmax_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiclass SOFTMAX classifier TRAINING (operators/classifier.py
    softmax_train): q253's logistic trainer extended to K classes —
    the fastText-style trained language-ID that competes with q22's
    fixed char-class heuristic. Labels are the 5 fixture languages
    (class index = sorted order, deterministic); per round one
    broadcast of the K·dim weight relation, per-(doc, class) margin
    sums, a max-shifted softmax (two id-keyed aggs, exact
    comparisons), and one partial-combined K·dim gradient. Fixed 2
    rounds / lr 0.5 / zero init: round 1 collapses to p = 1/K exactly,
    and the twin unrolls the whole trajectory (exp ulps absorbed at
    the 9dp weight rounding — the q253 sigmoid precedent). Accuracy
    vs the q22 heuristic: tests/test_classifier.py."""
    from pagerank_spark.operators.classifier import (
        hashed_token_features,
        softmax_train,
    )

    docs = load_table(spark, sf_dir, "documents")
    feats = hashed_token_features(docs, n_features=64, normalize=True)
    model = softmax_train(
        feats,
        docs.select("doc_id", F.col("lang").alias("label")),
        rounds=2,
        lr=0.5,
    )
    return model.weights.select(
        "class_index",
        "feature_index",
        F.round("weight", 9).alias("weight"),
    ).orderBy("class_index", "feature_index")


def q263_softmax_language_id(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Softmax model APPLICATION (operators/classifier.py
    softmax_predict): score the whole corpus with the q262 2-round
    model and emit each doc's argmax language — the corpus-wide
    trained-gate pass (q258's shape for the multiclass head).
    Probabilities are rounded to 9dp BEFORE the argmax on both
    engines, so near-ties resolve identically (ties break to the
    lower class index); the twin continues q262's unroll with the
    same max-shifted softmax and a lexicographic [p, −k] argmax."""
    from pagerank_spark.operators.classifier import (
        hashed_token_features,
        softmax_predict,
        softmax_train,
    )

    docs = load_table(spark, sf_dir, "documents")
    # r14 optimization: the hashed-feature relation feeds BOTH the
    # trainer and the corpus-scoring pass (which references it twice
    # more: margin rows + the bias-row doc universe) — persist it so
    # the explode+md5+normalize pipeline runs once, not 3x. Values
    # are identical (deterministic pipeline, same plan); the bench and
    # parity harnesses release leftover cache between queries.
    feats = hashed_token_features(
        docs, n_features=64, normalize=True
    ).persist()
    model = softmax_train(
        feats,
        docs.select("doc_id", F.col("lang").alias("label")),
        rounds=2,
        lr=0.5,
    )
    out = softmax_predict(feats, model, round_probs=9)
    return out.select("doc_id", "label", F.col("prob"))


def q264_audio_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual AUDIO near-dup dedup under the oracle
    (operators/multimodal.py audio_blockprint +
    hamming_near_dup_pairs): the q221 image-pHash pattern applied to
    the real audio tier. Every 10th doc id becomes a synthetic clip
    with PLANTED near-dup structure (group = id/40 shares a base
    waveform, variant = (id/10) mod 4 re-amplifies the first r time
    blocks) — EVEN ids as WAV, ODD ids as real-encoder FLAC, so the
    hash also proves the fingerprint is container-blind on lossless
    audio (a clip and its re-encode dedupe together). The REAL
    pipeline decodes bytes (RIFF walk / verified FLAC), computes
    64 block-energy bits by integer comparison, and pairs via the
    banded Hamming equi-join (pigeonhole: distance ≤ 3 ⇒ one of 4
    bands equal — never all-pairs). The DuckDB twin integrates the
    closed-form waveform over generate_series and reproduces bits and
    pairs without ever seeing a byte."""
    from pagerank_spark.operators.multimodal import (
        audio_blockprint,
        hamming_near_dup_pairs,
        synthesize_audio_variant_media,
    )

    ids = (
        load_table(spark, sf_dir, "documents")
        .where(F.col("doc_id") % 10 == 0)
        .select(
            F.col("doc_id").alias("media_id"),
            (F.col("doc_id") / 40).cast("long").alias("grp"),
            ((F.col("doc_id") / 10) % 4).cast("long").alias("variant"),
        )
    )
    media = synthesize_audio_variant_media(ids)
    return hamming_near_dup_pairs(
        audio_blockprint(media), max_dist=3
    ).orderBy("id_a", "id_b")


def q265_trained_embedding_ann(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The full learned-similarity loop DECLARED end to end: train
    node embeddings with the q259 PPMI-SVD, pivot them to the ANN
    array shape (graph/embeddings.py embedding_vectors — one
    partial-combined per-node collect, no window), and run the exact
    cosine top-k (operators/similarity.py ann_topk_bruteforce) for
    every 512th node. This is the round-13 verdict's north star —
    walk data → trained embeddings → similarity search — as ONE
    hash-checked query rather than a pytest: the twin re-derives the
    identical factorization and ranks long-form cosines with the same
    6dp-round + id tie rule."""
    from pagerank_spark.graph.embeddings import (
        embedding_vectors,
        ppmi_svd_embeddings,
    )
    from pagerank_spark.graph.walks import (
        ppmi_matrix,
        random_walks,
        skipgram_pairs,
    )
    from pagerank_spark.operators.similarity import ann_topk_bruteforce

    pairs = skipgram_pairs(
        random_walks(_edges(spark, sf_dir), steps=4), window=2
    )
    emb = ppmi_svd_embeddings(ppmi_matrix(pairs), rank=3, iterations=2)
    vecs = embedding_vectors(emb).withColumnRenamed("node", "vec_id")
    out = ann_topk_bruteforce(
        vecs, vecs.where(F.col("vec_id") % 512 == 0), k=5
    )
    return out.select("query_id", "nb_id", "cos", "rank")


def q266_sgns_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skip-gram-with-negative-sampling training
    (graph/embeddings.py sgns_train) — the LEARNED counterpart to the
    q259 count-based factorization, run on the exact q160 pair and
    q170 negative relations the engine already emits: 2 full-batch
    rounds, dim=4, lr=0.5, k=2 negatives per pair occurrence
    (collision draws dropped). All state stays distributed — U and V
    are vocab×dim long-form relations updated by sparse joins over
    the aggregated (center, word, label, mass) example relation,
    which like the SVD trainer's nnz is bounded by DISTINCT pairs,
    not walk-corpus volume. Output: both factor sides, tagged. The
    twin unrolls the identical trajectory (hash init, simultaneous
    update, 9dp per-round rounding) as a CTE chain."""
    from pagerank_spark.graph.embeddings import sgns_train
    from pagerank_spark.graph.walks import random_walks, skipgram_pairs

    pairs = skipgram_pairs(
        random_walks(_edges(spark, sf_dir), steps=4), window=2
    )
    res = sgns_train(pairs, dim=4, rounds=2, lr=0.5, neg_k=2)
    return res.u.select(
        F.lit("u").alias("side"), "node", "dim", "value"
    ).unionByName(
        res.v.select(F.lit("v").alias("side"), "node", "dim", "value")
    )


def q267_trained_ivf_serving(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The SCALE-CORRECT serving path for trained embeddings: q265
    proves walks → PPMI-SVD → similarity by brute force; this runs the
    same trained vectors through the PERSISTED IVF lifecycle
    (operators/similarity.py build_ivf_index / ann_ivf_persisted —
    the q234 build-once/query-many path): 9dp-rounded trained vectors
    → seeded refine-free codebook + cid-partitioned inverted lists on
    disk → top-5 probes that directory-prune to n_probe=3 of 16
    lists. The 9dp round on the embedding VALUES (both engines)
    makes every array element bit-identical before the IVF algebra,
    so centroid assignment — an UNROUNDED affinity argmax — cannot
    flip on cross-engine reduction-order drift (the q257 round-the-
    input rule). Twin: the q259 SVD core pivoted to arrays feeding
    the q36/q73/q234 seeded-IVF SQL algebra."""
    from pagerank_spark.graph.embeddings import (
        embedding_vectors,
        ppmi_svd_embeddings,
    )
    from pagerank_spark.graph.walks import (
        ppmi_matrix,
        random_walks,
        skipgram_pairs,
    )
    from pagerank_spark.operators.similarity import (
        ann_ivf_persisted,
        build_ivf_index,
        index_scratch_root,
        remove_index,
    )

    pairs = skipgram_pairs(
        random_walks(_edges(spark, sf_dir), steps=4), window=2
    )
    emb = ppmi_svd_embeddings(ppmi_matrix(pairs), rank=3, iterations=2)
    vecs = embedding_vectors(
        emb.select("node", "dim", F.round("value", 9).alias("value"))
    ).withColumnRenamed("node", "vec_id")
    root = index_scratch_root(spark, prefix="psq267_")
    try:
        build_ivf_index(vecs, root, n_centroids=16, refine=0)
        return ann_ivf_persisted(
            spark, root, vecs.where(F.col("vec_id") % 512 == 0),
            k=5, n_probe=3,
        ).select(
            "query_id",
            "nb_id",
            "cos",
            F.col("rank").cast("long").alias("rank"),
        )
    finally:
        remove_index(spark, root)


def q268_word_sgns_semantic_ann(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The TEXT-side learned-similarity loop, end to end in one
    hash-checked query: documents → directed word skipgram pairs
    (operators/text.py word_skipgram_pairs, window=2, min_count=2) →
    word-SGNS training (graph/embeddings.py sgns_train — string word
    nodes flow through the hash init and the q170 negative sampler
    unchanged; 2 rounds, dim=4, the twin-pinned lr) → per-doc mean
    pooling of the trained center vectors over the doc's token
    occurrences (9dp-rounded per dim, absorbing distributed-sum
    order) → exact cosine top-5 over the pooled doc vectors for every
    64th doc. This is the word2vec analogue of q265's graph loop:
    training data emitted from TEXT, trained on, and served — doc
    semantic near-dup over embeddings the engine itself trained. The
    twin rebuilds the identical pair relation positionally, unrolls
    the same SGNS trajectory, and pools/ranks with the same rounding
    rules."""
    from pagerank_spark.functions import word_tokens
    from pagerank_spark.graph.embeddings import (
        embedding_vectors,
        sgns_train,
    )
    from pagerank_spark.operators.similarity import ann_topk_bruteforce
    from pagerank_spark.operators.text import word_skipgram_pairs

    docs = load_table(spark, sf_dir, "documents")
    pairs = word_skipgram_pairs(docs, window=2, min_count=2)
    res = sgns_train(pairs, dim=4, rounds=2, lr=0.5, neg_k=2)
    toks = docs.select(
        "doc_id", F.explode(word_tokens(F.col("text"))).alias("term")
    ).where(F.col("term") != "")
    dv = (
        toks.join(
            res.u.withColumnRenamed("node", "term"), on="term"
        )
        .groupBy("doc_id", "dim")
        .agg(
            F.round(
                F.sum("value") / F.count(F.lit(1)), 9
            ).alias("value")
        )
    )
    vecs = embedding_vectors(dv, node_col="doc_id").withColumnRenamed(
        "doc_id", "vec_id"
    )
    return ann_topk_bruteforce(
        vecs, vecs.where(F.col("vec_id") % 64 == 0), k=5
    )


def q269_ppl_quality_bands(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """CCNet-style perplexity quality banding (operators/ngram_lm.py
    ppl_quality_bands): the trained q260 KN model USED for curation —
    every doc scored in-domain (q261) and split into 3
    equal-population bands by VALUE (ties share a band; band 1 =
    most fluent head, 3 = tail — the keep-head+middle curation move,
    Wenzek et al. 2020). The cumulative count rides the DISTINCT-ppl
    relation (the q155 value-bounded-window idiom), never a
    corpus-sized global window; 6dp rounding BEFORE banding pins the
    band keys cross-engine. The twin reuses the q260/q261 KN count
    CTEs and the identical floor(n_bands·lo/n) value-banding."""
    from pagerank_spark.operators.ngram_lm import ppl_quality_bands

    docs = load_table(spark, sf_dir, "documents")
    return ppl_quality_bands(docs, discount=0.75, n_bands=3)


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: full PageRank (β=0.85, δ=1e-5) on the sf0.001 derived
    edge graph, top-100 (page, score)."""
    res = pagerank(_edges(spark, "/root/testdata/sf0.001"))
    return top_k(res.ranks, 100)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "q01_edge_scan": q01_edge_scan,
        "q02_distinct_nodes": q02_distinct_nodes,
        "q03_out_degree_top20": q03_out_degree_top20,
        "q04_duplicate_edges": q04_duplicate_edges,
        "q05_subset_sorted": q05_subset_sorted,
        "q06_contribution_sum": q06_contribution_sum,
        "q07_rank_diff_l1": q07_rank_diff_l1,
        "q08_induced_subgraph": q08_induced_subgraph,
        "q09_positions": q09_positions,
        "q10_positional_join": q10_positional_join,
        "q11_lineitem_agg": q11_lineitem_agg,
        "q12_customer_nation_region": q12_customer_nation_region,
        "q13_degree_quantiles": q13_degree_quantiles,
        "q14_formatted_top100": q14_formatted_top100,
        "q15_pagerank_2iter": q15_pagerank_2iter,
        "q16_adjacency_lists": q16_adjacency_lists,
        "q17_node_intersection": q17_node_intersection,
        "q18_top_customers": q18_top_customers,
        "q19_json_extract": q19_json_extract,
        "q20_token_stats": q20_token_stats,
        "q21_fingerprint": q21_fingerprint,
        "q22_language_id": q22_language_id,
        "q23_quality_score": q23_quality_score,
        "q24_exact_dedup_stats": q24_exact_dedup_stats,
        "q25_exact_dedup_keepfirst": q25_exact_dedup_keepfirst,
        "q26_token_jaccard": q26_token_jaccard,
        "q27_minhash_lsh": q27_minhash_lsh,
        "q28_ann_bruteforce": q28_ann_bruteforce,
        "q29_embedding_neardup": q29_embedding_neardup,
        "q30_tumbling_window": q30_tumbling_window,
        "q31_simhash_pairs": q31_simhash_pairs,
        "q32_multimodal_decode": q32_multimodal_decode,
        "q33_compare_teleports": q33_compare_teleports,
        "q34_sliding_window": q34_sliding_window,
        "q35_sessionize": q35_sessionize,
        "q36_ann_ivf": q36_ann_ivf,
        "q37_user_running_stats": q37_user_running_stats,
        "q38_rollup_revenue": q38_rollup_revenue,
        "q39_revenue_per_nation": q39_revenue_per_nation,
        "q40_moving_avg": q40_moving_avg,
        "q41_connected_components": q41_connected_components,
        "q42_triangle_count": q42_triangle_count,
        "q43_asof_join": q43_asof_join,
        "q44_customers_without_orders": q44_customers_without_orders,
        "q45_cube_revenue": q45_cube_revenue,
        "q46_lag_lead": q46_lag_lead,
        "q47_ntile_quartiles": q47_ntile_quartiles,
        "q48_pivot_status": q48_pivot_status,
        "q49_tpch_q3": q49_tpch_q3,
        "q50_approx_distinct": q50_approx_distinct,
        "q51_dangling_nodes": q51_dangling_nodes,
        "q52_shortest_paths": q52_shortest_paths,
        "q53_monthly_revenue": q53_monthly_revenue,
        "q54_regexp_extract": q54_regexp_extract,
        "q55_percent_rank": q55_percent_rank,
        "q56_ann_lsh": q56_ann_lsh,
        "q57_label_propagation": q57_label_propagation,
        "q58_except_all": q58_except_all,
        "q59_interval_join": q59_interval_join,
        "q60_twohop_recs": q60_twohop_recs,
        "q61_personalized_pagerank": q61_personalized_pagerank,
        "q62_tpch_q7_volume": q62_tpch_q7_volume,
        "q63_weighted_sssp": q63_weighted_sssp,
        "q64_grouping_sets": q64_grouping_sets,
        "q65_from_json_struct": q65_from_json_struct,
        "q66_array_functions": q66_array_functions,
        "q67_levenshtein_pairs": q67_levenshtein_pairs,
        "q68_rank_dense_rank": q68_rank_dense_rank,
        "q69_conditional_agg": q69_conditional_agg,
        "q70_max_by": q70_max_by,
        "q71_wordcount": q71_wordcount,
        "q72_exists_semijoin": q72_exists_semijoin,
        "q73_ann_ivf_seeded": q73_ann_ivf_seeded,
        "q74_tpch_q18": q74_tpch_q18,
        "q75_tpch_q21": q75_tpch_q21,
        "q76_min_cost_supplier": q76_min_cost_supplier,
        "q77_stats_agg": q77_stats_agg,
        "q78_median_percentile": q78_median_percentile,
        "q79_range_moving_window": q79_range_moving_window,
        "q80_value_windows": q80_value_windows,
        "q81_mutual_pairs": q81_mutual_pairs,
        "q82_salted_skew_join": q82_salted_skew_join,
        "q83_stratified_sample": q83_stratified_sample,
        "q84_groupwise_zscore": q84_groupwise_zscore,
        "q85_sketch_quantiles": q85_sketch_quantiles,
        "q86_funnel": q86_funnel,
        "q87_cohort_retention": q87_cohort_retention,
        "q88_kcore": q88_kcore,
        "q89_assortativity": q89_assortativity,
        "q90_neardup_clusters": q90_neardup_clusters,
        "q91_vector_dim_stats": q91_vector_dim_stats,
        "q92_weighted_pagerank": q92_weighted_pagerank,
        "q93_local_clustering": q93_local_clustering,
        "q94_band_theta_join": q94_band_theta_join,
        "q95_curation_pipeline": q95_curation_pipeline,
        "q96_scc": q96_scc,
        "q97_resample_gapfill": q97_resample_gapfill,
        "q98_session_conversion": q98_session_conversion,
        "q99_topn_per_group": q99_topn_per_group,
        "q100_width_bucket_histogram": q100_width_bucket_histogram,
        "q101_cooccurrence_lift": q101_cooccurrence_lift,
        "q102_frame_sample_plan": q102_frame_sample_plan,
        "q103_unpivot": q103_unpivot,
        "q104_asof_tolerance": q104_asof_tolerance,
        "q105_table_merge": q105_table_merge,
        "q106_warmstart_pagerank": q106_warmstart_pagerank,
        "q107_gopher_quality": q107_gopher_quality,
        "q108_pii_redact": q108_pii_redact,
        "q109_sample_to_mix": q109_sample_to_mix,
        "q110_decontamination": q110_decontamination,
        "q111_boilerplate_lines": q111_boilerplate_lines,
        "q112_tfidf_top_terms": q112_tfidf_top_terms,
        "q113_curate_documents": q113_curate_documents,
        "q114_image_decode": q114_image_decode,
        "q115_audio_decode": q115_audio_decode,
        "q116_star_components": q116_star_components,
        "q117_bloom_decontaminate": q117_bloom_decontaminate,
        "q118_pack_sequences": q118_pack_sequences,
        "q119_unigram_logprob": q119_unigram_logprob,
        "q120_dataset_split": q120_dataset_split,
        "q121_cms_heavy_hitters": q121_cms_heavy_hitters,
        "q122_adamic_adar": q122_adamic_adar,
        "q123_incremental_agg": q123_incremental_agg,
        "q124_hits": q124_hits,
        "q125_katz_centrality": q125_katz_centrality,
        "q126_zorder_table": q126_zorder_table,
        "q127_chunk_documents": q127_chunk_documents,
        "q128_expectations": q128_expectations,
        "q129_multi_source_bfs": q129_multi_source_bfs,
        "q130_harmonic_centrality": q130_harmonic_centrality,
        "q131_weighted_sample": q131_weighted_sample,
        "q132_portable_hll": q132_portable_hll,
        "q133_full_outer_join": q133_full_outer_join,
        "q134_intersect_all": q134_intersect_all,
        "q135_scalar_functions": q135_scalar_functions,
        "q136_incremental_neardup": q136_incremental_neardup,
        "q137_png_decode": q137_png_decode,
        "q138_jpeg_decode": q138_jpeg_decode,
        "q139_image_embedding": q139_image_embedding,
        "q140_repetition_filters": q140_repetition_filters,
        "q141_kmeans_clusters": q141_kmeans_clusters,
        "q142_semantic_dedup": q142_semantic_dedup,
        "q143_pca_component": q143_pca_component,
        "q144_pca_projection": q144_pca_projection,
        "q145_dup_span_coverage": q145_dup_span_coverage,
        "q146_quantize_embeddings": q146_quantize_embeddings,
        "q147_quantized_ann": q147_quantized_ann,
        "q148_skew_report": q148_skew_report,
        "q149_remove_dup_spans": q149_remove_dup_spans,
        "q150_bpe_train": q150_bpe_train,
        "q151_bpe_segment_stats": q151_bpe_segment_stats,
        "q152_tpch_q5": q152_tpch_q5,
        "q153_tpch_q10": q153_tpch_q10,
        "q154_ivf_adc": q154_ivf_adc,
        "q155_binary_auc": q155_binary_auc,
        "q156_pr_thresholds": q156_pr_thresholds,
        "q157_token_entropy": q157_token_entropy,
        "q158_ewma": q158_ewma,
        "q159_random_walks": q159_random_walks,
        "q160_skipgram_pairs": q160_skipgram_pairs,
        "q161_ppmi": q161_ppmi,
        "q162_table_changes": q162_table_changes,
        "q163_cdf_refresh": q163_cdf_refresh,
        "q164_join_cardinality": q164_join_cardinality,
        "q165_winsorize": q165_winsorize,
        "q166_psi_drift": q166_psi_drift,
        "q167_epoch_shuffle": q167_epoch_shuffle,
        "q168_sql_interface": q168_sql_interface,
        "q169_maximal_independent_set": q169_maximal_independent_set,
        "q170_negative_samples": q170_negative_samples,
        "q171_bm25_search": q171_bm25_search,
        "q172_bigram_logprob": q172_bigram_logprob,
        "q173_longest_streaks": q173_longest_streaks,
        "q174_scd2_dimension": q174_scd2_dimension,
        "q175_fuzzy_pairs": q175_fuzzy_pairs,
        "q176_profile_columns": q176_profile_columns,
        "q177_er_resolve": q177_er_resolve,
        "q178_ngram_novelty": q178_ngram_novelty,
        "q179_zipf_slope": q179_zipf_slope,
        "q180_tpch_q22": q180_tpch_q22,
        "q181_tpch_q15": q181_tpch_q15,
        "q182_script_mix": q182_script_mix,
        "q183_url_parse": q183_url_parse,
        "q184_equidepth_hist": q184_equidepth_hist,
        "q185_ktruss": q185_ktruss,
        "q186_groupwise_ols": q186_groupwise_ols,
        "q187_containment_pairs": q187_containment_pairs,
        "q188_leakage_safe_split": q188_leakage_safe_split,
        "q189_quality_stratified_sample": q189_quality_stratified_sample,
        "q190_daily_top_events": q190_daily_top_events,
        "q191_pq_ann": q191_pq_ann,
        "q192_sorted_neighborhood": q192_sorted_neighborhood,
        "q193_event_type_cooccurrence": q193_event_type_cooccurrence,
        "q194_corr_matrix": q194_corr_matrix,
        "q195_readability": q195_readability,
        "q196_lang_source_mi": q196_lang_source_mi,
        "q197_markov_transitions": q197_markov_transitions,
        "q198_welch_ttest": q198_welch_ttest,
        "q199_mad_outliers": q199_mad_outliers,
        "q200_ab_assign_srm": q200_ab_assign_srm,
        "q201_jackknife_ci": q201_jackknife_ci,
        "q202_spearman_corr": q202_spearman_corr,
        "q203_chi2_independence": q203_chi2_independence,
        "q204_benford_audit": q204_benford_audit,
        "q205_source_concentration": q205_source_concentration,
        "q206_k_anonymity": q206_k_anonymity,
        "q207_cusum_changepoint": q207_cusum_changepoint,
        "q208_rfm_segments": q208_rfm_segments,
        "q209_tpch_q6": q209_tpch_q6,
        "q210_tpch_q14": q210_tpch_q14,
        "q211_tpch_q17": q211_tpch_q17,
        "q212_tpch_q19": q212_tpch_q19,
        "q213_tpch_q8": q213_tpch_q8,
        "q214_tpch_q4": q214_tpch_q4,
        "q215_kaplan_meier": q215_kaplan_meier,
        "q216_tpch_q7": q216_tpch_q7,
        "q217_tpch_q9": q217_tpch_q9,
        "q218_tpch_q13": q218_tpch_q13,
        "q219_stratified_sample": q219_stratified_sample,
        "q220_event_acf": q220_event_acf,
        "q221_image_ahash_neardup": q221_image_ahash_neardup,
        "q222_word_pmi": q222_word_pmi,
        "q223_feature_hash": q223_feature_hash,
        "q224_percentile_rank": q224_percentile_rank,
        "q225_funnel_times": q225_funnel_times,
        "q226_cuped": q226_cuped,
        "q227_ab_ztest": q227_ab_ztest,
        "q228_weighted_sample": q228_weighted_sample,
        "q229_seasonal_decompose": q229_seasonal_decompose,
        "q230_groupwise_gini": q230_groupwise_gini,
        "q232_seasonal_naive_backtest": q232_seasonal_naive_backtest,
        "q233_calibration_report": q233_calibration_report,
        "q234_ivf_index_lifecycle": q234_ivf_index_lifecycle,
        "q235_image_resize": q235_image_resize,
        "q236_mp4_container_meta": q236_mp4_container_meta,
        "q237_mp3_frame_walk": q237_mp3_frame_walk,
        "q238_session_window_native": q238_session_window_native,
        "q239_merge_schema_evolution": q239_merge_schema_evolution,
        "q240_training_order": q240_training_order,
        "q241_mixture_order": q241_mixture_order,
        "q242_gif_decode": q242_gif_decode,
        "q243_betweenness_centrality": q243_betweenness_centrality,
        "q244_curation_provenance": q244_curation_provenance,
        "q245_tiff_decode": q245_tiff_decode,
        "q246_hybrid_retrieval": q246_hybrid_retrieval,
        "q247_hll_rollup": q247_hll_rollup,
        "q248_bottomk_sample": q248_bottomk_sample,
        "q249_weighted_bottomk": q249_weighted_bottomk,
        "q250_retention_cohorts": q250_retention_cohorts,
        "q251_progressive_jpeg": q251_progressive_jpeg,
        "q252_interlaced_palette_png": q252_interlaced_palette_png,
        "q253_logreg_train": q253_logreg_train,
        "q254_unigram_lm_train": q254_unigram_lm_train,
        "q255_flac_decode": q255_flac_decode,
        "q256_node2vec_walks": q256_node2vec_walks,
        "q257_unigram_segment_stats": q257_unigram_segment_stats,
        "q258_logreg_score_corpus": q258_logreg_score_corpus,
        "q259_ppmi_svd_embeddings": q259_ppmi_svd_embeddings,
        "q260_kn_lm_train": q260_kn_lm_train,
        "q261_kn_perplexity": q261_kn_perplexity,
        "q262_softmax_train": q262_softmax_train,
        "q263_softmax_language_id": q263_softmax_language_id,
        "q264_audio_neardup": q264_audio_neardup,
        "q265_trained_embedding_ann": q265_trained_embedding_ann,
        "q266_sgns_train": q266_sgns_train,
        "q267_trained_ivf_serving": q267_trained_ivf_serving,
        "q268_word_sgns_semantic_ann": q268_word_sgns_semantic_ann,
        "q269_ppl_quality_bands": q269_ppl_quality_bands,
    }


def oracle_sql() -> dict[str, str]:
    return _ORACLES


_ORACLES: dict[str, str] = {}


def _oracle(name: str, sql: str) -> None:
    _ORACLES[name] = sql


_oracle(
    "q01_edge_scan",
    SQL_EDGES
    + """
SELECT CAST(COUNT(*) AS BIGINT) AS n_edges,
       MIN(src) AS min_src, MAX(src) AS max_src,
       MIN(dst) AS min_dst, MAX(dst) AS max_dst
FROM edges
""",
)

_oracle(
    "q02_distinct_nodes",
    SQL_EDGES
    + """
SELECT CAST(COUNT(*) AS BIGINT) AS n_nodes,
       MIN(node) AS min_node, MAX(node) AS max_node
FROM nodes
""",
)

_oracle(
    "q03_out_degree_top20",
    SQL_EDGES + "SELECT src, deg FROM deg ORDER BY deg DESC, src ASC LIMIT 20",
)

_oracle(
    "q04_duplicate_edges",
    SQL_EDGES
    + """
SELECT src, dst, CAST(COUNT(*) AS BIGINT) AS n_occurrences
FROM edges GROUP BY src, dst HAVING COUNT(*) > 1
""",
)

_oracle(
    "q05_subset_sorted",
    SQL_EDGES + "SELECT src, dst FROM edges WHERE src % 20 = 0",
)

_oracle(
    "q06_contribution_sum",
    SQL_EDGES
    + """
SELECT e.dst AS node,
       ROUND(SUM(0.85 * (1.0 / (SELECT COUNT(*) FROM nodes)) / d.deg), 12)
         AS contrib
FROM edges e JOIN deg d ON e.src = d.src
GROUP BY e.dst
""",
)

_oracle(
    "q07_rank_diff_l1",
    SQL_EDGES
    + """
, in_deg AS (
  SELECT dst AS node, CAST(COUNT(*) AS BIGINT) AS in_deg
  FROM edges GROUP BY dst
)
SELECT ROUND(SUM(ABS(
         1.0 / (SELECT COUNT(*) FROM nodes)
         - COALESCE(i.in_deg, 0) / CAST((SELECT COUNT(*) FROM edges) AS DOUBLE)
       )), 9) AS l1
FROM nodes n LEFT JOIN in_deg i ON n.node = i.node
""",
)

_oracle(
    "q08_induced_subgraph",
    SQL_EDGES
    + ","
    + SQL_TOP20
    + """
SELECT e.src, e.dst
FROM edges e
WHERE e.src IN (SELECT node FROM top20)
  AND e.dst IN (SELECT node FROM top20)
""",
)

_oracle(
    "q09_positions",
    SQL_EDGES
    + """
SELECT src, deg, position FROM (
  SELECT src, deg,
         CAST(ROW_NUMBER() OVER (ORDER BY deg DESC, src ASC) AS BIGINT)
           AS position
  FROM deg
) WHERE position <= 50
""",
)

_oracle(
    "q10_positional_join",
    SQL_EDGES
    + """
, out_rank AS (
  SELECT src AS node,
         CAST(ROW_NUMBER() OVER (ORDER BY deg DESC, src ASC) AS BIGINT)
           AS position
  FROM deg
),
in_d AS (
  SELECT dst AS node, COUNT(*) AS deg FROM edges GROUP BY dst
),
in_rank AS (
  SELECT node,
         CAST(ROW_NUMBER() OVER (ORDER BY deg DESC, node ASC) AS BIGINT)
           AS position
  FROM in_d
)
SELECT o.position, o.node AS node_0, i.node AS node_1,
       (o.node = i.node) AS all_match
FROM out_rank o JOIN in_rank i ON o.position = i.position
WHERE o.position <= 30
""",
)

_oracle(
    "q11_lineitem_agg",
    """
SELECT l_returnflag, l_linestatus,
       ROUND(SUM(l_quantity), 2) AS sum_qty,
       ROUND(SUM(l_extendedprice), 2) AS sum_base_price,
       ROUND(SUM(l_extendedprice * (1.0 - l_discount)), 2) AS sum_disc_price,
       ROUND(AVG(l_quantity), 4) AS avg_qty,
       ROUND(AVG(l_extendedprice), 4) AS avg_price,
       ROUND(AVG(l_discount), 4) AS avg_disc,
       CAST(COUNT(*) AS BIGINT) AS count_order
FROM lineitem
GROUP BY l_returnflag, l_linestatus
""",
)

_oracle(
    "q12_customer_nation_region",
    """
SELECT n_name,
       CAST(COUNT(*) AS BIGINT) AS n_customers,
       ROUND(SUM(c_acctbal), 2) AS sum_acctbal
FROM customer
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
GROUP BY n_name
""",
)

_oracle(
    "q13_degree_quantiles",
    SQL_EDGES
    + """
SELECT ROUND(quantile_cont(deg, 0.25), 6) AS p25,
       ROUND(quantile_cont(deg, 0.50), 6) AS p50,
       ROUND(quantile_cont(deg, 0.75), 6) AS p75
FROM deg
""",
)

_oracle(
    "q14_formatted_top100",
    SQL_EDGES
    + """
SELECT '[' || CAST(src AS VARCHAR) || '] [' || CAST(deg AS VARCHAR) || ']'
         AS line
FROM (SELECT src, deg FROM deg ORDER BY deg DESC, src ASC LIMIT 100)
""",
)

# Two power-step iterations with the analytic dangling-mass correction —
# the same algebra as pagerank_spark.graph.pagerank (module docstring).
_oracle(
    "q15_pagerank_2iter",
    SQL_EDGES
    + """
, consts AS (
  SELECT CAST((SELECT COUNT(*) FROM nodes) AS BIGINT) AS n,
         CAST((SELECT COUNT(*) FROM deg) AS BIGINT) AS n_src
),
r0 AS (
  SELECT n.node, d.deg, 1.0 / c.n AS rank
  FROM nodes n LEFT JOIN deg d ON n.node = d.src CROSS JOIN consts c
),
contrib1 AS (
  SELECT e.dst AS node, SUM(0.85 * r.rank / r.deg) AS contrib
  FROM edges e JOIN r0 r ON e.src = r.node
  WHERE r.deg IS NOT NULL
  GROUP BY e.dst
),
m0 AS (
  SELECT CAST(c.n_src AS DOUBLE) / c.n AS m FROM consts c
),
r1 AS (
  SELECT r.node, r.deg,
         ((1.0 - 0.85) / c.n + (0.85 * (1.0 - (SELECT m FROM m0))) / c.n)
           + COALESCE(k.contrib, 0.0) AS rank
  FROM r0 r LEFT JOIN contrib1 k ON r.node = k.node CROSS JOIN consts c
),
m1 AS (
  SELECT SUM(CASE WHEN deg IS NOT NULL THEN rank ELSE 0.0 END) AS m FROM r1
),
contrib2 AS (
  SELECT e.dst AS node, SUM(0.85 * r.rank / r.deg) AS contrib
  FROM edges e JOIN r1 r ON e.src = r.node
  WHERE r.deg IS NOT NULL
  GROUP BY e.dst
),
r2 AS (
  SELECT r.node,
         ((1.0 - 0.85) / c.n + (0.85 * (1.0 - (SELECT m FROM m1))) / c.n)
           + COALESCE(k.contrib, 0.0) AS rank
  FROM r1 r LEFT JOIN contrib2 k ON r.node = k.node CROSS JOIN consts c
)
SELECT node, ROUND(rank, 9) AS rank FROM r2
""",
)

_oracle(
    "q16_adjacency_lists",
    SQL_EDGES
    + """
SELECT src,
       array_to_string(list_sort(list(dst)), ',') AS dsts,
       CAST(COUNT(*) AS BIGINT) AS deg
FROM edges GROUP BY src
""",
)

_oracle(
    "q17_node_intersection",
    SQL_EDGES
    + "SELECT src AS node FROM edges INTERSECT SELECT dst AS node FROM edges",
)

_oracle(
    "q18_top_customers",
    """
SELECT c_custkey, c_name,
       ROUND(SUM(o_totalprice), 2) AS revenue,
       CAST(COUNT(*) AS BIGINT) AS n_orders
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_custkey, c_name
ORDER BY revenue DESC, c_custkey ASC
LIMIT 10
""",
)

_oracle(
    "q19_json_extract",
    """
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT)
         AS sum_k,
       ROUND(SUM(value), 2) AS sum_value
FROM events
GROUP BY event_type
""",
)

_oracle(
    "q20_token_stats",
    r"""
SELECT doc_id,
       CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_tokens,
       CAST(len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]'))
            AS BIGINT) AS n_subwords
FROM documents
""",
)

_oracle(
    "q21_fingerprint",
    r"""
SELECT doc_id,
       bit_xor(CAST(('0x' || substr(md5(tok), 1, 15)) AS BIGINT))
         AS fingerprint,
       CAST(COUNT(*) AS BIGINT) AS n_tokens
FROM (
  SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS tok
  FROM documents
)
WHERE tok <> ''
GROUP BY doc_id
""",
)

_oracle(
    "q22_language_id",
    r"""
WITH hits AS (
  SELECT doc_id,
    len(regexp_extract_all(lower(text), '\b(?:the|and|of|to|a)\b')) AS h_en,
    len(regexp_extract_all(lower(text), '\b(?:el|la|de|que|y)\b')) AS h_es,
    len(regexp_extract_all(lower(text), '\b(?:le|la|et|les|des)\b')) AS h_fr,
    len(regexp_extract_all(lower(text), '\b(?:der|die|und|das|ein)\b')) AS h_de,
    len(regexp_extract_all(lower(text), '(?:的|是|了|在|我)')) AS h_zh
  FROM documents
)
SELECT doc_id,
  CASE
    WHEN greatest(h_en, h_es, h_fr, h_de, h_zh) = 0 THEN 'unknown'
    WHEN h_de = greatest(h_en, h_es, h_fr, h_de, h_zh) THEN 'de'
    WHEN h_en = greatest(h_en, h_es, h_fr, h_de, h_zh) THEN 'en'
    WHEN h_es = greatest(h_en, h_es, h_fr, h_de, h_zh) THEN 'es'
    WHEN h_fr = greatest(h_en, h_es, h_fr, h_de, h_zh) THEN 'fr'
    ELSE 'zh'
  END AS pred_lang
FROM hits
""",
)

_oracle(
    "q23_quality_score",
    r"""
WITH feats AS (
  SELECT doc_id,
         length(text) AS len_chars,
         len(string_split_regex(trim(text), '\s+')) AS n_tokens,
         len(regexp_extract_all(text, '[\.,;:!\?]')) AS n_punct,
         len(regexp_extract_all(lower(text), '\b(?:the|and|of|to|a)\b'))
           AS stop_hits
  FROM documents
),
ratios AS (
  SELECT doc_id, len_chars, n_tokens,
         n_punct / greatest(len_chars, 1) AS punct_ratio,
         stop_hits / greatest(n_tokens, 1) AS stop_ratio
  FROM feats
)
SELECT doc_id,
       CAST(len_chars AS BIGINT) AS len_chars,
       CAST(n_tokens AS BIGINT) AS n_tokens,
       ROUND(punct_ratio, 9) AS punct_ratio,
       ROUND(stop_ratio, 9) AS stopword_ratio,
       ROUND(0.4 * least(len_chars / 500.0, 1.0)
             + 0.3 * (1.0 - punct_ratio)
             + 0.3 * least(stop_ratio, 1.0), 9) AS quality
FROM ratios
""",
)

_oracle(
    "q24_exact_dedup_stats",
    """
SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(COUNT(DISTINCT text) AS BIGINT) AS n_distinct,
       CAST(COUNT(*) - COUNT(DISTINCT text) AS BIGINT) AS n_exact_dupes
FROM documents
""",
)

_oracle(
    "q25_exact_dedup_keepfirst",
    """
SELECT doc_id FROM (
  SELECT doc_id,
         ROW_NUMBER() OVER (PARTITION BY text ORDER BY doc_id ASC) AS rn
  FROM documents
) WHERE rn = 1
""",
)

# q26's twin lives next to q27's below — both use _minhash_pair_sql,
# defined after this point in the file.

_oracle(
    "q28_ann_bruteforce",
    """
WITH scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS nb_id,
         ROUND(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
                                      CAST(c.embedding AS DOUBLE[])), 6)
           AS cos
  FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
  WHERE q.vec_id % 50 = 0
),
ranked AS (
  SELECT query_id, nb_id, cos,
         CAST(ROW_NUMBER() OVER (
           PARTITION BY query_id ORDER BY cos DESC, nb_id ASC
         ) AS BIGINT) AS rank
  FROM scored
)
SELECT query_id, nb_id, cos, rank FROM ranked WHERE rank <= 5
""",
)

def _lsh_buckets_sql() -> str:
    """DuckDB twin of ``similarity.lsh_bucket`` (dim=64, 12 planes, 3
    bands): the deterministic LCG hyperplanes are materialized as DOUBLE[]
    literals (repr round-trips exactly), and ``list_dot_product`` makes
    the same sequential-fold sign decisions as the Catalyst ``aggregate``
    fold — bucket parity verified exact on the fixture embeddings.
    Expects a CTE ``emb(id, v DOUBLE[])`` in scope.
    """
    from pagerank_spark.operators.similarity import _hyperplanes

    planes = _hyperplanes(64, 12)
    per_band = 4
    selects = []
    for band in range(3):
        bits = "\n      || ".join(
            "(CASE WHEN list_dot_product(v, ["
            + ",".join(repr(x) for x in planes[band * per_band + i])
            + "]::DOUBLE[]) >= 0 THEN '1' ELSE '0' END)"
            for i in range(per_band)
        )
        selects.append(
            f"  SELECT id, v, {band} AS band,\n      {bits} AS bucket FROM emb"
        )
    return "\n  UNION ALL\n".join(selects)


_oracle(
    "q29_embedding_neardup",
    """
WITH emb AS (
  SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v
  FROM embeddings WHERE vec_id % 10 = 0
),
buckets AS (
"""
    + _lsh_buckets_sql()
    + """
),
cands AS (
  SELECT DISTINCT a.id AS id_a, b.id AS id_b
  FROM buckets a JOIN buckets b
    ON a.band = b.band AND a.bucket = b.bucket AND a.id < b.id
),
pairs AS (
  SELECT c.id_a, c.id_b, list_cosine_similarity(ea.v, eb.v) AS cos
  FROM cands c
  JOIN emb ea ON c.id_a = ea.id
  JOIN emb eb ON c.id_b = eb.id
)
SELECT id_a, id_b, ROUND(cos, 6) AS cos FROM pairs WHERE cos >= 0.5
""",
)

_oracle(
    "q56_ann_lsh",
    """
WITH emb AS (
  SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
),
buckets AS (
"""
    + _lsh_buckets_sql()
    + """
),
cands AS (
  SELECT DISTINCT q.id AS query_id, c.id AS nb_id
  FROM buckets q JOIN buckets c
    ON q.band = c.band AND q.bucket = c.bucket
  WHERE q.id % 50 = 0 AND q.id <> c.id
),
scored AS (
  SELECT ca.query_id, ca.nb_id,
         ROUND(list_cosine_similarity(eq.v, ec.v), 6) AS cos
  FROM cands ca
  JOIN emb eq ON ca.query_id = eq.id
  JOIN emb ec ON ca.nb_id = ec.id
),
ranked AS (
  SELECT query_id, nb_id, cos,
         CAST(ROW_NUMBER() OVER (
           PARTITION BY query_id ORDER BY cos DESC, nb_id ASC
         ) AS BIGINT) AS rank
  FROM scored
)
SELECT query_id, nb_id, cos, rank FROM ranked WHERE rank <= 5
""",
)

_oracle(
    "q30_tumbling_window",
    """
SELECT CAST(floor(epoch(ts) / 3600) AS BIGINT) AS window_id,
       event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       ROUND(SUM(value), 2) AS sum_value
FROM events
GROUP BY 1, 2
""",
)

# q27_minhash_lsh twin: signatures + banding + verification, all from the
# portable md5 hash family (pagerank_spark/functions: portable_hash60).
_MINHASH_COEFFS = [
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
_P = 2_147_483_647
_MH_COLS = ",\n    ".join(
    f"min(({a} * h + {b}) % {_P}) AS mh{i}"
    for i, (a, b) in enumerate(_MINHASH_COEFFS)
)
_BAND_SIGS = "\n  UNION ALL\n".join(
    "  SELECT doc_id, {band} AS band, "
    "CAST(mh{a} AS VARCHAR) || '_' || CAST(mh{b} AS VARCHAR) || '_' || "
    "CAST(mh{c} AS VARCHAR) || '_' || CAST(mh{d} AS VARCHAR) AS sig "
    "FROM sigs".format(band=band, a=band * 4, b=band * 4 + 1, c=band * 4 + 2, d=band * 4 + 3)
    for band in range(4)
)

def _minhash_pair_sql(n: int, threshold: float) -> str:
    """Parameterized MinHash+LSH pair twin (shingle width n, verify
    threshold) — same signature/banding algebra as the Spark operator
    for any (n, threshold)."""
    if n == 1:
        shingles = (
            "shingles AS (\n"
            "  SELECT DISTINCT doc_id, tok AS shingle FROM toks"
            " WHERE tok <> ''\n)"
        )
    else:
        aliases = [chr(ord("a") + i) for i in range(n)]
        concat = " || ' ' || ".join(f"{al}.tok" for al in aliases)
        joins = "\n".join(
            f"  JOIN toks {al} ON a.doc_id = {al}.doc_id"
            f" AND {al}.idx = a.idx + {i}"
            for i, al in enumerate(aliases)
            if i > 0
        )
        shingles = (
            "shingles AS (\n"
            f"  SELECT DISTINCT a.doc_id,\n         {concat} AS shingle\n"
            "  FROM toks a\n"
            f"{joins}\n"
            f"  WHERE {concat} <> ''\n)"
        )
    return (
        r"""
WITH docs AS (
  SELECT doc_id, text FROM documents WHERE doc_id % 5 = 0
),
toks AS (
  SELECT doc_id, tok, idx FROM (
    SELECT doc_id,
           unnest(string_split_regex(trim(text), '\s+')) AS tok,
           unnest(range(1, len(string_split_regex(trim(text), '\s+')) + 1))
             AS idx
    FROM docs
  )
),
"""
        + shingles
        + r""",
hashed AS (
  SELECT doc_id,
         CAST(('0x' || substr(md5(shingle), 1, 15)) AS BIGINT) % """
        + str(_P)
        + r""" AS h
  FROM shingles
),
sigs AS (
  SELECT doc_id,
    """
        + _MH_COLS
        + r"""
  FROM hashed GROUP BY doc_id
),
banded AS (
"""
        + _BAND_SIGS
        + r"""
),
cands AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM banded a JOIN banded b
    ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id
),
sizes AS (
  SELECT doc_id, COUNT(*) AS n_sh FROM shingles GROUP BY doc_id
),
inter AS (
  SELECT c.id_a, c.id_b, COUNT(*) AS n_inter
  FROM cands c
  JOIN shingles a ON a.doc_id = c.id_a
  JOIN shingles b ON b.doc_id = c.id_b AND b.shingle = a.shingle
  GROUP BY c.id_a, c.id_b
)
SELECT i.id_a, i.id_b,
       ROUND(i.n_inter / CAST(sa.n_sh + sb.n_sh - i.n_inter AS DOUBLE), 6)
         AS jaccard
FROM inter i
JOIN sizes sa ON i.id_a = sa.doc_id
JOIN sizes sb ON i.id_b = sb.doc_id
WHERE i.n_inter / CAST(sa.n_sh + sb.n_sh - i.n_inter AS DOUBLE) >= """
        + str(threshold)
        + "\n"
    )


# q26 twin: the parameterized MinHash+LSH pair SQL at unigram width —
# same banded-candidate bounded plan as the engine side (through round
# 9 this twin was the raw inverted-index self-join, mirroring the
# engine's then-unbounded plan).
_oracle("q26_token_jaccard", _minhash_pair_sql(1, 0.5))

_oracle("q27_minhash_lsh", _minhash_pair_sql(3, 0.5))

# q31_simhash_pairs intentionally has no oracle entry → rows-only check.

_oracle(
    "q34_sliding_window",
    """
WITH ev AS (
  SELECT CAST(floor(epoch(ts) / 1800) AS BIGINT) * 1800 AS s1,
         event_type, value
  FROM events
),
expanded AS (
  SELECT s1 AS window_start, event_type, value FROM ev
  UNION ALL
  SELECT s1 - 1800 AS window_start, event_type, value FROM ev
)
SELECT window_start,
       window_start + 3600 AS window_end,
       event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       ROUND(SUM(value), 2) AS sum_value
FROM expanded
GROUP BY window_start, event_type
""",
)

_oracle(
    "q42_triangle_count",
    SQL_EDGES
    + """
, und AS (
  SELECT DISTINCT LEAST(src, dst) AS src, GREATEST(src, dst) AS dst
  FROM edges WHERE src <> dst
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_triangles
FROM und e1
JOIN und e2 ON e1.dst = e2.src
JOIN und e3 ON e3.src = e1.src AND e3.dst = e2.dst
""",
)

_oracle(
    "q41_connected_components",
    """
WITH RECURSIVE edges AS (
  SELECT CAST(l_orderkey + 1000000 AS BIGINT) AS src,
         CAST(l_partkey AS BIGINT) AS dst
  FROM lineitem WHERE l_linenumber = 1 AND l_orderkey % 8 = 0
),
und AS (SELECT src, dst FROM edges UNION SELECT dst, src FROM edges),
und_nodes AS (SELECT DISTINCT src AS node FROM und),
reach(node, label) AS (
  SELECT node, node FROM und_nodes
  UNION
  SELECT u.dst, r.label FROM reach r JOIN und u ON r.node = u.src
)
SELECT node, MIN(label) AS component FROM reach GROUP BY node
""",
)

_oracle(
    "q39_revenue_per_nation",
    """
SELECT n_name,
       ROUND(SUM(l_extendedprice * (1.0 - l_discount)), 2) AS revenue,
       CAST(COUNT(*) AS BIGINT) AS n_items
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
GROUP BY n_name
""",
)

_oracle(
    "q40_moving_avg",
    """
WITH daily AS (
  SELECT CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS BIGINT)
           AS day,
         SUM(o_totalprice) AS rev
  FROM orders
  GROUP BY 1
)
SELECT day,
       ROUND(rev, 2) AS revenue,
       ROUND(AVG(rev) OVER (
         ORDER BY day ROWS BETWEEN 6 PRECEDING AND CURRENT ROW
       ), 4) AS trailing_avg_7d
FROM daily
""",
)

_oracle(
    "q38_rollup_revenue",
    """
SELECT o_orderpriority, o_orderstatus,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       ROUND(SUM(o_totalprice), 2) AS revenue
FROM orders
GROUP BY ROLLUP (o_orderpriority, o_orderstatus)
""",
)

_oracle(
    "q37_user_running_stats",
    """
SELECT user_id,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       ROUND(SUM(value), 2) AS sum_value,
       CAST(MIN(floor(epoch(ts))) AS BIGINT) AS first_ep,
       CAST(MAX(floor(epoch(ts))) AS BIGINT) AS last_ep
FROM events
GROUP BY user_id
""",
)

_oracle(
    "q35_sessionize",
    """
WITH e AS (
  SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS ep, value FROM events
),
marked AS (
  SELECT user_id, ep, value,
         CASE WHEN ep - lag(ep) OVER (PARTITION BY user_id ORDER BY ep)
                   > 1800
              THEN 1 ELSE 0 END AS boundary
  FROM e
),
numbered AS (
  SELECT user_id, ep, value,
         SUM(boundary) OVER (
           PARTITION BY user_id ORDER BY ep
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
         ) AS session_idx
  FROM marked
)
SELECT user_id,
       CAST(session_idx AS BIGINT) AS session_idx,
       MIN(ep) AS session_start,
       MAX(ep) AS session_end,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       ROUND(SUM(value), 2) AS sum_value
FROM numbered
GROUP BY user_id, session_idx
""",
)

_oracle(
    "q32_multimodal_decode",
    """
SELECT doc_id AS media_id,
       'text/utf-8' AS kind,
       CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
       md5(text) AS digest
FROM documents
""",
)


def _pr2_beta_block(tag: str, beta: float) -> str:
    """One β's 2-iteration power-step expansion (q15's algebra) ending
    in a ``top_{tag}`` CTE of (position, page_{tag}) — composed per β by
    the q33 sweep twin. Shares the β-independent consts/r0/m0 CTEs."""
    b = repr(float(beta))
    return f"""
contrib1_{tag} AS (
  SELECT e.dst AS node, SUM({b} * r.rank / r.deg) AS contrib
  FROM edges e JOIN r0 r ON e.src = r.node
  WHERE r.deg IS NOT NULL
  GROUP BY e.dst
),
r1_{tag} AS (
  SELECT r.node, r.deg,
         ((1.0 - {b}) / c.n + ({b} * (1.0 - (SELECT m FROM m0))) / c.n)
           + COALESCE(k.contrib, 0.0) AS rank
  FROM r0 r LEFT JOIN contrib1_{tag} k ON r.node = k.node CROSS JOIN consts c
),
m1_{tag} AS (
  SELECT SUM(CASE WHEN deg IS NOT NULL THEN rank ELSE 0.0 END) AS m
  FROM r1_{tag}
),
contrib2_{tag} AS (
  SELECT e.dst AS node, SUM({b} * r.rank / r.deg) AS contrib
  FROM edges e JOIN r1_{tag} r ON e.src = r.node
  WHERE r.deg IS NOT NULL
  GROUP BY e.dst
),
r2_{tag} AS (
  SELECT r.node,
         ((1.0 - {b}) / c.n + ({b} * (1.0 - (SELECT m FROM m1_{tag}))) / c.n)
           + COALESCE(k.contrib, 0.0) AS rank
  FROM r1_{tag} r LEFT JOIN contrib2_{tag} k ON r.node = k.node
  CROSS JOIN consts c
),
top_{tag} AS (
  SELECT CAST(ROW_NUMBER() OVER (
           ORDER BY ROUND(rank, 9) DESC, node ASC
         ) AS BIGINT) AS position,
         node AS page_{tag}
  FROM r2_{tag}
  ORDER BY ROUND(rank, 9) DESC, node ASC
  LIMIT 20
)"""


_oracle(
    "q33_compare_teleports",
    SQL_EDGES
    + """
, consts AS (
  SELECT CAST((SELECT COUNT(*) FROM nodes) AS BIGINT) AS n,
         CAST((SELECT COUNT(*) FROM deg) AS BIGINT) AS n_src
),
r0 AS (
  SELECT n.node, d.deg, 1.0 / c.n AS rank
  FROM nodes n LEFT JOIN deg d ON n.node = d.src CROSS JOIN consts c
),
m0 AS (
  SELECT CAST(c.n_src AS DOUBLE) / c.n AS m FROM consts c
),"""
    + _pr2_beta_block("0_8", 0.80)
    + ","
    + _pr2_beta_block("0_85", 0.85)
    + """
SELECT a.position, a.page_0_8, b.page_0_85,
       (a.page_0_8 = b.page_0_85) AS all_match
FROM top_0_8 a JOIN top_0_85 b USING (position)
""",
)

_oracle(
    "q43_asof_join",
    """
WITH p AS (
  SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'
),
c AS (
  SELECT user_id, ts, MAX(value) AS click_value
  FROM events WHERE event_type = 'click'
  GROUP BY user_id, ts
)
SELECT p.event_id,
       p.user_id,
       CAST(floor(epoch(p.ts)) AS BIGINT) AS ep,
       CAST(floor(epoch(c.ts)) AS BIGINT) AS click_ep,
       ROUND(c.click_value, 2) AS click_value
FROM p ASOF LEFT JOIN c
  ON p.user_id = c.user_id AND p.ts >= c.ts
""",
)

_oracle(
    "q44_customers_without_orders",
    """
SELECT c_custkey, c_mktsegment
FROM customer
WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
""",
)

_oracle(
    "q45_cube_revenue",
    """
SELECT COALESCE(o_orderstatus, 'ALL') AS status,
       COALESCE(o_orderpriority, 'ALL') AS priority,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       ROUND(SUM(o_totalprice), 2) AS revenue
FROM orders
GROUP BY CUBE (o_orderstatus, o_orderpriority)
""",
)

_oracle(
    "q46_lag_lead",
    """
SELECT event_id,
       user_id,
       ROUND(value - lag(value) OVER w, 2) AS delta_prev,
       lead(event_type) OVER w AS next_type
FROM events
WHERE user_id % 10 = 0
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
""",
)

_oracle(
    "q47_ntile_quartiles",
    """
SELECT c_mktsegment, quartile,
       CAST(COUNT(*) AS BIGINT) AS n_customers,
       ROUND(AVG(c_acctbal), 2) AS avg_bal
FROM (
  SELECT c_mktsegment,
         ntile(4) OVER (PARTITION BY c_mktsegment
                        ORDER BY c_acctbal, c_custkey) AS quartile,
         c_acctbal
  FROM customer
)
GROUP BY c_mktsegment, quartile
""",
)

_oracle(
    "q48_pivot_status",
    """
SELECT o_orderpriority,
       CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT)
         AS n_f,
       CAST(SUM(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT)
         AS n_o,
       CAST(SUM(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END) AS BIGINT)
         AS n_p
FROM orders
GROUP BY o_orderpriority
""",
)

_oracle(
    "q49_tpch_q3",
    """
SELECT l_orderkey,
       CAST(floor(epoch(o_orderdate)) AS BIGINT) AS odate_ep,
       ROUND(SUM(l_extendedprice * (1.0 - l_discount)), 2) AS revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-06-30 00:00:00'
  AND l_shipdate > TIMESTAMP '1998-06-30 00:00:00'
GROUP BY l_orderkey, o_orderdate
ORDER BY revenue DESC, l_orderkey ASC
LIMIT 10
""",
)

# q50 twin: the exact NDV is fully oracle-able; the HLL estimate's
# accuracy contract is declared as a boolean (oracle side: TRUE). If
# Spark's sketch ever drifts past the max(2, 2%) bound the Spark side
# emits FALSE and the driver's value hash breaks — the bound itself is
# driver-verified even though the raw estimate can't be.
_oracle(
    "q50_approx_distinct",
    """
SELECT event_type,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users,
       TRUE AS approx_within_2pct
FROM events
GROUP BY event_type
""",
)

# q31 twin: the SimHash pipeline re-expressed in DuckDB — same portable
# 60-bit md5 token hash, same ±1 votes per (doc, bit), same 4×15-bit
# banding and bit_count(xor) verification as operators/dedup.py:263-352.
_oracle(
    "q31_simhash_pairs",
    r"""
WITH docs AS (
  SELECT doc_id, text FROM documents WHERE doc_id % 5 = 0
),
toks AS (
  SELECT DISTINCT doc_id,
         unnest(string_split_regex(trim(text), '\s+')) AS tok
  FROM docs
),
hashed AS (
  SELECT doc_id,
         CAST(('0x' || substr(md5(tok), 1, 15)) AS BIGINT) AS th
  FROM toks WHERE tok <> ''
),
bits AS (SELECT unnest(range(60)) AS bit),
votes AS (
  SELECT h.doc_id, b.bit,
         SUM(CASE WHEN (h.th >> b.bit) & 1 = 1 THEN 1 ELSE -1 END) AS v
  FROM hashed h CROSS JOIN bits b
  GROUP BY h.doc_id, b.bit
),
fp AS (
  SELECT doc_id,
         CAST(SUM(CASE WHEN v > 0 THEN (CAST(1 AS BIGINT) << bit)
                       ELSE 0 END) AS BIGINT) AS simhash
  FROM votes GROUP BY doc_id
),
banded AS (
  SELECT f.doc_id, f.simhash, b.band,
         (f.simhash >> (b.band * 15)) & 32767 AS band_bits
  FROM fp f CROSS JOIN (SELECT unnest(range(4)) AS band) b
),
pairs AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
         CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
  FROM banded a JOIN banded b
    ON a.band = b.band AND a.band_bits = b.band_bits
   AND a.doc_id < b.doc_id
)
SELECT id_a, id_b, hamming FROM pairs WHERE hamming <= 3
""",
)

_oracle(
    "q51_dangling_nodes",
    SQL_EDGES
    + """
SELECT dst AS node FROM edges
EXCEPT
SELECT src AS node FROM edges
""",
)

_oracle(
    "q52_shortest_paths",
    f"""
WITH RECURSIVE edges AS (
  SELECT DISTINCT CAST(l_orderkey % {EDGE_MOD} AS BIGINT) AS src,
         CAST(l_partkey % {EDGE_MOD} AS BIGINT) AS dst
  FROM lineitem
),
nodes AS (
  SELECT DISTINCT node FROM (
    SELECT src AS node FROM edges UNION ALL SELECT dst AS node FROM edges
  )
),
walk(node, dist) AS (
  SELECT node, 0 FROM nodes WHERE node % 512 = 0
  UNION
  SELECT e.dst, w.dist + 1
  FROM walk w JOIN edges e ON e.src = w.node
  WHERE w.dist < 12
)
SELECT node, CAST(MIN(dist) AS BIGINT) AS dist
FROM walk
GROUP BY node
""",
)

_oracle(
    "q53_monthly_revenue",
    """
SELECT CAST(EXTRACT(year FROM o_orderdate) AS BIGINT) AS yr,
       CAST(EXTRACT(month FROM o_orderdate) AS BIGINT) AS mo,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       ROUND(SUM(o_totalprice), 2) AS revenue
FROM orders
GROUP BY 1, 2
""",
)

_oracle(
    "q54_regexp_extract",
    """
SELECT doc_id,
       lower(COALESCE(regexp_extract(text, '[A-Za-z]{7,}'), '')) AS first_long_word,
       substr(text, 1, 20) AS prefix20,
       CAST(length(text) AS BIGINT) AS n_chars_text
FROM documents
""",
)

_oracle(
    "q55_percent_rank",
    """
SELECT c_custkey,
       c_mktsegment,
       ROUND(percent_rank() OVER w, 6) AS pct_rank,
       ROUND(cume_dist() OVER w, 6) AS cume
FROM customer
WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal, c_custkey)
""",
)

_oracle(
    "q57_label_propagation",
    SQL_EDGES
    + """
, und AS (
  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
  FROM edges WHERE src <> dst
),
adj AS (
  SELECT a AS src, b AS dst FROM und
  UNION ALL
  SELECT b AS src, a AS dst FROM und
),
l0 AS (SELECT node, node AS label FROM nodes),
n1 AS (
  SELECT a.dst AS node, l.label, COUNT(*) AS n
  FROM adj a JOIN l0 l ON a.src = l.node
  GROUP BY a.dst, l.label
),
p1 AS (
  SELECT node, label FROM (
    SELECT node, label,
           ROW_NUMBER() OVER (
             PARTITION BY node ORDER BY n DESC, label ASC
           ) AS rn
    FROM n1
  ) WHERE rn = 1
),
l1 AS (
  SELECT l.node, COALESCE(p.label, l.label) AS label
  FROM l0 l LEFT JOIN p1 p ON l.node = p.node
),
n2 AS (
  SELECT a.dst AS node, l.label, COUNT(*) AS n
  FROM adj a JOIN l1 l ON a.src = l.node
  GROUP BY a.dst, l.label
),
p2 AS (
  SELECT node, label FROM (
    SELECT node, label,
           ROW_NUMBER() OVER (
             PARTITION BY node ORDER BY n DESC, label ASC
           ) AS rn
    FROM n2
  ) WHERE rn = 1
)
SELECT l.node, CAST(COALESCE(p.label, l.label) AS BIGINT) AS label
FROM l1 l LEFT JOIN p2 p ON l.node = p.node
""",
)

_oracle(
    "q58_except_all",
    SQL_EDGES
    + """
SELECT src, dst FROM edges
EXCEPT ALL
SELECT src, dst FROM edges WHERE src % 3 = 0
""",
)

_oracle(
    "q59_interval_join",
    """
SELECT c.event_id AS click_id,
       CAST(COUNT(*) AS BIGINT) AS n_views,
       ROUND(SUM(v.value), 2) AS sum_view_value
FROM events c
JOIN events v
  ON c.user_id = v.user_id
 AND v.ts >= c.ts - INTERVAL 1 HOUR
 AND v.ts <= c.ts
WHERE c.event_type = 'click' AND v.event_type = 'view'
GROUP BY c.event_id
""",
)

_oracle(
    "q60_twohop_recs",
    SQL_SPARSE_W
    + """
, se AS (SELECT DISTINCT src, dst FROM e WHERE src <> dst),
hops AS (
  SELECT DISTINCT e1.src AS a, e2.dst AS c
  FROM se e1 JOIN se e2 ON e1.dst = e2.src
  WHERE e1.src <> e2.dst
),
recs AS (
  SELECT h.a, h.c FROM hops h
  ANTI JOIN se ON h.a = se.src AND h.c = se.dst
)
SELECT a AS node, CAST(COUNT(*) AS BIGINT) AS n_recs
FROM recs GROUP BY a
ORDER BY n_recs DESC, node ASC
LIMIT 20
""",
)

_oracle(
    "q61_personalized_pagerank",
    SQL_EDGES
    + """
, seeds AS (SELECT node FROM nodes WHERE node % 64 = 0),
ns AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM seeds),
base AS (
  SELECT n.node, d.deg,
         CASE WHEN s.node IS NOT NULL
              THEN 1.0 / (SELECT n FROM ns) ELSE 0.0 END AS s
  FROM nodes n
  LEFT JOIN deg d ON n.node = d.src
  LEFT JOIN seeds s ON n.node = s.node
),
r0 AS (SELECT node, deg, s, s AS rank FROM base),
dm0 AS (
  SELECT COALESCE(SUM(rank), 0.0) AS dm FROM r0 WHERE deg IS NULL
),
c1 AS (
  SELECT e.dst AS node, SUM(0.85 * r.rank / r.deg) AS contrib
  FROM edges e JOIN r0 r ON e.src = r.node
  GROUP BY e.dst
),
r1 AS (
  SELECT b.node, b.deg, b.s,
         (0.15 + 0.85 * (SELECT dm FROM dm0)) * b.s
           + COALESCE(c.contrib, 0.0) AS rank
  FROM r0 b LEFT JOIN c1 c ON b.node = c.node
),
dm1 AS (
  SELECT COALESCE(SUM(rank), 0.0) AS dm FROM r1 WHERE deg IS NULL
),
c2 AS (
  SELECT e.dst AS node, SUM(0.85 * r.rank / r.deg) AS contrib
  FROM edges e JOIN r1 r ON e.src = r.node
  GROUP BY e.dst
),
r2 AS (
  SELECT b.node, b.s,
         (0.15 + 0.85 * (SELECT dm FROM dm1)) * b.s
           + COALESCE(c.contrib, 0.0) AS rank
  FROM r1 b LEFT JOIN c2 c ON b.node = c.node
)
SELECT node, ROUND(rank, 12) AS rank FROM r2
""",
)

_oracle(
    "q62_tpch_q7_volume",
    """
SELECT n1.n_name AS supp_nation,
       n2.n_name AS cust_nation,
       CAST(EXTRACT(year FROM l_shipdate) AS BIGINT) AS yr,
       ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM lineitem
JOIN supplier ON l_suppkey = s_suppkey
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation n1 ON s_nationkey = n1.n_nationkey
JOIN nation n2 ON c_nationkey = n2.n_nationkey
WHERE (n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
   OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1')
GROUP BY 1, 2, 3
""",
)

_oracle(
    "q63_weighted_sssp",
    """
WITH RECURSIVE e AS (
  SELECT DISTINCT CAST(l_orderkey % 256 AS BIGINT) AS src,
         CAST(l_partkey % 256 AS BIGINT) AS dst
  FROM lineitem WHERE l_linenumber = 1 AND l_orderkey % 4 = 0
),
ew AS (
  SELECT src, dst, CAST((src + dst) % 5 + 1 AS DOUBLE) AS w FROM e
),
nodes AS (
  SELECT DISTINCT node FROM (
    SELECT src AS node FROM e UNION ALL SELECT dst AS node FROM e
  )
),
walk(node, dist, depth) AS (
  SELECT node, CAST(0 AS DOUBLE), 0 FROM nodes WHERE node % 64 = 0
  UNION
  SELECT ew.dst, w.dist + ew.w, w.depth + 1
  FROM walk w JOIN ew ON ew.src = w.node
  WHERE w.depth < 5
)
SELECT node, ROUND(MIN(dist), 6) AS dist FROM walk GROUP BY node
""",
)

_oracle(
    "q64_grouping_sets",
    """
SELECT COALESCE(o_orderstatus, 'ALL') AS status,
       COALESCE(o_orderpriority, 'ALL') AS priority,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       ROUND(SUM(o_totalprice), 2) AS revenue
FROM orders
GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
                        (o_orderstatus), ())
""",
)

_oracle(
    "q65_from_json_struct",
    """
SELECT event_type,
       CAST(CAST(props->>'k' AS INT) % 10 AS BIGINT) AS k_bucket,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CAST(props->>'k' AS INT)) AS BIGINT) AS sum_k
FROM events
GROUP BY 1, 2
""",
)

_oracle(
    "q66_array_functions",
    """
WITH v AS (
  SELECT CAST(label AS BIGINT) AS label,
         list_aggregate(list_transform(CAST(embedding AS DOUBLE[]),
                                       x -> abs(x)), 'sum') AS l1,
         list_aggregate(list_transform(CAST(embedding AS DOUBLE[]),
                                       x -> abs(x)), 'max') AS amax
  FROM embeddings
)
SELECT label, CAST(COUNT(*) AS BIGINT) AS n,
       ROUND(AVG(l1), 6) AS avg_l1,
       ROUND(MAX(amax), 6) AS max_abs
FROM v GROUP BY label
""",
)

_oracle(
    "q67_levenshtein_pairs",
    """
WITH d AS (
  SELECT doc_id, substr(text, 1, 20) AS p
  FROM documents WHERE doc_id % 7 = 0
)
SELECT a.doc_id,
       CAST(levenshtein(a.p, b.p) AS BIGINT) AS edit_dist
FROM d a JOIN d b ON b.doc_id = a.doc_id + 7
""",
)

_oracle(
    "q68_rank_dense_rank",
    """
SELECT c_custkey, c_mktsegment,
       CAST(FLOOR(c_acctbal / 1000) AS BIGINT) AS tier,
       CAST(RANK() OVER w AS BIGINT) AS rnk,
       CAST(DENSE_RANK() OVER w AS BIGINT) AS drnk
FROM customer
WINDOW w AS (PARTITION BY c_mktsegment
             ORDER BY FLOOR(c_acctbal / 1000) DESC)
""",
)

_oracle(
    "q69_conditional_agg",
    """
SELECT n_name,
       CAST(COUNT(*) AS BIGINT) AS n_customers,
       CAST(COUNT(*) FILTER (WHERE c_acctbal > 0) AS BIGINT) AS n_positive,
       ROUND(COALESCE(SUM(c_acctbal) FILTER (WHERE c_acctbal > 0), 0), 2)
         AS sum_positive,
       ROUND(COALESCE(SUM(c_acctbal) FILTER (WHERE c_acctbal <= 0), 0), 2)
         AS sum_nonpositive
FROM customer JOIN nation ON c_nationkey = n_nationkey
GROUP BY n_name
""",
)

_oracle(
    "q70_max_by",
    """
WITH c AS (
  SELECT n_name, c_custkey, c_acctbal,
         CAST(round(c_acctbal * 100) AS BIGINT) * 1000000 + c_custkey AS ord
  FROM customer JOIN nation ON c_nationkey = n_nationkey
)
SELECT n_name,
       arg_max(c_custkey, ord) AS richest_cust,
       arg_min(c_custkey, ord) AS poorest_cust,
       ROUND(MAX(c_acctbal), 2) AS max_bal,
       ROUND(MIN(c_acctbal), 2) AS min_bal
FROM c GROUP BY n_name
""",
)

_oracle(
    "q71_wordcount",
    r"""
SELECT token, CAST(COUNT(*) AS BIGINT) AS n
FROM (
  SELECT unnest(string_split_regex(trim(text), '\s+')) AS token
  FROM documents
)
WHERE token <> ''
GROUP BY token
ORDER BY n DESC, token ASC
LIMIT 20
""",
)

_oracle(
    "q72_exists_semijoin",
    """
SELECT o_orderstatus,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       ROUND(SUM(o_totalprice), 2) AS revenue
FROM orders o
WHERE EXISTS (
  SELECT 1 FROM lineitem l
  WHERE l.l_orderkey = o.o_orderkey
    AND l.l_returnflag = 'R' AND l.l_extendedprice > 30000
)
GROUP BY o_orderstatus
""",
)

# q36 and q73 share the refine-free IVF algebra; the twin is generated
# from one template so the two stay in lockstep.
_IVF_SEEDED_SQL = """
WITH emb AS (
  SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
),
cb AS (
  SELECT CAST(ROW_NUMBER() OVER (ORDER BY id) - 1 AS INT) AS cid, v AS cvec
  FROM emb ORDER BY id LIMIT 16
),
aff AS (
  SELECT e.id, c.cid,
         list_dot_product(e.v, c.cvec)
           / sqrt(list_dot_product(c.cvec, c.cvec)) AS affinity
  FROM emb e CROSS JOIN cb c
),
ranked_aff AS (
  SELECT id, cid,
         ROW_NUMBER() OVER (
           PARTITION BY id ORDER BY affinity DESC, cid ASC
         ) AS r
  FROM aff
),
c_assign AS (SELECT id AS nb_id, cid FROM ranked_aff WHERE r = 1),
q_assign AS (
  SELECT id AS query_id, cid
  FROM ranked_aff WHERE r <= {n_probe} AND id % {query_mod} = 0
),
scored AS (
  SELECT q.query_id, c.nb_id,
         ROUND(list_cosine_similarity(eq.v, ec.v), 6) AS cos
  FROM q_assign q
  JOIN c_assign c ON q.cid = c.cid
  JOIN emb eq ON q.query_id = eq.id
  JOIN emb ec ON c.nb_id = ec.id
  WHERE q.query_id <> c.nb_id
),
topk AS (
  SELECT query_id, nb_id, cos,
         CAST(ROW_NUMBER() OVER (
           PARTITION BY query_id ORDER BY cos DESC, nb_id ASC
         ) AS BIGINT) AS rank
  FROM scored
)
SELECT query_id, nb_id, cos, rank FROM topk WHERE rank <= 5
"""

_oracle("q36_ann_ivf", _IVF_SEEDED_SQL.format(n_probe=2, query_mod=25))

_oracle(
    "q73_ann_ivf_seeded", _IVF_SEEDED_SQL.format(n_probe=4, query_mod=50)
)

_oracle(
    "q74_tpch_q18",
    """
WITH big AS (
  SELECT l_orderkey, ROUND(SUM(l_quantity), 2) AS sum_qty
  FROM lineitem GROUP BY l_orderkey HAVING ROUND(SUM(l_quantity), 2) > 150
)
SELECT c_custkey, o_orderkey,
       strftime(o_orderdate, '%Y-%m-%d') AS orderdate,
       ROUND(o_totalprice, 2) AS totalprice, sum_qty
FROM big
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
ORDER BY totalprice DESC, o_orderkey ASC
LIMIT 100
""",
)

_oracle(
    "q75_tpch_q21",
    """
WITH pairs AS (
  SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem
),
flagged AS (
  SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem
  WHERE l_returnflag = 'R'
)
SELECT s_name, CAST(COUNT(*) AS BIGINT) AS numwait
FROM flagged f
JOIN supplier ON f.l_suppkey = s_suppkey
WHERE EXISTS (
  SELECT 1 FROM pairs p
  WHERE p.l_orderkey = f.l_orderkey AND p.l_suppkey <> f.l_suppkey
)
AND NOT EXISTS (
  SELECT 1 FROM flagged g
  WHERE g.l_orderkey = f.l_orderkey AND g.l_suppkey <> f.l_suppkey
)
GROUP BY s_name
ORDER BY numwait DESC, s_name ASC
LIMIT 20
""",
)

_oracle(
    "q76_min_cost_supplier",
    """
WITH offers AS (
  SELECT p_partkey, l_suppkey, l_extendedprice / l_quantity AS unit
  FROM lineitem
  JOIN part ON l_partkey = p_partkey
  WHERE p_partkey % 20 = 0
),
mins AS (
  SELECT p_partkey AS mk, MIN(unit) AS min_unit FROM offers GROUP BY p_partkey
)
SELECT DISTINCT p_partkey, l_suppkey, ROUND(min_unit, 6) AS min_unit
FROM offers JOIN mins ON p_partkey = mk AND unit = min_unit
""",
)

_oracle(
    "q77_stats_agg",
    """
SELECT l_returnflag,
       CAST(COUNT(*) AS BIGINT) AS n,
       ROUND(corr(l_quantity, l_extendedprice), 6) AS corr_qp,
       ROUND(covar_samp(l_quantity, l_extendedprice), 2) AS covar_qp,
       ROUND(stddev_samp(l_extendedprice), 3) AS std_price,
       ROUND(AVG(l_extendedprice), 3) AS avg_price
FROM lineitem GROUP BY l_returnflag
""",
)

_oracle(
    "q78_median_percentile",
    """
SELECT c_mktsegment,
       CAST(COUNT(*) AS BIGINT) AS n,
       ROUND(quantile_cont(c_acctbal, 0.25), 6) AS p25,
       ROUND(quantile_cont(c_acctbal, 0.50), 6) AS p50,
       ROUND(quantile_cont(c_acctbal, 0.75), 6) AS p75
FROM customer GROUP BY c_mktsegment
""",
)

_oracle(
    "q79_range_moving_window",
    """
SELECT event_id, event_type,
       CAST(floor(epoch(ts)) AS BIGINT) AS epoch,
       CAST(COUNT(*) OVER w AS BIGINT) AS n_trailing,
       ROUND(SUM(value) OVER w, 2) AS sum_trailing
FROM events
WHERE user_id % 20 = 0
WINDOW w AS (
  PARTITION BY event_type
  ORDER BY CAST(floor(epoch(ts)) AS BIGINT)
  RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW
)
""",
)

_oracle(
    "q80_value_windows",
    """
SELECT c_custkey, c_mktsegment, tier, top_cust, bottom_cust, third_cust
FROM (
  SELECT c_custkey, c_mktsegment,
         CAST(floor(c_acctbal / 1000) AS BIGINT) AS tier,
         first_value(c_custkey) OVER w AS top_cust,
         last_value(c_custkey) OVER w AS bottom_cust,
         nth_value(c_custkey, 3) OVER w AS third_cust
  FROM customer
  WINDOW w AS (
    PARTITION BY c_mktsegment
    ORDER BY CAST(floor(c_acctbal / 1000) AS BIGINT) DESC, c_custkey ASC
    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING
  )
)
WHERE c_custkey % 10 = 0
""",
)

_oracle(
    "q81_mutual_pairs",
    SQL_EDGES
    + """
, de AS (SELECT DISTINCT src, dst FROM edges),
fwd AS (SELECT src, dst FROM de WHERE src < dst),
rev AS (SELECT dst AS src, src AS dst FROM de WHERE src > dst)
SELECT src % 16 AS bucket, CAST(COUNT(*) AS BIGINT) AS n_mutual
FROM fwd
WHERE EXISTS (SELECT 1 FROM rev WHERE rev.src = fwd.src AND rev.dst = fwd.dst)
GROUP BY src % 16
""",
)

_oracle(
    "q82_salted_skew_join",
    """
SELECT o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n_lines,
       ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY o_orderpriority
""",
)

_oracle(
    "q83_stratified_sample",
    """
SELECT c_mktsegment,
       CAST(COUNT(*) AS BIGINT) AS n_sampled,
       ROUND(AVG(c_acctbal), 2) AS avg_bal
FROM customer
WHERE c_custkey % (length(c_mktsegment) % 3 + 2) = 0
GROUP BY c_mktsegment
""",
)

_oracle(
    "q84_groupwise_zscore",
    """
SELECT c_custkey, c_mktsegment,
       ROUND(c_acctbal, 2) AS c_acctbal,
       ROUND((c_acctbal - AVG(c_acctbal) OVER w)
             / stddev_samp(c_acctbal) OVER w, 6) AS z
FROM customer
WINDOW w AS (PARTITION BY c_mktsegment)
QUALIFY c_custkey % 10 = 0
""",
)

_oracle(
    "q85_sketch_quantiles",
    """
SELECT l_returnflag,
       CAST(COUNT(*) AS BIGINT) AS n,
       ROUND(quantile_disc(l_extendedprice, 0.25), 2) AS p25,
       ROUND(quantile_disc(l_extendedprice, 0.50), 2) AS p50,
       ROUND(quantile_disc(l_extendedprice, 0.75), 2) AS p75
FROM lineitem GROUP BY l_returnflag
""",
)

_oracle(
    "q86_funnel",
    """
WITH ep AS (
  SELECT user_id, event_type, CAST(floor(epoch(ts)) AS BIGINT) AS e
  FROM events
),
t0 AS (
  SELECT user_id, MIN(e) AS t FROM ep WHERE event_type = 'view'
  GROUP BY user_id
),
t1 AS (
  SELECT ep.user_id, MIN(e) AS t FROM ep
  JOIN t0 ON ep.user_id = t0.user_id AND ep.e > t0.t
  WHERE event_type = 'click' GROUP BY ep.user_id
),
t2 AS (
  SELECT ep.user_id, MIN(e) AS t FROM ep
  JOIN t1 ON ep.user_id = t1.user_id AND ep.e > t1.t
  WHERE event_type = 'purchase' GROUP BY ep.user_id
)
SELECT CAST(0 AS BIGINT) AS stage, 'view' AS stage_name,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM t0) AS n_users
UNION ALL
SELECT 1, 'click', (SELECT CAST(COUNT(*) AS BIGINT) FROM t1)
UNION ALL
SELECT 2, 'purchase', (SELECT CAST(COUNT(*) AS BIGINT) FROM t2)
""",
)

_oracle(
    "q87_cohort_retention",
    """
WITH b AS (
  SELECT user_id,
         CAST(floor(floor(epoch(ts)) / 604800) AS BIGINT) AS period
  FROM events
),
cohort AS (SELECT user_id, MIN(period) AS cohort FROM b GROUP BY user_id),
active AS (SELECT DISTINCT user_id, period FROM b)
SELECT cohort, (period - cohort) AS week_offset,
       CAST(COUNT(*) AS BIGINT) AS n_active
FROM active JOIN cohort USING (user_id)
WHERE period - cohort <= 3
GROUP BY 1, 2
""",
)

_oracle(
    "q88_kcore",
    """
WITH sparse AS (
  SELECT CAST(l_orderkey % 8192 AS BIGINT) AS src,
         CAST(l_partkey % 8192 AS BIGINT) AS dst
  FROM lineitem WHERE l_linenumber = 1
),
und AS (
  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
  FROM sparse WHERE src <> dst
),
d1 AS (
  SELECT node, COUNT(*) AS deg FROM (
    SELECT a AS node FROM und UNION ALL SELECT b FROM und
  ) GROUP BY node
),
k1 AS (SELECT node FROM d1 WHERE deg >= 3),
e1 AS (
  SELECT a, b FROM und
  WHERE a IN (SELECT node FROM k1) AND b IN (SELECT node FROM k1)
),
d2 AS (
  SELECT node, COUNT(*) AS deg FROM (
    SELECT a AS node FROM e1 UNION ALL SELECT b FROM e1
  ) GROUP BY node
),
k2 AS (SELECT node FROM d2 WHERE deg >= 3),
e2 AS (
  SELECT a, b FROM e1
  WHERE a IN (SELECT node FROM k2) AND b IN (SELECT node FROM k2)
),
d3 AS (
  SELECT node, COUNT(*) AS deg FROM (
    SELECT a AS node FROM e2 UNION ALL SELECT b FROM e2
  ) GROUP BY node
),
k3 AS (SELECT node FROM d3 WHERE deg >= 3),
e3 AS (
  SELECT a, b FROM e2
  WHERE a IN (SELECT node FROM k3) AND b IN (SELECT node FROM k3)
)
SELECT node, CAST(COUNT(*) AS BIGINT) AS deg FROM (
  SELECT a AS node FROM e3 UNION ALL SELECT b FROM e3
) GROUP BY node
""",
)

_oracle(
    "q89_assortativity",
    SQL_EDGES
    + """
, und AS (
  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
  FROM edges WHERE src <> dst
),
d AS (
  SELECT node, COUNT(*) AS deg FROM (
    SELECT a AS node FROM und UNION ALL SELECT b FROM und
  ) GROUP BY node
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_edges,
       ROUND(corr(da.deg, db.deg), 6) AS assortativity
FROM und
JOIN d da ON und.a = da.node
JOIN d db ON und.b = db.node
""",
)

# q90's oracle reuses q27's signature-exact MinHash pair SQL verbatim as
# a nested CTE (a CTE body may carry its own WITH in DuckDB), then
# transitively closes the pair graph with q41's recursive min-label
# pattern and maps every subset doc to its cluster representative.
_oracle(
    "q90_neardup_clusters",
    "WITH RECURSIVE pairs AS (\n"
    + _minhash_pair_sql(1, 0.9)
    + """
),
und AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION
  SELECT id_b AS src, id_a AS dst FROM pairs
),
pnodes AS (SELECT DISTINCT src AS node FROM und),
reach(node, label) AS (
  SELECT node, node FROM pnodes
  UNION
  SELECT u.dst, r.label FROM reach r JOIN und u ON r.node = u.src
),
comp AS (SELECT node, MIN(label) AS component FROM reach GROUP BY node),
subset AS (SELECT doc_id FROM documents WHERE doc_id % 5 = 0),
canon AS (
  SELECT s.doc_id, COALESCE(c.component, s.doc_id) AS canonical_id
  FROM subset s LEFT JOIN comp c ON s.doc_id = c.node
),
sizes AS (
  SELECT canonical_id AS c_id, CAST(COUNT(*) AS BIGINT) AS cluster_size
  FROM canon GROUP BY canonical_id
)
SELECT doc_id, canonical_id, cluster_size,
       doc_id = canonical_id AS is_kept
FROM canon JOIN sizes ON canonical_id = c_id
""",
)

_oracle(
    "q91_vector_dim_stats",
    """
WITH flat AS (
  SELECT unnest(CAST(embedding AS DOUBLE[])) AS x,
         generate_subscripts(embedding, 1) AS idx
  FROM embeddings
)
SELECT CAST(idx - 1 AS BIGINT) AS dim,
       CAST(COUNT(*) AS BIGINT) AS n,
       ROUND(AVG(x), 6) AS avg_x,
       ROUND(MIN(x), 6) AS min_x,
       ROUND(MAX(x), 6) AS max_x
FROM flat GROUP BY idx
""",
)

_oracle(
    "q92_weighted_pagerank",
    SQL_SPARSE_W
    + """
, ws AS (SELECT src AS node, SUM(w) AS wsum FROM ew GROUP BY src),
nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM snodes),
r0 AS (SELECT node, 1.0 / (SELECT n FROM nn) AS rank FROM snodes),
dm0 AS (
  SELECT COALESCE(SUM(rank), 0.0) AS dm
  FROM r0 LEFT JOIN ws USING (node) WHERE wsum IS NULL
),
c1 AS (
  SELECT ew.dst AS node, SUM(0.85 * r0.rank * ew.w / ws.wsum) AS c
  FROM ew JOIN r0 ON ew.src = r0.node JOIN ws ON ew.src = ws.node
  GROUP BY ew.dst
),
r1 AS (
  SELECT s.node,
         (0.15 + 0.85 * (SELECT dm FROM dm0)) / (SELECT n FROM nn)
           + COALESCE(c1.c, 0.0) AS rank
  FROM snodes s LEFT JOIN c1 ON s.node = c1.node
),
dm1 AS (
  SELECT COALESCE(SUM(rank), 0.0) AS dm
  FROM r1 LEFT JOIN ws USING (node) WHERE wsum IS NULL
),
c2 AS (
  SELECT ew.dst AS node, SUM(0.85 * r1.rank * ew.w / ws.wsum) AS c
  FROM ew JOIN r1 ON ew.src = r1.node JOIN ws ON ew.src = ws.node
  GROUP BY ew.dst
),
r2 AS (
  SELECT s.node,
         (0.15 + 0.85 * (SELECT dm FROM dm1)) / (SELECT n FROM nn)
           + COALESCE(c2.c, 0.0) AS rank
  FROM snodes s LEFT JOIN c2 ON s.node = c2.node
)
SELECT node, ROUND(rank, 12) AS rank FROM r2
""",
)

_oracle(
    "q93_local_clustering",
    SQL_SPARSE_W
    + """
, und AS (
  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
  FROM e WHERE src <> dst
),
d AS (
  SELECT node, COUNT(*) AS deg FROM (
    SELECT a AS node FROM und UNION ALL SELECT b FROM und
  ) GROUP BY node
),
tri AS (
  SELECT e1.a, e1.b, e2.b AS c
  FROM und e1
  JOIN und e2 ON e1.b = e2.a
  JOIN und e3 ON e1.a = e3.a AND e2.b = e3.b
),
corners AS (
  SELECT a AS node FROM tri
  UNION ALL SELECT b FROM tri
  UNION ALL SELECT c FROM tri
),
nt AS (SELECT node, COUNT(*) AS n_tri FROM corners GROUP BY node)
SELECT d.node, CAST(d.deg AS BIGINT) AS deg,
       CAST(COALESCE(nt.n_tri, 0) AS BIGINT) AS n_tri,
       CASE WHEN d.deg >= 2
            THEN ROUND(COALESCE(nt.n_tri, 0)
                       / (d.deg * (d.deg - 1) / 2.0), 6)
            ELSE 0.0 END AS clustering
FROM d LEFT JOIN nt ON d.node = nt.node
""",
)

_oracle(
    "q94_band_theta_join",
    """
WITH bands(band, lo, hi) AS (
  VALUES ('B0_under_1k', 0.0, 1000.0),
         ('B1_1k_5k', 1000.0, 5000.0),
         ('B2_5k_20k', 5000.0, 20000.0),
         ('B3_20k_50k', 20000.0, 50000.0),
         ('B4_over_50k', 50000.0, 1e18)
)
SELECT band,
       CAST(COUNT(*) AS BIGINT) AS n_lines,
       ROUND(SUM(l_extendedprice), 2) AS total_price
FROM lineitem JOIN bands
  ON l_extendedprice >= lo AND l_extendedprice < hi
GROUP BY band
""",
)

_oracle(
    "q95_curation_pipeline",
    r"""
WITH feats AS (
  SELECT doc_id,
         length(text) AS len_chars,
         len(string_split_regex(trim(text), '\s+')) AS n_tokens,
         len(regexp_extract_all(text, '[\.,;:!\?]')) AS n_punct,
         len(regexp_extract_all(lower(text), '\b(?:the|and|of|to|a)\b'))
           AS h_en,
         len(regexp_extract_all(lower(text), '\b(?:el|la|de|que|y)\b'))
           AS h_es,
         len(regexp_extract_all(lower(text), '\b(?:le|la|et|les|des)\b'))
           AS h_fr,
         len(regexp_extract_all(lower(text), '\b(?:der|die|und|das|ein)\b'))
           AS h_de,
         len(regexp_extract_all(lower(text), '(?:的|是|了|在|我)')) AS h_zh
  FROM documents
),
scored AS (
  SELECT doc_id, n_tokens,
         CASE
           WHEN greatest(h_en, h_es, h_fr, h_de, h_zh) = 0 THEN 'unknown'
           WHEN h_de = greatest(h_en, h_es, h_fr, h_de, h_zh) THEN 'de'
           WHEN h_en = greatest(h_en, h_es, h_fr, h_de, h_zh) THEN 'en'
           WHEN h_es = greatest(h_en, h_es, h_fr, h_de, h_zh) THEN 'es'
           WHEN h_fr = greatest(h_en, h_es, h_fr, h_de, h_zh) THEN 'fr'
           ELSE 'zh'
         END AS pred_lang,
         ROUND(0.4 * least(len_chars / 500.0, 1.0)
               + 0.3 * (1.0 - n_punct / greatest(len_chars, 1))
               + 0.3 * least(h_en / greatest(n_tokens, 1), 1.0), 9)
           AS quality
  FROM feats
),
flagged AS (
  SELECT pred_lang, quality,
         (quality >= 0.5 AND n_tokens >= 5 AND pred_lang <> 'unknown')
           AS keep
  FROM scored
)
SELECT pred_lang,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       ROUND(AVG(CASE WHEN keep THEN quality END), 6) AS avg_kept_quality
FROM flagged GROUP BY pred_lang
""",
)

_oracle(
    "q96_scc",
    """
WITH RECURSIVE e AS (
  SELECT DISTINCT CAST(l_orderkey % 256 AS BIGINT) AS src,
         CAST(l_partkey % 256 AS BIGINT) AS dst
  FROM lineitem WHERE l_linenumber = 1 AND l_orderkey % 4 = 0
),
n AS (
  SELECT DISTINCT node FROM (
    SELECT src AS node FROM e UNION ALL SELECT dst AS node FROM e
  )
),
reach(s, d) AS (
  SELECT node, node FROM n
  UNION
  SELECT r.s, e.dst FROM reach r JOIN e ON r.d = e.src
)
SELECT a.s AS node, MIN(a.d) AS component
FROM reach a JOIN reach b ON a.s = b.d AND a.d = b.s
GROUP BY a.s
""",
)

_oracle(
    "q97_resample_gapfill",
    """
WITH counts AS (
  SELECT event_type,
         CAST(floor(floor(epoch(ts)) / 3600) AS BIGINT) AS h,
         CAST(COUNT(*) AS BIGINT) AS n,
         ROUND(SUM(value), 2) AS sv
  FROM events GROUP BY 1, 2
),
spans AS (
  SELECT event_type, MIN(h) AS h0, MAX(h) AS h1 FROM counts GROUP BY 1
),
grid AS (
  SELECT event_type, unnest(generate_series(h0, h1)) AS h FROM spans
)
SELECT g.event_type, g.h,
       COALESCE(c.n, 0) AS n,
       COALESCE(c.sv, 0.0) AS sum_value
FROM grid g LEFT JOIN counts c ON g.event_type = c.event_type AND g.h = c.h
""",
)

_oracle(
    "q98_session_conversion",
    """
WITH e AS (
  SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS ep, event_type
  FROM events
),
marked AS (
  SELECT user_id, ep, event_type,
         CASE WHEN ep - lag(ep) OVER (PARTITION BY user_id ORDER BY ep)
                   > 1800
              THEN 1 ELSE 0 END AS boundary
  FROM e
),
numbered AS (
  SELECT user_id, ep, event_type,
         SUM(boundary) OVER (
           PARTITION BY user_id ORDER BY ep
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
         ) AS session_idx
  FROM marked
),
sessions AS (
  SELECT user_id, session_idx,
         COUNT(*) AS n_events,
         MAX(ep) - MIN(ep) AS dur,
         MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
           AS converted
  FROM numbered GROUP BY user_id, session_idx
)
SELECT CAST(converted AS INT) AS converted,
       CAST(COUNT(*) AS BIGINT) AS n_sessions,
       ROUND(AVG(n_events), 6) AS avg_events,
       ROUND(AVG(dur), 6) AS avg_duration_sec
FROM sessions GROUP BY converted
""",
)

_oracle(
    "q99_topn_per_group",
    """
SELECT n_name, c_custkey, bal, rn FROM (
  SELECT n_name, c_custkey, ROUND(c_acctbal, 2) AS bal,
         CAST(ROW_NUMBER() OVER (
           PARTITION BY n_name
           ORDER BY ROUND(c_acctbal, 2) DESC, c_custkey ASC
         ) AS BIGINT) AS rn
  FROM customer JOIN nation ON c_nationkey = n_nationkey
)
WHERE rn <= 3
""",
)

_oracle(
    "q100_width_bucket_histogram",
    """
SELECT CAST(CASE
         WHEN l_extendedprice < 0 THEN 0
         WHEN l_extendedprice >= 100000.0 THEN 21
         ELSE floor(l_extendedprice / 5000.0) + 1
       END AS BIGINT) AS bucket,
       CAST(COUNT(*) AS BIGINT) AS n_lines
FROM lineitem GROUP BY 1
""",
)

_oracle(
    "q101_cooccurrence_lift",
    """
WITH basket AS (
  SELECT DISTINCT l_orderkey, CAST(l_partkey % 500 AS BIGINT) AS item
  FROM lineitem
),
n AS (SELECT COUNT(DISTINCT l_orderkey) AS n_orders FROM basket),
support AS (SELECT item, COUNT(*) AS s FROM basket GROUP BY item),
pairs AS (
  SELECT a.item AS item_a, b.item AS item_b, COUNT(*) AS n_co
  FROM basket a JOIN basket b
    ON a.l_orderkey = b.l_orderkey AND a.item < b.item
  GROUP BY 1, 2
)
SELECT item_a, item_b, CAST(n_co AS BIGINT) AS n_co,
       ROUND(n_co * (SELECT n_orders FROM n)
             / CAST(sa.s * sb.s AS DOUBLE), 6) AS lift
FROM pairs
JOIN support sa ON pairs.item_a = sa.item
JOIN support sb ON pairs.item_b = sb.item
ORDER BY n_co DESC, item_a ASC, item_b ASC
LIMIT 20
""",
)

_oracle(
    "q102_frame_sample_plan",
    """
WITH meta AS (
  SELECT event_id AS media_id,
         CASE
           WHEN length(event_type) % 3 = 0 THEN 24.0
           WHEN length(event_type) % 3 = 1 THEN 30.0
           ELSE 60.0
         END AS fps,
         (value % 30) + 1 AS duration_s
  FROM events WHERE event_id % 20 = 0
),
samples AS (
  SELECT media_id, fps,
         unnest(generate_series(
           0, greatest(CAST(floor(duration_s) AS INT), 1) - 1
         )) * 1.0 AS sample_ts
  FROM meta
)
SELECT media_id,
       ROUND(sample_ts, 6) AS sample_ts,
       CAST(floor(sample_ts * fps) AS BIGINT) AS frame_index
FROM samples
""",
)

_oracle(
    "q103_unpivot",
    """
WITH wide AS (
  SELECT n_name,
         CAST(COUNT(*) AS DOUBLE) AS n_customers,
         ROUND(SUM(c_acctbal), 2) AS total_bal,
         ROUND(AVG(c_acctbal), 6) AS avg_bal
  FROM customer JOIN nation ON c_nationkey = n_nationkey
  GROUP BY n_name
)
UNPIVOT wide ON n_customers, total_bal, avg_bal
INTO NAME measure VALUE value
""",
)

_oracle(
    "q104_asof_tolerance",
    """
WITH p AS (
  SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'
),
c AS (
  SELECT user_id, ts, MAX(value) AS click_value
  FROM events WHERE event_type = 'click'
  GROUP BY user_id, ts
)
SELECT p.event_id,
       p.user_id,
       CAST(floor(epoch(p.ts)) AS BIGINT) AS ep,
       CASE WHEN epoch(p.ts) - epoch(c.ts) <= 3600.0
            THEN CAST(floor(epoch(c.ts)) AS BIGINT) END AS click_ep,
       CASE WHEN epoch(p.ts) - epoch(c.ts) <= 3600.0
            THEN ROUND(c.click_value, 2) END AS click_value
FROM p ASOF LEFT JOIN c
  ON p.user_id = c.user_id AND p.ts >= c.ts
""",
)

# q105 twin: the MERGE's relational semantics — kept = base rows whose
# key has no delta row (NOT EXISTS ≡ the left-anti join in
# table.py upsert_table), plus every delta row; v0_rows pins the
# time-traveled pre-merge snapshot, version pins the committed pointer.
_oracle(
    "q105_table_merge",
    """
WITH base AS (
  SELECT o_orderkey, o_orderstatus, ROUND(o_totalprice, 2) AS tp
  FROM orders WHERE o_orderkey % 4 = 0
),
delta AS (
  SELECT o_orderkey, o_orderstatus,
         ROUND(ROUND(o_totalprice, 2) * 2, 2) AS tp
  FROM orders WHERE o_orderkey % 8 = 0
  UNION ALL
  SELECT o_orderkey, o_orderstatus, ROUND(o_totalprice, 2) AS tp
  FROM orders WHERE o_orderkey % 4 = 1
),
merged AS (
  SELECT b.o_orderkey, b.o_orderstatus, b.tp FROM base b
  WHERE NOT EXISTS (
    SELECT 1 FROM delta d WHERE d.o_orderkey = b.o_orderkey
  )
  UNION ALL
  SELECT o_orderkey, o_orderstatus, tp FROM delta
)
SELECT m.o_orderkey, m.o_orderstatus, m.tp,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM base) AS v0_rows,
       CAST(1 AS BIGINT) AS version
FROM merged m
""",
)

# q106 twin: three unrolled power steps of q15's algebra (uniform init,
# per-step analytic dangling-mass correction); warm_iters = 1 asserts
# the engine's warm-start loop resumed from the 2-iteration vector and
# ran exactly one more iteration rather than recomputing all three.
_oracle(
    "q106_warmstart_pagerank",
    SQL_EDGES
    + """
, consts AS (
  SELECT CAST((SELECT COUNT(*) FROM nodes) AS BIGINT) AS n,
         CAST((SELECT COUNT(*) FROM deg) AS BIGINT) AS n_src
),
r0 AS (
  SELECT n.node, d.deg, 1.0 / c.n AS rank
  FROM nodes n LEFT JOIN deg d ON n.node = d.src CROSS JOIN consts c
),
contrib1 AS (
  SELECT e.dst AS node, SUM(0.85 * r.rank / r.deg) AS contrib
  FROM edges e JOIN r0 r ON e.src = r.node
  WHERE r.deg IS NOT NULL
  GROUP BY e.dst
),
m0 AS (
  SELECT CAST(c.n_src AS DOUBLE) / c.n AS m FROM consts c
),
r1 AS (
  SELECT r.node, r.deg,
         ((1.0 - 0.85) / c.n + (0.85 * (1.0 - (SELECT m FROM m0))) / c.n)
           + COALESCE(k.contrib, 0.0) AS rank
  FROM r0 r LEFT JOIN contrib1 k ON r.node = k.node CROSS JOIN consts c
),
m1 AS (
  SELECT SUM(CASE WHEN deg IS NOT NULL THEN rank ELSE 0.0 END) AS m FROM r1
),
contrib2 AS (
  SELECT e.dst AS node, SUM(0.85 * r.rank / r.deg) AS contrib
  FROM edges e JOIN r1 r ON e.src = r.node
  WHERE r.deg IS NOT NULL
  GROUP BY e.dst
),
r2 AS (
  SELECT r.node, r.deg,
         ((1.0 - 0.85) / c.n + (0.85 * (1.0 - (SELECT m FROM m1))) / c.n)
           + COALESCE(k.contrib, 0.0) AS rank
  FROM r1 r LEFT JOIN contrib2 k ON r.node = k.node CROSS JOIN consts c
),
m2 AS (
  SELECT SUM(CASE WHEN deg IS NOT NULL THEN rank ELSE 0.0 END) AS m FROM r2
),
contrib3 AS (
  SELECT e.dst AS node, SUM(0.85 * r.rank / r.deg) AS contrib
  FROM edges e JOIN r2 r ON e.src = r.node
  WHERE r.deg IS NOT NULL
  GROUP BY e.dst
),
r3 AS (
  SELECT r.node,
         ((1.0 - 0.85) / c.n + (0.85 * (1.0 - (SELECT m FROM m2))) / c.n)
           + COALESCE(k.contrib, 0.0) AS rank
  FROM r2 r LEFT JOIN contrib3 k ON r.node = k.node CROSS JOIN consts c
)
SELECT node, ROUND(rank, 9) AS rank, CAST(1 AS BIGINT) AS warm_iters
FROM r3
""",
)

# q107 twin: the same structure features in DuckDB list/regex functions.
# list_sum over an empty list is NULL there (Spark's aggregate returns
# its 0 init), hence the COALESCE; both sides round ratios to 9dp in
# the row expression and 6dp in the aggregate.
_oracle(
    "q107_gopher_quality",
    r"""
WITH feats AS (
  SELECT source,
         len(regexp_extract_all(text, '[A-Za-z]+')) AS n_words,
         ROUND(
           COALESCE(list_sum(list_transform(
             regexp_extract_all(text, '[A-Za-z]+'), w -> length(w))), 0)
           / GREATEST(len(regexp_extract_all(text, '[A-Za-z]+')), 1), 9
         ) AS mean_word_len,
         ROUND(
           len(regexp_extract_all(text, '[#*]|\.\.\.'))
           / GREATEST(len(regexp_extract_all(text, '[A-Za-z]+')), 1), 9
         ) AS symbol_word_ratio,
         ROUND(
           (len(string_split(text, chr(10)))
            - len(list_distinct(string_split(text, chr(10)))))
           / GREATEST(len(string_split(text, chr(10))), 1), 9
         ) AS dup_line_frac
  FROM documents
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN n_words >= 50 AND n_words <= 100000
                      AND mean_word_len >= 3.0 AND mean_word_len <= 10.0
                      AND symbol_word_ratio <= 0.1
                      AND dup_line_frac <= 0.3
                THEN 1 ELSE 0 END) AS BIGINT) AS n_pass,
       ROUND(AVG(mean_word_len), 6) AS avg_mean_word_len,
       ROUND(AVG(n_words), 6) AS avg_n_words
FROM feats
GROUP BY source
""",
)

# q108 twin: identical synthetic PII augmentation, identical regex
# patterns (Java and RE2 agree on these constructs), counts from the
# original text, emails replaced before phones ('g' = global, Spark's
# regexp_replace default).
_oracle(
    "q108_pii_redact",
    r"""
WITH aug AS (
  SELECT doc_id,
         text || ' contact u' || CAST(doc_id AS VARCHAR)
              || '@ex' || CAST(doc_id % 7 AS VARCHAR)
              || '.com or +1 555-'
              || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || '-'
              || lpad(CAST((doc_id * 7) % 10000 AS VARCHAR), 4, '0')
           AS text
  FROM documents
)
SELECT doc_id,
       CAST(len(regexp_extract_all(
         text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'
       )) AS INT) AS n_emails,
       CAST(len(regexp_extract_all(
         text, '\+?[0-9][0-9 ()./-]{6,}[0-9]'
       )) AS INT) AS n_phones,
       md5(regexp_replace(
         regexp_replace(
           text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
           '<EMAIL>', 'g'
         ),
         '\+?[0-9][0-9 ()./-]{6,}[0-9]', '<PHONE>', 'g'
       )) AS redacted_digest
FROM aug
""",
)

# q109 twin: the same mix plan (feasible total T = min(n/w), keep
# fraction w*T/n) and the same portable-hash coin per row. Weights
# CAST to DOUBLE so the arithmetic is bit-identical to Spark's
# (DuckDB would otherwise infer DECIMAL for the VALUES literals).
_oracle(
    "q109_sample_to_mix",
    r"""
WITH w(lang, wt) AS (
  VALUES ('en', CAST(0.4 AS DOUBLE)), ('de', CAST(0.15 AS DOUBLE)),
         ('es', CAST(0.15 AS DOUBLE)), ('fr', CAST(0.15 AS DOUBLE)),
         ('zh', CAST(0.15 AS DOUBLE))
),
counts AS (
  SELECT lang, CAST(COUNT(*) AS BIGINT) AS n FROM documents GROUP BY lang
),
caps AS (
  SELECT c.lang, c.n, w.wt FROM counts c JOIN w ON c.lang = w.lang
),
t AS (SELECT MIN(n / wt) AS t FROM caps),
plan AS (
  SELECT lang,
         CAST(FLOOR(
           LEAST(1.0, ROUND(wt * (SELECT t FROM t) / n, 12)) * 1000000
         ) AS BIGINT) AS thresh
  FROM caps
)
SELECT d.doc_id, d.lang, d.source
FROM documents d JOIN plan p ON d.lang = p.lang
WHERE CAST(('0x' || substr(
        md5(CAST(d.doc_id AS VARCHAR) || ':mix'), 1, 15
      )) AS BIGINT) % 1000000 < p.thresh
""",
)

# q110 twin: 5-gram shingles via the idx-offset self-join (the same
# construction as the MinHash twins), distinct per doc; eval side =
# doc_id % 50 == 0, overlap = equi-join + count per corpus doc.
_oracle(
    "q110_decontamination",
    r"""
WITH toks AS (
  SELECT doc_id, tok, idx FROM (
    SELECT doc_id,
           unnest(string_split_regex(trim(text), '\s+')) AS tok,
           unnest(range(1, len(string_split_regex(trim(text), '\s+')) + 1))
             AS idx
    FROM documents
  )
),
sh AS (
  SELECT DISTINCT a.doc_id,
         a.tok || ' ' || b.tok || ' ' || c.tok || ' ' || d.tok || ' '
               || e.tok AS shingle
  FROM toks a
  JOIN toks b ON a.doc_id = b.doc_id AND b.idx = a.idx + 1
  JOIN toks c ON a.doc_id = c.doc_id AND c.idx = a.idx + 2
  JOIN toks d ON a.doc_id = d.doc_id AND d.idx = a.idx + 3
  JOIN toks e ON a.doc_id = e.doc_id AND e.idx = a.idx + 4
  WHERE a.tok || ' ' || b.tok || ' ' || c.tok || ' ' || d.tok || ' '
        || e.tok <> ''
),
bench AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 50 = 0),
corpus AS (SELECT doc_id, shingle FROM sh WHERE doc_id % 50 <> 0)
SELECT c.doc_id, CAST(COUNT(*) AS BIGINT) AS n_hits
FROM corpus c JOIN bench b USING (shingle)
GROUP BY c.doc_id
HAVING COUNT(*) >= 1
""",
)

# q111 twin: same synthetic footer/id-line augmentation; boilerplate =
# lines in >= 2 distinct docs; reassembly via ORDER BY pos string_agg
# (NULL-skipping, like Spark's concat_ws over a NULL-free collect).
_oracle(
    "q111_boilerplate_lines",
    r"""
WITH aug AS (
  SELECT doc_id,
         text || chr(10) || 'footer: standard legal boilerplate'
              || chr(10) || 'id line ' || CAST(doc_id AS VARCHAR) AS text
  FROM documents
),
lines AS (
  SELECT doc_id, line, pos FROM (
    SELECT doc_id,
           unnest(string_split(text, chr(10))) AS line,
           unnest(range(1, len(string_split(text, chr(10))) + 1)) AS pos
    FROM aug
  )
),
boiler AS (
  SELECT line FROM lines GROUP BY line
  HAVING COUNT(DISTINCT doc_id) >= 2
),
tagged AS (
  SELECT l.doc_id, l.pos, l.line, (b.line IS NOT NULL) AS is_b
  FROM lines l LEFT JOIN boiler b ON l.line = b.line
)
SELECT doc_id,
       md5(COALESCE(
         string_agg(CASE WHEN NOT is_b THEN line END, chr(10)
                    ORDER BY pos), ''
       )) AS clean_digest,
       CAST(SUM(CASE WHEN is_b THEN 1 ELSE 0 END) AS BIGINT)
         AS n_lines_removed
FROM tagged
GROUP BY doc_id
""",
)

# q112 twin: tf * ln(N/df) rounded to 6dp, ranked on the ROUNDED
# score (ties tf desc, term asc) so both engines rank identically.
_oracle(
    "q112_tfidf_top_terms",
    r"""
WITH toks AS (
  SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS term
  FROM documents
),
tf AS (
  SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
  FROM toks WHERE term <> '' GROUP BY doc_id, term
),
dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
n AS (SELECT COUNT(DISTINCT doc_id) AS n FROM documents),
scored AS (
  SELECT t.doc_id, t.term, t.tf,
         ROUND(t.tf * ln(CAST((SELECT n FROM n) AS DOUBLE) / d.df), 6)
           AS tfidf
  FROM tf t JOIN dfreq d ON t.term = d.term
),
ranked AS (
  SELECT doc_id, term, tf, tfidf,
         ROW_NUMBER() OVER (
           PARTITION BY doc_id
           ORDER BY tfidf DESC, tf DESC, term ASC
         ) AS rk
  FROM scored
)
SELECT doc_id, CAST(rk AS INT) AS rk, term, tf, tfidf
FROM ranked WHERE rk <= 3
""",
)

# q113 twin: q108's augmentation + scrub (counts from original text),
# then q107's structure features computed on the SCRUBBED text, gate
# applied as the keep filter — the composed pipeline end-to-end.
_oracle(
    "q113_curate_documents",
    r"""
WITH aug AS (
  SELECT doc_id,
         text || ' contact u' || CAST(doc_id AS VARCHAR)
              || '@ex' || CAST(doc_id % 7 AS VARCHAR)
              || '.com or +1 555-'
              || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || '-'
              || lpad(CAST((doc_id * 7) % 10000 AS VARCHAR), 4, '0')
           AS text
  FROM documents
),
scrub AS (
  SELECT doc_id,
         CAST(len(regexp_extract_all(
           text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'
         )) AS INT) AS n_emails,
         CAST(len(regexp_extract_all(
           text, '\+?[0-9][0-9 ()./-]{6,}[0-9]'
         )) AS INT) AS n_phones,
         regexp_replace(
           regexp_replace(
             text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
             '<EMAIL>', 'g'
           ),
           '\+?[0-9][0-9 ()./-]{6,}[0-9]', '<PHONE>', 'g'
         ) AS text
  FROM aug
),
feats AS (
  SELECT doc_id, n_emails, n_phones, text,
         len(regexp_extract_all(text, '[A-Za-z]+')) AS n_words,
         ROUND(
           COALESCE(list_sum(list_transform(
             regexp_extract_all(text, '[A-Za-z]+'), w -> length(w))), 0)
           / GREATEST(len(regexp_extract_all(text, '[A-Za-z]+')), 1), 9
         ) AS mean_word_len,
         ROUND(
           len(regexp_extract_all(text, '[#*]|\.\.\.'))
           / GREATEST(len(regexp_extract_all(text, '[A-Za-z]+')), 1), 9
         ) AS symbol_word_ratio,
         ROUND(
           (len(string_split(text, chr(10)))
            - len(list_distinct(string_split(text, chr(10)))))
           / GREATEST(len(string_split(text, chr(10))), 1), 9
         ) AS dup_line_frac
  FROM scrub
)
SELECT doc_id, n_emails, n_phones, n_words,
       md5(text) AS curated_digest
FROM feats
WHERE n_words >= 50 AND n_words <= 100000
  AND mean_word_len >= 3.0 AND mean_word_len <= 10.0
  AND symbol_word_ratio <= 0.1 AND dup_line_frac <= 0.3
""",
)

# q114 twin: closed-form integration of the synthetic pixel formula —
# the oracle never parses bytes, so a hash match proves the numpy
# PPM decoder really decoded the raster it was handed. Thumb bases:
# x∈{0,32}→3x∈{0,96}, y∈{0,24}→5y∈{0,120}; gray = mean of 3 channels.
_oracle(
    "q114_image_decode",
    r"""
WITH ids AS (
  SELECT doc_id AS media_id FROM documents WHERE doc_id % 10 = 0
),
xs AS (SELECT unnest(generate_series(0, 63)) AS x),
ys AS (SELECT unnest(generate_series(0, 47)) AS y),
px AS (
  SELECT i.media_id,
         AVG((7 * i.media_id + 3 * x.x + 5 * y.y) % 256) AS mr,
         AVG((7 * i.media_id + 3 * x.x + 5 * y.y + 11) % 256) AS mg,
         AVG((7 * i.media_id + 3 * x.x + 5 * y.y + 22) % 256) AS mb
  FROM ids i CROSS JOIN xs x CROSS JOIN ys y
  GROUP BY i.media_id
)
SELECT i.media_id,
       'ppm' AS format,
       CAST(64 AS INT) AS width,
       CAST(48 AS INT) AS height,
       ROUND(p.mr, 6) AS mean_r,
       ROUND(p.mg, 6) AS mean_g,
       ROUND(p.mb, 6) AS mean_b,
       ROUND(((7 * i.media_id) % 256 + (7 * i.media_id + 11) % 256
              + (7 * i.media_id + 22) % 256) / 3.0, 6) AS t00,
       ROUND(((7 * i.media_id + 96) % 256 + (7 * i.media_id + 107) % 256
              + (7 * i.media_id + 118) % 256) / 3.0, 6) AS t01,
       ROUND(((7 * i.media_id + 120) % 256 + (7 * i.media_id + 131) % 256
              + (7 * i.media_id + 142) % 256) / 3.0, 6) AS t10,
       ROUND(((7 * i.media_id + 216) % 256 + (7 * i.media_id + 227) % 256
              + (7 * i.media_id + 238) % 256) / 3.0, 6) AS t11
FROM ids i JOIN px p USING (media_id)
""",
)

# q115 twin: closed-form integration of the synthetic waveform. The
# oracle computes sum of squares / abs-max over the generating formula
# directly — a bit-exact match (integer sums exact in double, sqrt
# IEEE-correctly-rounded) proves the WAV chunk walk + sample parse.
_oracle(
    "q115_audio_decode",
    r"""
WITH ids AS (
  SELECT doc_id AS media_id FROM documents WHERE doc_id % 10 = 0
),
i AS (SELECT unnest(generate_series(0, 1999)) AS i),
s AS (
  SELECT ids.media_id,
         ((13 * ids.media_id + 37 * i.i) % 65536 - 32768) AS x
  FROM ids CROSS JOIN i
),
agg AS (
  SELECT media_id,
         SUM(CAST(x AS BIGINT) * CAST(x AS BIGINT)) AS ssq,
         MAX(ABS(x)) AS peak
  FROM s GROUP BY media_id
)
SELECT media_id,
       'wav' AS format,
       CAST(8000 AS INT) AS sample_rate,
       CAST(1 AS INT) AS n_channels,
       CAST(2000 AS BIGINT) AS n_samples,
       0.25 AS duration_s,
       ROUND(SQRT(ssq / 2000.0), 6) AS rms,
       CAST(peak AS INT) AS peak
FROM agg
""",
)


# q116 twin: identical to q41's recursive transitive-closure oracle —
# the star algorithm must produce the same (node, min-id component)
# mapping as label propagation.
_oracle("q116_star_components", _ORACLES["q41_connected_components"])

# q137 twin: q114's closed-form pixel integration with format='png' —
# the payload side is a genuine zlib-deflated PNG, so the match proves
# the chunk walk + inflate + scanline unfiltering, byte-free.
_oracle(
    "q137_png_decode",
    _ORACLES["q114_image_decode"].replace("'ppm' AS format", "'png' AS format"),
)

# q143 twin: the power iteration unrolled — covariance from a
# rid-keyed component self-join, two matvec+normalize rounds from the
# all-ones/sqrt(dim) start, Rayleigh-quotient eigenvalue.
_oracle(
    "q143_pca_component",
    r"""
WITH pts AS (
  SELECT row_number() OVER (ORDER BY vec_id) AS rid,
         CAST(embedding AS DOUBLE[]) AS v
  FROM embeddings WHERE vec_id % 3 = 0
),
nn AS (SELECT COUNT(*) AS n FROM pts),
comp AS (
  SELECT rid, generate_subscripts(v, 1) - 1 AS i, unnest(v) AS x FROM pts
),
means AS (
  SELECT i, SUM(x) / (SELECT n FROM nn) AS m FROM comp GROUP BY i
),
cov AS (
  SELECT a.i AS i, b.i AS j,
         SUM(a.x * b.x) / (SELECT n FROM nn)
           - (SELECT m FROM means WHERE means.i = a.i)
           * (SELECT m FROM means WHERE means.i = b.i) AS cov
  FROM comp a JOIN comp b USING (rid)
  GROUP BY a.i, b.i
),
dim AS (SELECT MAX(i) + 1 AS d FROM cov),
y1 AS (
  SELECT i, SUM(cov / sqrt((SELECT d FROM dim))) AS y
  FROM cov GROUP BY i
),
x1 AS (
  SELECT i, y / sqrt((SELECT SUM(y * y) FROM y1)) AS x FROM y1
),
y2 AS (
  SELECT cov.i AS i, SUM(cov.cov * x1.x) AS y
  FROM cov JOIN x1 ON cov.j = x1.i GROUP BY cov.i
),
x2 AS (
  SELECT i, y / sqrt((SELECT SUM(y * y) FROM y2)) AS x FROM y2
),
lam AS (
  SELECT SUM(xa.x * cov.cov * xb.x) AS l
  FROM cov JOIN x2 xa ON cov.i = xa.i JOIN x2 xb ON cov.j = xb.i
)
SELECT CAST(x2.i AS INT) AS pos,
       ROUND(x2.x, 6) AS component,
       ROUND((SELECT l FROM lam), 6) AS eigenvalue
FROM x2
""",
)

# q144 twin: the q143 unroll extended one step — per-row centered dot
# product with the converged x2 vector. pts carries vec_id so the
# projection can be keyed back; the centering offset is the same
# x . u - m . u split the operator uses.
_oracle(
    "q144_pca_projection",
    r"""
WITH pts AS (
  SELECT vec_id, row_number() OVER (ORDER BY vec_id) AS rid,
         CAST(embedding AS DOUBLE[]) AS v
  FROM embeddings WHERE vec_id % 3 = 0
),
nn AS (SELECT COUNT(*) AS n FROM pts),
comp AS (
  SELECT rid, generate_subscripts(v, 1) - 1 AS i, unnest(v) AS x FROM pts
),
means AS (
  SELECT i, SUM(x) / (SELECT n FROM nn) AS m FROM comp GROUP BY i
),
cov AS (
  SELECT a.i AS i, b.i AS j,
         SUM(a.x * b.x) / (SELECT n FROM nn)
           - (SELECT m FROM means WHERE means.i = a.i)
           * (SELECT m FROM means WHERE means.i = b.i) AS cov
  FROM comp a JOIN comp b USING (rid)
  GROUP BY a.i, b.i
),
dim AS (SELECT MAX(i) + 1 AS d FROM cov),
y1 AS (
  SELECT i, SUM(cov / sqrt((SELECT d FROM dim))) AS y
  FROM cov GROUP BY i
),
x1 AS (
  SELECT i, y / sqrt((SELECT SUM(y * y) FROM y1)) AS x FROM y1
),
y2 AS (
  SELECT cov.i AS i, SUM(cov.cov * x1.x) AS y
  FROM cov JOIN x1 ON cov.j = x1.i GROUP BY cov.i
),
x2 AS (
  SELECT i, y / sqrt((SELECT SUM(y * y) FROM y2)) AS x FROM y2
),
off AS (
  SELECT SUM(means.m * x2.x) AS o FROM means JOIN x2 ON means.i = x2.i
),
dots AS (
  SELECT p.vec_id, SUM(c.x * x2.x) AS d
  FROM comp c JOIN x2 ON c.i = x2.i JOIN pts p ON p.rid = c.rid
  GROUP BY p.vec_id
)
SELECT vec_id, ROUND(d - (SELECT o FROM off), 6) AS proj FROM dots
""",
)

# q145 twin: the inverted-index span union in SQL — grams via
# range/unnest + list slice, dup = HAVING COUNT(DISTINCT doc) > 1,
# coverage = COUNT(DISTINCT position) over exploded spans, zeros kept
# by the left join.
_oracle(
    "q145_dup_span_coverage",
    r"""
WITH toks AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(trim(text), '\s+'),
                     x -> x <> '') AS t
  FROM documents
),
base AS (SELECT doc_id, len(t) AS n_tokens, t FROM toks),
grams AS (
  SELECT doc_id, u.i AS s,
         array_to_string(t[u.i + 1 : u.i + 5], ' ') AS gram
  FROM base, UNNEST(range(0, greatest(n_tokens - 4, 0))) AS u(i)
),
dup AS (
  SELECT gram FROM grams GROUP BY gram
  HAVING COUNT(DISTINCT doc_id) > 1
),
cov AS (
  SELECT g.doc_id,
         COUNT(DISTINCT g.s) AS dup_starts,
         COUNT(DISTINCT p.pos) AS covered_tokens
  FROM grams g JOIN dup USING (gram),
       UNNEST(range(g.s, g.s + 5)) AS p(pos)
  GROUP BY g.doc_id
),
out AS (
  SELECT b.doc_id,
         b.n_tokens,
         COALESCE(cov.dup_starts, 0) AS dup_starts,
         COALESCE(cov.covered_tokens, 0) AS covered_tokens,
         CASE WHEN b.n_tokens > 0
              THEN COALESCE(cov.covered_tokens, 0)::DOUBLE / b.n_tokens
              ELSE 0.0 END AS dup_frac
  FROM base b LEFT JOIN cov USING (doc_id)
)
SELECT doc_id, CAST(n_tokens AS INT) AS n_tokens,
       CAST(dup_starts AS INT) AS dup_starts,
       CAST(covered_tokens AS INT) AS covered_tokens,
       ROUND(dup_frac, 6) AS dup_frac
FROM out
""",
)

# q146 twin: identical IEEE arithmetic — per-dim MIN/MAX, the same
# floor(+0.5) coding with the same (mx-mn)/255 scale, string_agg codes
# in dimension order, MSE normalized by the measured dim.
_oracle(
    "q146_quantize_embeddings",
    r"""
WITH pts AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
),
comp AS (
  SELECT vec_id, generate_subscripts(v, 1) - 1 AS i, unnest(v) AS x
  FROM pts
),
dim AS (SELECT MAX(i) + 1 AS d FROM comp),
stats AS (SELECT i, MIN(x) AS mn, MAX(x) AS mx FROM comp GROUP BY i),
coded AS (
  SELECT c.vec_id, c.i, c.x, s.mn,
         CASE WHEN s.mx > s.mn THEN (s.mx - s.mn) / 255 ELSE 0.0 END AS sc,
         CASE WHEN s.mx > s.mn
              THEN CAST(least(255, floor((c.x - s.mn)
                   / ((s.mx - s.mn) / 255) + 0.5)) AS INT)
              ELSE 0 END AS code
  FROM comp c JOIN stats s USING (i)
)
SELECT vec_id,
       string_agg(code::VARCHAR, ',' ORDER BY i) AS codes,
       ROUND(SUM((x - (mn + code * sc)) * (x - (mn + code * sc)))
             / (SELECT d FROM dim), 12) AS mse
FROM coded GROUP BY vec_id
""",
)

# q147 twin: the q146 coding composed with dequantization, corpus
# lists rebuilt in dimension order, then exactly the q28 rank shape
# (list_cosine_similarity's fold matches Catalyst's under 6dp).
_oracle(
    "q147_quantized_ann",
    r"""
WITH pts AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
),
comp AS (
  SELECT vec_id, generate_subscripts(v, 1) - 1 AS i, unnest(v) AS x
  FROM pts
),
stats AS (SELECT i, MIN(x) AS mn, MAX(x) AS mx FROM comp GROUP BY i),
hat AS (
  SELECT c.vec_id, c.i,
         s.mn
         + (CASE WHEN s.mx > s.mn
                 THEN least(255, floor((c.x - s.mn)
                      / ((s.mx - s.mn) / 255) + 0.5))
                 ELSE 0 END)
         * (CASE WHEN s.mx > s.mn THEN (s.mx - s.mn) / 255
                 ELSE 0.0 END) AS xhat
  FROM comp c JOIN stats s USING (i)
),
chat AS (
  SELECT vec_id, list(xhat ORDER BY i) AS vhat FROM hat GROUP BY vec_id
),
scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS nb_id,
         ROUND(list_cosine_similarity(q.v, c.vhat), 6) AS cos
  FROM pts q JOIN chat c ON q.vec_id <> c.vec_id
  WHERE q.vec_id % 50 = 0
),
ranked AS (
  SELECT query_id, nb_id, cos,
         CAST(ROW_NUMBER() OVER (
           PARTITION BY query_id ORDER BY cos DESC, nb_id ASC
         ) AS BIGINT) AS rank
  FROM scored
)
SELECT query_id, nb_id, cos, rank FROM ranked WHERE rank <= 5
""",
)

# q148 twin: counts, scalar totals, row_number with the same
# (cnt DESC, key ASC) tie rule, top-15 cut after ranking.
_oracle(
    "q148_skew_report",
    r"""
WITH counts AS (
  SELECT user_id, COUNT(*) AS cnt FROM events GROUP BY user_id
),
tot AS (
  SELECT CAST(SUM(cnt) AS DOUBLE) AS t, COUNT(*) AS nk,
         CAST(MAX(cnt) AS DOUBLE) AS mx
  FROM counts
),
ranked AS (
  SELECT user_id, cnt,
         ROW_NUMBER() OVER (ORDER BY cnt DESC, user_id ASC) AS rank
  FROM counts
)
SELECT user_id, cnt,
       ROUND(cnt / (SELECT t FROM tot), 9) AS share,
       ROUND((SELECT mx FROM tot)
             / ((SELECT t FROM tot) / (SELECT nk FROM tot)), 6)
         AS skew_factor,
       CAST(rank AS INT) AS rank
FROM ranked WHERE rank <= 15
""",
)

# q149 twin: q145's covered-position set driving a NOT EXISTS
# positional anti-join, string_agg ORDER BY pos reassembly, empty
# string (not a dropped row) for fully-covered documents.
_oracle(
    "q149_remove_dup_spans",
    r"""
WITH toks AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(trim(text), '\s+'),
                     x -> x <> '') AS t
  FROM documents
),
base AS (SELECT doc_id, len(t) AS n_tokens, t FROM toks),
grams AS (
  SELECT doc_id, u.i AS s,
         array_to_string(t[u.i + 1 : u.i + 5], ' ') AS gram
  FROM base, UNNEST(range(0, greatest(n_tokens - 4, 0))) AS u(i)
),
dup AS (
  SELECT gram FROM grams GROUP BY gram
  HAVING COUNT(DISTINCT doc_id) > 1
),
covered AS (
  SELECT DISTINCT g.doc_id, p.pos
  FROM grams g JOIN dup USING (gram),
       UNNEST(range(g.s, g.s + 5)) AS p(pos)
),
tokens AS (
  SELECT doc_id, generate_subscripts(t, 1) - 1 AS pos, unnest(t) AS tok
  FROM base
),
kept AS (
  SELECT tk.doc_id, tk.pos, tk.tok
  FROM tokens tk
  WHERE NOT EXISTS (
    SELECT 1 FROM covered c
    WHERE c.doc_id = tk.doc_id AND c.pos = tk.pos
  )
),
rebuilt AS (
  SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS clean_text,
         COUNT(*) AS kept
  FROM kept GROUP BY doc_id
)
SELECT b.doc_id,
       COALESCE(r.clean_text, '') AS clean_text,
       CAST(b.n_tokens - COALESCE(r.kept, 0) AS BIGINT) AS removed_tokens
FROM base b LEFT JOIN rebuilt r USING (doc_id)
""",
)

# q150 twin: the 6-round BPE unroll, generated mechanically — per
# round a pair-count CTE, a (cnt DESC, a, b) argmax CTE, and a
# list_reduce rewrite whose sentinel-guarded fold makes the same
# leftmost-first merge decisions as the Catalyst aggregate fold.
def _bpe_sql(merges: int) -> str:
    parts = [
        r"""
WITH toks AS (
  SELECT unnest(list_filter(regexp_split_to_array(trim(text), '\s+'),
                            x -> x <> '')) AS word
  FROM documents
),
words0 AS (SELECT word, COUNT(*) AS freq FROM toks GROUP BY word),
w0 AS (
  SELECT word, freq,
         [substring(word, i, 1) for i in range(1, len(word) + 1)] AS syms
  FROM words0
)"""
    ]
    for r in range(1, merges + 1):
        parts.append(
            f""",
p{r} AS (
  SELECT u.pair[1] AS a, u.pair[2] AS b, SUM(freq) AS cnt
  FROM w{r - 1},
       UNNEST([[syms[i], syms[i + 1]] for i in range(1, len(syms))])
         AS u(pair)
  GROUP BY 1, 2
),
b{r} AS (SELECT a, b, cnt FROM p{r} ORDER BY cnt DESC, a ASC, b ASC LIMIT 1),
w{r} AS (
  SELECT word, freq,
         list_reduce(
           [['<s>']] || [[x] for x in syms],
           (acc, x) -> CASE
             WHEN len(acc) > 1 AND acc[len(acc)] = b{r}.a
                  AND x[1] = b{r}.b
             THEN list_append(acc[1 : len(acc) - 1], b{r}.a || b{r}.b)
             ELSE list_append(acc, x[1]) END
         )[2:] AS syms
  FROM w{r - 1} CROSS JOIN b{r}
)"""
        )
    selects = "\nUNION ALL\n".join(
        f"SELECT {r} AS round, a AS lhs, b AS rhs, a || b AS merged,"
        f" CAST(cnt AS BIGINT) AS pair_count FROM b{r}"
        for r in range(1, merges + 1)
    )
    return "".join(parts) + "\n" + selects


_oracle("q150_bpe_train", _bpe_sql(6))


def _bpe_apply_sql(merges: int) -> str:
    """q151 twin: the q150 unroll's final vocabulary joined back to
    the exploded corpus — per-doc word/char/token sums, the same
    single-join application shape as the operator."""
    base = _bpe_sql(merges)
    head = base[: base.rindex("\nSELECT 1 AS round")]
    return (
        head
        + f""",
docw AS (
  SELECT doc_id,
         unnest(list_filter(regexp_split_to_array(trim(text), '\\s+'),
                            x -> x <> '')) AS word
  FROM documents
)
SELECT d.doc_id,
       COUNT(*) AS n_words,
       CAST(SUM(len(d.word)) AS BIGINT) AS n_chars,
       CAST(SUM(len(w.syms)) AS BIGINT) AS n_tokens,
       ROUND(CAST(SUM(len(d.word)) AS DOUBLE) / SUM(len(w.syms)), 6)
         AS chars_per_token
FROM docw d JOIN w{merges} w USING (word)
GROUP BY d.doc_id
"""
    )


_oracle("q151_bpe_segment_stats", _bpe_apply_sql(6))

_oracle(
    "q152_tpch_q5",
    """
SELECT n.n_name AS n_name,
       ROUND(SUM(l.l_extendedprice * (1.0 - l.l_discount)), 2) AS revenue
FROM lineitem l
JOIN orders o   ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey
                AND c.c_nationkey = s.s_nationkey
JOIN nation n   ON s.s_nationkey = n.n_nationkey
JOIN region r   ON n.n_regionkey = r.r_regionkey
WHERE r.r_name = 'ASIA'
  AND o.o_orderdate >= TIMESTAMP '1996-01-01'
  AND o.o_orderdate <  TIMESTAMP '1997-01-01'
GROUP BY n.n_name
""",
)

# q162 twin: both endpoint snapshots rebuilt relationally (base;
# MERGE as anti-join + UNION ALL; DELETE as a filter), then the CDF
# classification via NOT EXISTS / IS DISTINCT FROM.
_oracle(
    "q162_table_changes",
    r"""
WITH o AS (
  SELECT o_orderkey, o_orderstatus, ROUND(o_totalprice, 2) AS tp
  FROM orders
),
base AS (SELECT * FROM o WHERE o_orderkey % 4 = 0),
merged AS (
  SELECT * FROM base WHERE o_orderkey % 8 <> 0
  UNION ALL
  SELECT o_orderkey, o_orderstatus, ROUND(tp * 2, 2) AS tp
  FROM o WHERE o_orderkey % 8 = 0
  UNION ALL
  SELECT * FROM o WHERE o_orderkey % 4 = 1
),
after AS (SELECT * FROM merged WHERE o_orderkey % 16 <> 0)
SELECT a.o_orderkey, a.o_orderstatus, a.tp, 'insert' AS _change_type
FROM after a
WHERE NOT EXISTS (SELECT 1 FROM base b WHERE b.o_orderkey = a.o_orderkey)
UNION ALL
SELECT b.o_orderkey, b.o_orderstatus, b.tp, 'delete'
FROM base b
WHERE NOT EXISTS (SELECT 1 FROM after a WHERE a.o_orderkey = b.o_orderkey)
UNION ALL
SELECT b.o_orderkey, b.o_orderstatus, b.tp, 'update_preimage'
FROM base b JOIN after a ON b.o_orderkey = a.o_orderkey
WHERE (b.o_orderstatus, b.tp) IS DISTINCT FROM (a.o_orderstatus, a.tp)
UNION ALL
SELECT a.o_orderkey, a.o_orderstatus, a.tp, 'update_postimage'
FROM base b JOIN after a ON b.o_orderkey = a.o_orderkey
WHERE (b.o_orderstatus, b.tp) IS DISTINCT FROM (a.o_orderstatus, a.tp)
""",
)

# q169 twin: three Luby rounds unrolled — symmetrized live subgraph,
# fixed-width string priorities (16-hex hash || 8-digit id), winners
# where the priority beats every live neighbor's MIN. Each round's CTEs
# are MATERIALIZED: round r reads round r-1's several times, and DuckDB
# inlines a plain CTE at every reference, so three unrolled rounds cost
# 120+ s at sf0.001 inlined and 0.04 s materialized (same rows).
def _mis_pri_sql(expr: str, r: int) -> str:
    return (
        f"lpad(hex(CAST('0x' || substr(md5(CAST({expr} AS VARCHAR) "
        f"|| '#m{r}'), 1, 15) AS BIGINT)), 16, '0') "
        f"|| lpad(CAST({expr} AS VARCHAR), 8, '0')"
    )


def _mis_sql(rounds: int) -> str:
    parts = [
        SQL_EDGES.rstrip(),
        """,
und AS MATERIALIZED (
  SELECT DISTINCT src, dst FROM (
    SELECT src, dst FROM edges WHERE src <> dst
    UNION ALL
    SELECT dst AS src, src AS dst FROM edges WHERE src <> dst
  )
),
alive0 AS MATERIALIZED (SELECT DISTINCT src AS node FROM und),
live0 AS MATERIALIZED (SELECT src, dst FROM und)""",
    ]
    for r in range(1, rounds + 1):
        parts.append(
            f""",
nm{r} AS MATERIALIZED (
  SELECT src AS node, MIN({_mis_pri_sql('dst', r)}) AS mn
  FROM live{r - 1} GROUP BY src
),
w{r} AS MATERIALIZED (
  SELECT a.node FROM alive{r - 1} a
  LEFT JOIN nm{r} m ON a.node = m.node
  WHERE m.mn IS NULL OR {_mis_pri_sql('a.node', r)} < m.mn
),
d{r} AS MATERIALIZED (
  SELECT DISTINCT e.dst AS node
  FROM live{r - 1} e JOIN w{r} w ON e.src = w.node
  WHERE e.dst NOT IN (SELECT node FROM w{r})
),
gone{r} AS MATERIALIZED (
  SELECT node FROM w{r} UNION ALL SELECT node FROM d{r}
),
live{r} AS MATERIALIZED (
  SELECT src, dst FROM live{r - 1}
  WHERE src NOT IN (SELECT node FROM gone{r})
    AND dst NOT IN (SELECT node FROM gone{r})
),
alive{r} AS MATERIALIZED (
  SELECT node FROM alive{r - 1}
  WHERE node NOT IN (SELECT node FROM gone{r})
)"""
        )
    final = "\nUNION ALL\n".join(
        f"SELECT node, 'in_set' AS status FROM w{r}\n"
        f"UNION ALL\nSELECT node, 'dominated' AS status FROM d{r}"
        for r in range(1, rounds + 1)
    )
    final += (
        f"\nUNION ALL\nSELECT node, 'undecided' AS status FROM alive{rounds}"
    )
    return "".join(parts) + "\n" + final


_oracle("q169_maximal_independent_set", _mis_sql(3))

# q167 twin: the same md5 key (portable_hash60's DuckDB form), shard
# by mod, per-shard row_number ordered by (key, id).
_oracle(
    "q167_epoch_shuffle",
    r"""
WITH keyed AS (
  SELECT doc_id,
         CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '#e2'),
                             1, 15) AS BIGINT) AS k
  FROM documents
)
SELECT doc_id,
       CAST(k % 4 AS INT) AS shard,
       CAST(ROW_NUMBER() OVER (
         PARTITION BY k % 4 ORDER BY k, doc_id
       ) - 1 AS BIGINT) AS pos
FROM keyed
""",
)

# q168 twin: the identical SQL text — the Spark side runs it through
# spark.sql over temp views, DuckDB over its views.
_oracle(
    "q168_sql_interface",
    """
SELECT n.n_name AS n_name,
       COUNT(*) AS n_orders,
       ROUND(SUM(o.o_totalprice), 2) AS revenue
FROM orders o
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
WHERE o.o_orderstatus = 'F'
GROUP BY n.n_name
""",
)

# q166 twin: the same pinned-grid bucket counts, full-outer join of
# the two count relations, identical 0.5-smoothed contributions.
_oracle(
    "q166_psi_drift",
    r"""
WITH r AS (
  SELECT CAST(CASE WHEN value < 0 THEN 0
              WHEN value >= 100.0 THEN 11
              ELSE floor(value / 10.0) + 1 END AS BIGINT) AS bucket,
         COUNT(*) AS n_ref
  FROM events WHERE user_id % 2 = 0 GROUP BY 1
),
c AS (
  SELECT CAST(CASE WHEN value < 0 THEN 0
              WHEN value >= 100.0 THEN 11
              ELSE floor(value / 10.0) + 1 END AS BIGINT) AS bucket,
         COUNT(*) AS n_cur
  FROM events WHERE user_id % 2 = 1 GROUP BY 1
),
j AS (
  SELECT COALESCE(r.bucket, c.bucket) AS bucket,
         COALESCE(n_ref, 0) AS n_ref,
         COALESCE(n_cur, 0) AS n_cur
  FROM r FULL OUTER JOIN c ON r.bucket = c.bucket
),
t AS (SELECT SUM(n_ref) AS tr, SUM(n_cur) AS tc FROM j),
s AS (
  SELECT bucket, n_ref, n_cur,
         ((n_cur + 0.5) / ((SELECT tc FROM t) + 6.0)
          - (n_ref + 0.5) / ((SELECT tr FROM t) + 6.0))
         * ln(((n_cur + 0.5) / ((SELECT tc FROM t) + 6.0))
              / ((n_ref + 0.5) / ((SELECT tr FROM t) + 6.0))) AS contrib
  FROM j
)
SELECT bucket, n_ref, n_cur,
       ROUND(contrib, 9) AS contrib,
       ROUND((SELECT SUM(contrib) FROM s), 9) AS psi
FROM s
""",
)

# q165 twin: quantile_disc bounds per group (rank-exact match for the
# accuracy-1e6 GK sketch, q85's equivalence), clip via least/greatest.
_oracle(
    "q165_winsorize",
    r"""
WITH b AS (
  SELECT event_type,
         quantile_disc(value, 0.05) AS lo,
         quantile_disc(value, 0.95) AS hi
  FROM events GROUP BY event_type
)
SELECT e.event_id, e.event_type, e.value,
       ROUND(b.lo, 2) AS lo, ROUND(b.hi, 2) AS hi,
       ROUND(least(greatest(e.value, b.lo), b.hi), 2) AS value_clipped
FROM events e JOIN b USING (event_type)
""",
)

# q164 twin: the same count-relation join, scalar totals, row_number
# with the (pairs DESC, key) tie rule.
_oracle(
    "q164_join_cardinality",
    r"""
WITH la AS (
  SELECT l_orderkey % 512 AS k, COUNT(*) AS ca
  FROM lineitem GROUP BY 1
),
rb AS (
  SELECT user_id % 512 AS k, COUNT(*) AS cb FROM events GROUP BY 1
),
p AS (
  SELECT la.k, CAST(ca * cb AS BIGINT) AS pairs FROM la JOIN rb USING (k)
),
tot AS (
  SELECT CAST(SUM(pairs) AS DOUBLE) AS t FROM p
),
nl AS (SELECT COUNT(*) AS n FROM lineitem),
nr AS (SELECT COUNT(*) AS n FROM events),
ranked AS (
  SELECT k, pairs,
         ROW_NUMBER() OVER (ORDER BY pairs DESC, k ASC) AS rank
  FROM p
)
SELECT k, pairs,
       CAST((SELECT t FROM tot) AS BIGINT) AS total_pairs,
       ROUND((SELECT t FROM tot) / (SELECT n FROM nl), 6) AS blowup_left,
       ROUND((SELECT t FROM tot) / (SELECT n FROM nr), 6) AS blowup_right,
       CAST(rank AS INT) AS rank
FROM ranked WHERE rank <= 10
""",
)

# q163 twin: the ground truth the incremental refresh must equal — a
# from-scratch aggregate over the reconstructed v2 endpoint.
_oracle(
    "q163_cdf_refresh",
    r"""
WITH o AS (
  SELECT o_orderkey, o_orderstatus, ROUND(o_totalprice, 2) AS tp
  FROM orders
),
base AS (SELECT * FROM o WHERE o_orderkey % 4 = 0),
merged AS (
  SELECT * FROM base WHERE o_orderkey % 8 <> 0
  UNION ALL
  SELECT o_orderkey, o_orderstatus, ROUND(tp * 2, 2) AS tp
  FROM o WHERE o_orderkey % 8 = 0
  UNION ALL
  SELECT * FROM o WHERE o_orderkey % 4 = 1
),
after AS (SELECT * FROM merged WHERE o_orderkey % 16 <> 0)
SELECT o_orderstatus,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       ROUND(SUM(tp), 2) AS revenue
FROM after GROUP BY o_orderstatus
""",
)

# q155 twin: the same rank-sum — per-score counts, a prefix-sum
# window over distinct scores, average ranks for ties.
_oracle(
    "q155_binary_auc",
    r"""
WITH s AS (
  SELECT CAST(n_chars AS DOUBLE) AS s,
         CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
  FROM documents
),
g AS (
  SELECT s, COUNT(*) AS cnt, SUM(y) AS pos FROM s GROUP BY s
),
ranked AS (
  SELECT s, cnt, pos,
         COALESCE(SUM(cnt) OVER (
           ORDER BY s ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
         ), 0) AS before
  FROM g
)
SELECT CAST(SUM(pos) AS BIGINT) AS n_pos,
       CAST(SUM(cnt) - SUM(pos) AS BIGINT) AS n_neg,
       ROUND(
         (SUM(pos * (before + (cnt + 1) / 2.0))
            - SUM(pos) * (SUM(pos) + 1) / 2.0)
         / (SUM(pos) * (SUM(cnt) - SUM(pos))), 9) AS auc
FROM ranked
""",
)

# q159 twin: the walk unrolled — indexed adjacency, per-step LEFT
# joins picking idx = md5-hash(cur#t) % deg, the same path/len
# accumulation with dangling nodes keeping their shorter row.
def _walks_sql(steps: int) -> str:
    parts = [
        SQL_EDGES.rstrip(),
        """,
adj AS (
  SELECT src, dst,
         ROW_NUMBER() OVER (PARTITION BY src ORDER BY dst) - 1 AS idx
  FROM edges
),
s0 AS (
  SELECT src AS start, src AS cur, CAST(src AS VARCHAR) AS path,
         1 AS walk_len
  FROM (SELECT DISTINCT src FROM edges)
)""",
    ]
    for t in range(1, steps + 1):
        parts.append(
            f""",
s{t} AS (
  SELECT s.start,
         a.dst AS cur,
         CASE WHEN a.dst IS NOT NULL
              THEN s.path || '->' || CAST(a.dst AS VARCHAR)
              ELSE s.path END AS path,
         CASE WHEN a.dst IS NOT NULL THEN s.walk_len + 1
              ELSE s.walk_len END AS walk_len
  FROM s{t - 1} s
  LEFT JOIN deg d ON s.cur = d.src
  LEFT JOIN adj a ON a.src = s.cur
       AND a.idx = CAST('0x' || substr(md5(CAST(s.cur AS VARCHAR)
                        || '#{t}'), 1, 15) AS BIGINT) % d.deg
)"""
        )
    parts.append(
        f"\nSELECT start, path, CAST(walk_len AS INT) AS walk_len FROM s{steps}"
    )
    return "".join(parts)


_oracle("q159_random_walks", _walks_sql(4))

# q160/q161 twins share the walk-position CTEs: positions from the
# unrolled walk paths, the same offset-fan-out equi-join.
def _skipgram_sql(final_select: str) -> str:
    return _walks_sql(4).replace(
        "\nSELECT start, path, CAST(walk_len AS INT) AS walk_len FROM s4",
        r""",
toks AS (
  SELECT start AS wid, u.i - 1 AS i,
         CAST(parts[u.i] AS BIGINT) AS node
  FROM (SELECT start, string_split(path, '->') AS parts FROM s4),
       UNNEST(range(1, len(parts) + 1)) AS u(i)
),
centers AS (
  SELECT wid, node AS center, i + d.d AS j
  FROM toks, UNNEST([-2, -1, 1, 2]) AS d(d)
),
pairs AS (
  SELECT c.center, t.node AS context,
         CAST(COUNT(*) AS BIGINT) AS cnt
  FROM centers c JOIN toks t ON c.wid = t.wid AND c.j = t.i
  GROUP BY c.center, t.node
)
"""
        + final_select,
    )


_oracle(
    "q160_skipgram_pairs",
    _skipgram_sql("SELECT center, context, cnt FROM pairs"),
)

# q161 twin: the same pair relation with broadcast-shaped marginals
# and the ln(cnt·N/(pc·px)) positive part.
_oracle(
    "q161_ppmi",
    _skipgram_sql(
        r"""
SELECT p.center, p.context, p.cnt,
       ROUND(greatest(0.0,
         ln(CAST(p.cnt AS DOUBLE) * (SELECT SUM(cnt) FROM pairs)
            / (pc.s * px.s))), 6) AS ppmi
FROM pairs p
JOIN (SELECT center, SUM(cnt) AS s FROM pairs GROUP BY center) pc
  ON p.center = pc.center
JOIN (SELECT context, SUM(cnt) AS s FROM pairs GROUP BY context) px
  ON p.context = px.context
"""
    ),
)

# q158 twin: the identical sequential fold via list_reduce — the
# first element IS e_0 = x_0, each step appends α·x + (1−α)·last.
_oracle(
    "q158_ewma",
    r"""
WITH g AS (
  SELECT user_id,
         list(value ORDER BY ts, event_id) AS vs,
         list(event_id ORDER BY ts, event_id) AS ids
  FROM events GROUP BY user_id
),
f AS (
  SELECT user_id, ids, vs,
         list_reduce(
           [[v] for v in vs],
           (acc, x) -> list_append(acc, 0.25 * x[1] + 0.75 * acc[len(acc)])
         ) AS es
  FROM g
)
SELECT user_id,
       ids[u.i] AS event_id,
       vs[u.i] AS value,
       floor(es[u.i] * 1e6 + 0.5) / 1e6 AS ewma
FROM f, UNNEST(range(1, len(ids) + 1)) AS u(i)
""",
)

# q157 twin: per-(doc, word) counts, the same ln n − Σ c ln c / n
# rearrangement, 6dp rounding on the log-bearing outputs.
_oracle(
    "q157_token_entropy",
    r"""
WITH words AS (
  SELECT doc_id,
         unnest(list_filter(regexp_split_to_array(trim(text), '\s+'),
                            x -> x <> '')) AS word
  FROM documents
),
counts AS (
  SELECT doc_id, word, COUNT(*) AS c FROM words GROUP BY doc_id, word
)
SELECT doc_id,
       CAST(SUM(c) AS BIGINT) AS n_tokens,
       CAST(COUNT(*) AS BIGINT) AS vocab,
       ROUND(ln(SUM(c)) - SUM(c * ln(c)) / SUM(c), 6) AS entropy,
       ROUND(CAST(COUNT(*) AS DOUBLE) / SUM(c), 6) AS ttr
FROM counts GROUP BY doc_id
""",
)

# q156 twin: per-score counts crossed with the threshold VALUES grid,
# conditional sums, the same NULL conventions for undefined ratios.
_oracle(
    "q156_pr_thresholds",
    r"""
WITH s AS (
  SELECT CAST(n_chars AS DOUBLE) AS s,
         CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
  FROM documents
),
g AS (SELECT s, COUNT(*) AS cnt, SUM(y) AS pos FROM s GROUP BY s),
th(threshold) AS (VALUES (100.0), (150.0), (200.0), (250.0)),
agg AS (
  SELECT threshold,
         SUM(CASE WHEN s >= threshold THEN pos ELSE 0 END) AS tp,
         SUM(CASE WHEN s >= threshold THEN cnt - pos ELSE 0 END) AS fp,
         SUM(CASE WHEN s < threshold THEN pos ELSE 0 END) AS fn
  FROM g CROSS JOIN th GROUP BY threshold
),
m AS (
  SELECT threshold, tp, fp, fn,
         CASE WHEN tp + fp > 0 THEN CAST(tp AS DOUBLE) / (tp + fp) END AS p,
         CASE WHEN tp + fn > 0 THEN CAST(tp AS DOUBLE) / (tp + fn) END AS r
  FROM agg
)
SELECT CAST(threshold AS DOUBLE) AS threshold,
       CAST(tp AS BIGINT) AS tp, CAST(fp AS BIGINT) AS fp,
       CAST(fn AS BIGINT) AS fn,
       ROUND(p, 9) AS precision, ROUND(r, 9) AS recall,
       ROUND(CASE WHEN p IS NOT NULL AND r IS NOT NULL AND p + r > 0
                  THEN 2 * p * r / (p + r) END, 9) AS f1
FROM m
""",
)

# q154 twin: the q36 IVF assignment CTEs composed with the q147
# quantize∘dequantize corpus — probed lists, asymmetric cosine
# against the reconstructed vectors, the same rank shape.
_oracle(
    "q154_ivf_adc",
    r"""
WITH emb AS (
  SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
),
comp AS (
  SELECT id, generate_subscripts(v, 1) - 1 AS i, unnest(v) AS x FROM emb
),
stats AS (SELECT i, MIN(x) AS mn, MAX(x) AS mx FROM comp GROUP BY i),
hat AS (
  SELECT c.id, c.i,
         s.mn
         + (CASE WHEN s.mx > s.mn
                 THEN least(255, floor((c.x - s.mn)
                      / ((s.mx - s.mn) / 255) + 0.5))
                 ELSE 0 END)
         * (CASE WHEN s.mx > s.mn THEN (s.mx - s.mn) / 255
                 ELSE 0.0 END) AS xhat
  FROM comp c JOIN stats s USING (i)
),
chat AS (SELECT id, list(xhat ORDER BY i) AS vhat FROM hat GROUP BY id),
cb AS (
  SELECT CAST(ROW_NUMBER() OVER (ORDER BY id) - 1 AS INT) AS cid, v AS cvec
  FROM emb ORDER BY id LIMIT 16
),
aff AS (
  SELECT e.id, c.cid,
         list_dot_product(e.v, c.cvec)
           / sqrt(list_dot_product(c.cvec, c.cvec)) AS affinity
  FROM emb e CROSS JOIN cb c
),
ranked_aff AS (
  SELECT id, cid,
         ROW_NUMBER() OVER (
           PARTITION BY id ORDER BY affinity DESC, cid ASC
         ) AS r
  FROM aff
),
c_assign AS (SELECT id AS nb_id, cid FROM ranked_aff WHERE r = 1),
q_assign AS (
  SELECT id AS query_id, cid
  FROM ranked_aff WHERE r <= 4 AND id % 50 = 0
),
scored AS (
  SELECT q.query_id, c.nb_id,
         ROUND(list_cosine_similarity(eq.v, ch.vhat), 6) AS cos
  FROM q_assign q
  JOIN c_assign c ON q.cid = c.cid
  JOIN emb eq ON q.query_id = eq.id
  JOIN chat ch ON c.nb_id = ch.id
  WHERE q.query_id <> c.nb_id
),
topk AS (
  SELECT query_id, nb_id, cos,
         CAST(ROW_NUMBER() OVER (
           PARTITION BY query_id ORDER BY cos DESC, nb_id ASC
         ) AS BIGINT) AS rank
  FROM scored
)
SELECT query_id, nb_id, cos, rank FROM topk WHERE rank <= 5
""",
)

_oracle(
    "q153_tpch_q10",
    """
WITH agg AS (
  SELECT c.c_custkey, c.c_name, ROUND(c.c_acctbal, 2) AS c_acctbal,
         n.n_name,
         ROUND(SUM(l.l_extendedprice * (1.0 - l.l_discount)), 2) AS revenue
  FROM lineitem l
  JOIN orders o   ON l.l_orderkey = o.o_orderkey
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN nation n   ON c.c_nationkey = n.n_nationkey
  WHERE l.l_returnflag = 'R'
    AND o.o_orderdate >= TIMESTAMP '1997-01-01'
    AND o.o_orderdate <  TIMESTAMP '1997-07-01'
  GROUP BY c.c_custkey, c.c_name, c.c_acctbal, n.n_name
)
SELECT c_custkey, c_name, c_acctbal, n_name, revenue
FROM agg ORDER BY revenue DESC, c_custkey ASC LIMIT 20
""",
)

# q170 twin: the q160 pair CTEs + a cumulative-count CDF over the
# context marginal and the same integer hash-mod containment lookup.
_oracle(
    "q170_negative_samples",
    _skipgram_sql(
        r"""
,
marg AS (
  SELECT context, SUM(cnt) AS c FROM pairs GROUP BY context
),
cdf AS (
  SELECT context AS neg,
         COALESCE(SUM(c) OVER (
           ORDER BY context
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
         ), 0) AS lo,
         COALESCE(SUM(c) OVER (
           ORDER BY context
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
         ), 0) + c AS hi
  FROM marg
),
tot AS (SELECT SUM(c) AS t FROM marg),
draws AS (
  SELECT p.center, p.context, s.slot,
         CAST('0x' || substr(md5(CAST(p.center AS VARCHAR) || '#'
              || CAST(p.context AS VARCHAR) || '#n'
              || CAST(s.slot AS VARCHAR)), 1, 15) AS BIGINT)
           % (SELECT t FROM tot) AS u
  FROM pairs p, UNNEST([0, 1]) AS s(slot)
)
SELECT d.center, d.context, CAST(d.slot AS INT) AS slot,
       c.neg AS negative,
       c.neg = d.context AS is_collision
FROM draws d JOIN cdf c ON d.u >= c.lo AND d.u < c.hi
"""
    ),
)


# q142 twin: SemDeDup over the augmented (original + 1.001x-scaled
# planted copies) embedding set — the q141 unroll parameterized by a
# different source CTE, then within-cluster pairs at 6dp-rounded
# cosine >= 0.99 driving the greedy keep-first rule.
_oracle(
    "q142_semantic_dedup",
    r"""
WITH base AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
  FROM embeddings WHERE vec_id % 3 = 0
),
pts AS (
  SELECT vec_id, v FROM base
  UNION ALL
  SELECT vec_id + 1000000 AS vec_id,
         list_transform(v, x -> x * 1.001) AS v
  FROM base WHERE vec_id % 20 = 0
),
seeds AS (
  SELECT (row_number() OVER (ORDER BY vec_id)) - 1 AS cid, v AS c
  FROM pts ORDER BY vec_id LIMIT 4
),
asg1 AS (
  SELECT vec_id, v, cid FROM (
    SELECT vec_id, v, cid, row_number() OVER (
      PARTITION BY vec_id ORDER BY list_distance(v, c), cid) AS rn
    FROM pts CROSS JOIN seeds
  ) t WHERE rn = 1
),
m1 AS (
  SELECT cid, list(m ORDER BY pos) AS c FROM (
    SELECT cid, pos, AVG(x) AS m FROM (
      SELECT cid, unnest(v) AS x, generate_subscripts(v, 1) AS pos
      FROM asg1
    ) u GROUP BY cid, pos
  ) g GROUP BY cid
),
c1 AS (
  SELECT s.cid, COALESCE(m1.c, s.c) AS c
  FROM seeds s LEFT JOIN m1 ON s.cid = m1.cid
),
asg2 AS (
  SELECT vec_id, v, cid FROM (
    SELECT vec_id, v, cid, row_number() OVER (
      PARTITION BY vec_id ORDER BY list_distance(v, c), cid) AS rn
    FROM pts CROSS JOIN c1
  ) t WHERE rn = 1
),
m2 AS (
  SELECT cid, list(m ORDER BY pos) AS c FROM (
    SELECT cid, pos, AVG(x) AS m FROM (
      SELECT cid, unnest(v) AS x, generate_subscripts(v, 1) AS pos
      FROM asg2
    ) u GROUP BY cid, pos
  ) g GROUP BY cid
),
c2 AS (
  SELECT c1.cid, COALESCE(m2.c, c1.c) AS c
  FROM c1 LEFT JOIN m2 ON c1.cid = m2.cid
),
final AS (
  SELECT vec_id, v, cid AS cluster FROM (
    SELECT vec_id, v, cid, row_number() OVER (
      PARTITION BY vec_id ORDER BY list_distance(v, c), cid) AS rn
    FROM pts CROSS JOIN c2
  ) t WHERE rn = 1
),
dups AS (
  SELECT DISTINCT b.vec_id
  FROM final a JOIN final b
    ON a.cluster = b.cluster AND a.vec_id < b.vec_id
  WHERE ROUND(
          list_dot_product(a.v, b.v)
          / (sqrt(list_dot_product(a.v, a.v))
             * sqrt(list_dot_product(b.v, b.v))), 6) >= 0.99
)
SELECT f.vec_id,
       CAST(f.cluster AS INT) AS cluster,
       (d.vec_id IS NULL) AS keep
FROM final f LEFT JOIN dups d ON f.vec_id = d.vec_id
""",
)

# q141 twin: Lloyd's k-means unrolled exactly (k=4, 2 rounds) — seed
# with the first k vectors by id, euclidean argmin (list_distance is
# monotone with the squared distance Spark sums), ties to smallest
# cid, per-dimension AVG recompute, empty clusters keep their seed.
_oracle(
    "q141_kmeans_clusters",
    r"""
WITH pts AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
  FROM embeddings WHERE vec_id % 3 = 0
),
seeds AS (
  SELECT (row_number() OVER (ORDER BY vec_id)) - 1 AS cid, v AS c
  FROM pts ORDER BY vec_id LIMIT 4
),
asg1 AS (
  SELECT vec_id, v, cid FROM (
    SELECT vec_id, v, cid, row_number() OVER (
      PARTITION BY vec_id ORDER BY list_distance(v, c), cid) AS rn
    FROM pts CROSS JOIN seeds
  ) t WHERE rn = 1
),
m1 AS (
  SELECT cid, list(m ORDER BY pos) AS c FROM (
    SELECT cid, pos, AVG(x) AS m FROM (
      SELECT cid, unnest(v) AS x, generate_subscripts(v, 1) AS pos
      FROM asg1
    ) u GROUP BY cid, pos
  ) g GROUP BY cid
),
c1 AS (
  SELECT s.cid, COALESCE(m1.c, s.c) AS c
  FROM seeds s LEFT JOIN m1 ON s.cid = m1.cid
),
asg2 AS (
  SELECT vec_id, v, cid FROM (
    SELECT vec_id, v, cid, row_number() OVER (
      PARTITION BY vec_id ORDER BY list_distance(v, c), cid) AS rn
    FROM pts CROSS JOIN c1
  ) t WHERE rn = 1
),
m2 AS (
  SELECT cid, list(m ORDER BY pos) AS c FROM (
    SELECT cid, pos, AVG(x) AS m FROM (
      SELECT cid, unnest(v) AS x, generate_subscripts(v, 1) AS pos
      FROM asg2
    ) u GROUP BY cid, pos
  ) g GROUP BY cid
),
c2 AS (
  SELECT c1.cid, COALESCE(m2.c, c1.c) AS c
  FROM c1 LEFT JOIN m2 ON c1.cid = m2.cid
)
SELECT vec_id, CAST(cid AS INT) AS cluster FROM (
  SELECT vec_id, cid, row_number() OVER (
    PARTITION BY vec_id ORDER BY list_distance(v, c), cid) AS rn
  FROM pts CROSS JOIN c2
) t WHERE rn = 1
""",
)

# q140 twin: occurrence-preserving n-grams via DuckDB list slicing
# (range end is exclusive; arr[i:i+n-1] is 1-based inclusive), then
# the identical dup/top fraction arithmetic and thresholds.
_oracle(
    "q140_repetition_filters",
    r"""
WITH toks AS (
  SELECT doc_id, string_split_regex(trim(text), '\s+') AS arr
  FROM documents WHERE doc_id % 5 = 0
),
grams AS (
  SELECT doc_id, 2 AS n,
         unnest(list_transform(range(1, len(arr)), i ->
           array_to_string(arr[i:i+1], ' '))) AS g
  FROM toks
  UNION ALL
  SELECT doc_id, 3 AS n,
         unnest(list_transform(range(1, len(arr) - 1), i ->
           array_to_string(arr[i:i+2], ' '))) AS g
  FROM toks
),
per_gram AS (
  SELECT doc_id, n, g, COUNT(*) AS c FROM grams GROUP BY doc_id, n, g
),
per_doc AS (
  SELECT doc_id, n, SUM(c) AS total, COUNT(*) AS n_distinct, MAX(c) AS top
  FROM per_gram GROUP BY doc_id, n
),
wide AS (
  SELECT doc_id,
         SUM(CASE WHEN n = 2 THEN total END) AS n2_total,
         SUM(CASE WHEN n = 2 THEN n_distinct END) AS d2,
         SUM(CASE WHEN n = 2 THEN top END) AS t2,
         SUM(CASE WHEN n = 3 THEN total END) AS n3,
         SUM(CASE WHEN n = 3 THEN n_distinct END) AS d3
  FROM per_doc GROUP BY doc_id
)
SELECT doc_id,
       CAST(n2_total AS BIGINT) AS n2_total,
       ROUND((n2_total - d2) / CAST(n2_total AS DOUBLE), 6) AS dup2_frac,
       ROUND(t2 / CAST(n2_total AS DOUBLE), 6) AS top2_frac,
       ROUND(COALESCE((n3 - d3) / CAST(n3 AS DOUBLE), 0.0), 6) AS dup3_frac,
       ((n2_total - d2) / CAST(n2_total AS DOUBLE) <= 0.6
        AND t2 / CAST(n2_total AS DOUBLE) <= 0.15
        AND COALESCE((n3 - d3) / CAST(n3 AS DOUBLE), 0.0) <= 0.55
       ) AS passes_repetition
FROM wide WHERE n2_total IS NOT NULL
""",
)

# q139 twin: identical pixels through two different real decoders
# embed identically, so the per-id cross-format cosine is exactly 1
# (float32 storage keeps the 6dp-rounded dot at 1.000000: 4 dims of
# ~6e-8 relative error sum to ~1e-7, far inside the rounding).
_oracle(
    "q139_image_embedding",
    r"""
SELECT doc_id AS media_id,
       CAST(4 AS INT) AS dim,
       CAST(1.0 AS DOUBLE) AS cross_format_cos
FROM documents WHERE doc_id % 10 = 0
""",
)

# q138 twin: JPEG is lossy, so the twin integrates the same clipped
# ramp in closed form and pins the WITHIN-TOLERANCE booleans TRUE —
# a decoder whose channel means drift > 1.0 flips a boolean and
# breaks the hash; format/width/height are pinned exactly.
_oracle(
    "q138_jpeg_decode",
    r"""
WITH ids AS (
  SELECT doc_id AS media_id FROM documents WHERE doc_id % 20 = 0
)
SELECT media_id,
       'jpeg' AS format,
       CAST(64 AS INT) AS width,
       CAST(48 AS INT) AS height,
       TRUE AS r_ok,
       TRUE AS g_ok,
       TRUE AS b_ok
FROM ids
""",
)

# q117 twin: q110's 5-gram shingle construction, then the identical
# Bloom bit arithmetic — k=3 md5 positions mod 65536, a shingle is a
# "maybe" iff all three positions are set by the bench side. HAVING
# COUNT(*) = 3 is exact: the bit table is distinct, and each of the
# three i-rows matches at most one bit row.
_oracle(
    "q117_bloom_decontaminate",
    r"""
WITH toks AS (
  SELECT doc_id, tok, idx FROM (
    SELECT doc_id,
           unnest(string_split_regex(trim(text), '\s+')) AS tok,
           unnest(range(1, len(string_split_regex(trim(text), '\s+')) + 1))
             AS idx
    FROM documents
  )
),
sh AS (
  SELECT DISTINCT a.doc_id,
         a.tok || ' ' || b.tok || ' ' || c.tok || ' ' || d.tok || ' '
               || e.tok AS shingle
  FROM toks a
  JOIN toks b ON a.doc_id = b.doc_id AND b.idx = a.idx + 1
  JOIN toks c ON a.doc_id = c.doc_id AND c.idx = a.idx + 2
  JOIN toks d ON a.doc_id = d.doc_id AND d.idx = a.idx + 3
  JOIN toks e ON a.doc_id = e.doc_id AND e.idx = a.idx + 4
  WHERE a.tok || ' ' || b.tok || ' ' || c.tok || ' ' || d.tok || ' '
        || e.tok <> ''
),
bench AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 50 = 0),
corpus AS (SELECT doc_id, shingle FROM sh WHERE doc_id % 50 <> 0),
hf AS (SELECT unnest(generate_series(0, 2)) AS i),
bits AS (
  SELECT DISTINCT
         CAST(('0x' || substr(
           md5(b.shingle || ':bloom' || CAST(hf.i AS VARCHAR)), 1, 15
         )) AS BIGINT) % 65536 AS pos
  FROM bench b CROSS JOIN hf
),
probe AS (
  SELECT c.doc_id, c.shingle, hf.i,
         CAST(('0x' || substr(
           md5(c.shingle || ':bloom' || CAST(hf.i AS VARCHAR)), 1, 15
         )) AS BIGINT) % 65536 AS pos
  FROM corpus c CROSS JOIN hf
),
maybe AS (
  SELECT p.doc_id, p.shingle
  FROM probe p JOIN bits USING (pos)
  GROUP BY p.doc_id, p.shingle
  HAVING COUNT(*) = 3
)
SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_maybe
FROM maybe GROUP BY doc_id
""",
)

# q118 twin: the sequential ordered-window cumsum the distributed
# two-level prefix sum must equal value-for-value.
_oracle(
    "q118_pack_sequences",
    r"""
WITH counted AS (
  SELECT doc_id,
         CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT)
           AS n_tokens
  FROM documents
),
c AS (
  SELECT doc_id, n_tokens,
         CAST(COALESCE(SUM(n_tokens) OVER (
           ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
         ), 0) AS BIGINT) AS start_tok
  FROM counted
)
SELECT doc_id, n_tokens, start_tok,
       CAST(FLOOR(start_tok / 512.0) AS BIGINT) AS seq_first,
       CAST(FLOOR((start_tok + GREATEST(n_tokens - 1, 0)) / 512.0)
            AS BIGINT) AS seq_last,
       CAST(start_tok % 512 AS BIGINT) AS offset_in_seq
FROM c
""",
)

# q119 twin: corpus unigram frequencies, per-doc mean ln(p) rounded
# to 6dp (all casts to DOUBLE so DuckDB's HUGEINT sum can't change
# the arithmetic type vs Spark).
_oracle(
    "q119_unigram_logprob",
    r"""
WITH toks AS (
  SELECT doc_id,
         unnest(string_split_regex(trim(text), '\s+')) AS tok
  FROM documents
),
tk AS (SELECT doc_id, tok FROM toks WHERE tok <> ''),
freq AS (
  SELECT tok, CAST(COUNT(*) AS BIGINT) AS cnt FROM tk GROUP BY tok
),
total AS (SELECT CAST(SUM(cnt) AS DOUBLE) AS total FROM freq)
SELECT t.doc_id, CAST(COUNT(*) AS BIGINT) AS n_toks,
       ROUND(AVG(ln(CAST(f.cnt AS DOUBLE) / (SELECT total FROM total))),
             6) AS avg_logprob
FROM tk t JOIN freq f USING (tok)
GROUP BY t.doc_id
""",
)

# q120 twin: the same md5 coin against cumulative thresholds
# (0.9, 0.95 of the 1e6 precision).
_oracle(
    "q120_dataset_split",
    r"""
SELECT doc_id,
       CASE
         WHEN CAST(('0x' || substr(
                md5(CAST(doc_id AS VARCHAR) || ':split'), 1, 15
              )) AS BIGINT) % 1000000 < 900000 THEN 'train'
         WHEN CAST(('0x' || substr(
                md5(CAST(doc_id AS VARCHAR) || ':split'), 1, 15
              )) AS BIGINT) % 1000000 < 950000 THEN 'val'
         ELSE 'test'
       END AS split
FROM documents
""",
)

# q121 twin: rebuild the identical 4x512 count-min sketch from the
# same md5 bucket arithmetic, probe the exact top-20 tokens.
_oracle(
    "q121_cms_heavy_hitters",
    r"""
WITH toks AS (
  SELECT unnest(string_split_regex(trim(text), '\s+')) AS tok
  FROM documents
),
tk AS (SELECT tok FROM toks WHERE tok <> ''),
hf AS (SELECT unnest(generate_series(0, 3)) AS d),
cells AS (
  SELECT hf.d,
         CAST(('0x' || substr(
           md5(tk.tok || ':cms' || CAST(hf.d AS VARCHAR)), 1, 15
         )) AS BIGINT) % 512 AS pos
  FROM tk CROSS JOIN hf
),
sketch AS (
  SELECT d, pos, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM cells GROUP BY d, pos
),
exact AS (
  SELECT tok, CAST(COUNT(*) AS BIGINT) AS exact_cnt FROM tk GROUP BY tok
),
top AS (
  SELECT tok, exact_cnt FROM exact
  ORDER BY exact_cnt DESC, tok ASC LIMIT 20
),
probe AS (
  SELECT top.tok, top.exact_cnt, hf.d,
         CAST(('0x' || substr(
           md5(top.tok || ':cms' || CAST(hf.d AS VARCHAR)), 1, 15
         )) AS BIGINT) % 512 AS pos
  FROM top CROSS JOIN hf
),
est AS (
  SELECT p.tok, p.exact_cnt,
         CAST(MIN(COALESCE(s.cnt, 0)) AS BIGINT) AS cms_est
  FROM probe p LEFT JOIN sketch s ON p.d = s.d AND p.pos = s.pos
  GROUP BY p.tok, p.exact_cnt
)
SELECT tok, exact_cnt, cms_est, cms_est >= exact_cnt AS never_under
FROM est
""",
)

# q122 twin: the same hub-capped common-neighbor enumeration through
# each shared w, 1/ln(deg) weights (true uncapped degree), rounded
# score driving the deterministic top-50.
_oracle(
    "q122_adamic_adar",
    SQL_SPARSE_W
    + """
,
und AS (
  SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
  FROM e WHERE src <> dst
),
nbr AS (
  SELECT a AS node, b AS nbr FROM und
  UNION ALL SELECT b AS node, a AS nbr FROM und
),
dg AS (SELECT node, CAST(COUNT(*) AS BIGINT) AS deg FROM nbr GROUP BY node),
wn AS (
  SELECT nb.node AS w, nb.nbr AS n, 1.0 / ln(d.deg) AS wt
  FROM nbr nb JOIN dg d ON nb.node = d.node
  WHERE d.deg BETWEEN 2 AND 64
),
pairs AS (
  SELECT x.n AS u, y.n AS v, x.wt
  FROM wn x JOIN wn y ON x.w = y.w AND x.n < y.n
),
sc AS (
  SELECT u, v, ROUND(SUM(wt), 6) AS score,
         CAST(COUNT(*) AS BIGINT) AS n_common
  FROM pairs GROUP BY u, v
)
SELECT u, v, score, n_common
FROM sc s
WHERE NOT EXISTS (
  SELECT 1 FROM und WHERE und.a = s.u AND und.b = s.v
)
ORDER BY score DESC, u ASC, v ASC
LIMIT 50
""",
)

# q123 twin: the single full recompute the incremental merge must
# equal — merge(agg(base), agg(delta)) == agg(all).
_oracle(
    "q123_incremental_agg",
    """
SELECT c_nationkey AS nationkey,
       ROUND(SUM(o_totalprice), 2) AS revenue,
       CAST(COUNT(*) AS BIGINT) AS n_orders
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_nationkey
""",
)

# q124 twin: two unrolled HITS rounds — each half-step is an edge
# join + group-sum, L1-normalized by a scalar subquery.
_oracle(
    "q124_hits",
    SQL_SPARSE_W
    + """
,
nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS c FROM snodes),
h0 AS (SELECT node, 1.0 / (SELECT c FROM nn) AS hub FROM snodes),
a1r AS (
  SELECT e.dst AS node, SUM(h0.hub) AS v
  FROM e JOIN h0 ON e.src = h0.node GROUP BY e.dst
),
a1f AS (
  SELECT s.node, COALESCE(a1r.v, 0.0) AS v
  FROM snodes s LEFT JOIN a1r ON s.node = a1r.node
),
a1 AS (SELECT node, v / (SELECT SUM(v) FROM a1f) AS auth FROM a1f),
h1r AS (
  SELECT e.src AS node, SUM(a1.auth) AS v
  FROM e JOIN a1 ON e.dst = a1.node GROUP BY e.src
),
h1f AS (
  SELECT s.node, COALESCE(h1r.v, 0.0) AS v
  FROM snodes s LEFT JOIN h1r ON s.node = h1r.node
),
h1 AS (SELECT node, v / (SELECT SUM(v) FROM h1f) AS hub FROM h1f),
a2r AS (
  SELECT e.dst AS node, SUM(h1.hub) AS v
  FROM e JOIN h1 ON e.src = h1.node GROUP BY e.dst
),
a2f AS (
  SELECT s.node, COALESCE(a2r.v, 0.0) AS v
  FROM snodes s LEFT JOIN a2r ON s.node = a2r.node
),
a2 AS (SELECT node, v / (SELECT SUM(v) FROM a2f) AS auth FROM a2f),
h2r AS (
  SELECT e.src AS node, SUM(a2.auth) AS v
  FROM e JOIN a2 ON e.dst = a2.node GROUP BY e.src
),
h2f AS (
  SELECT s.node, COALESCE(h2r.v, 0.0) AS v
  FROM snodes s LEFT JOIN h2r ON s.node = h2r.node
),
h2 AS (SELECT node, v / (SELECT SUM(v) FROM h2f) AS hub FROM h2f)
SELECT h2.node, ROUND(h2.hub, 9) AS hub, ROUND(a2.auth, 9) AS auth
FROM h2 JOIN a2 ON h2.node = a2.node
""",
)

# q125 twin: three unrolled Katz rounds x := 1 + 0.1 * M^T x from
# x0 = 0 (so x1 is uniformly 1).
_oracle(
    "q125_katz_centrality",
    SQL_SPARSE_W
    + """
,
x1 AS (SELECT node, 1.0 AS katz FROM snodes),
x2r AS (
  SELECT e.dst AS node, SUM(x1.katz) AS v
  FROM e JOIN x1 ON e.src = x1.node GROUP BY e.dst
),
x2 AS (
  SELECT s.node, 1.0 + 0.1 * COALESCE(x2r.v, 0.0) AS katz
  FROM snodes s LEFT JOIN x2r ON s.node = x2r.node
),
x3r AS (
  SELECT e.dst AS node, SUM(x2.katz) AS v
  FROM e JOIN x2 ON e.src = x2.node GROUP BY e.dst
),
x3 AS (
  SELECT s.node, 1.0 + 0.1 * COALESCE(x3r.v, 0.0) AS katz
  FROM snodes s LEFT JOIN x3r ON s.node = x3r.node
)
SELECT node, ROUND(katz, 9) AS katz FROM x3
""",
)

# q126 twin: Z-order clustering is layout-only, so the oracle is the
# plain projection (with the clustered flag pinned TRUE — a layout
# regression that stops clustering breaks the value hash).
_oracle(
    "q126_zorder_table",
    """
SELECT c_custkey, c_nationkey,
       ROUND(c_acctbal, 2) AS acctbal,
       TRUE AS clustered
FROM customer
""",
)

# q127 twin: the same strided-window chunking over the same
# tokenization — chunk count ceil((n - overlap) / step), 1-based list
# slice of `chunk` tokens per index.
_oracle(
    "q127_chunk_documents",
    r"""
WITH toked AS (
  SELECT doc_id,
         list_filter(
           string_split_regex(trim(text), '\s+'), t -> t <> ''
         ) AS toks
  FROM documents
),
nn AS (
  SELECT doc_id, toks, len(toks) AS n FROM toked WHERE len(toks) > 0
),
idx AS (
  SELECT doc_id, toks,
         unnest(range(0, GREATEST(
           1, CAST(CEIL((n - 8) / 56.0) AS BIGINT)
         ))) AS chunk_id
  FROM nn
)
SELECT doc_id, CAST(chunk_id AS INT) AS chunk_id,
       CAST(len(toks[chunk_id * 56 + 1 : chunk_id * 56 + 64])
            AS BIGINT) AS n_chunk_toks,
       array_to_string(
         toks[chunk_id * 56 + 1 : chunk_id * 56 + 64], ' '
       ) AS chunk_text
FROM idx
""",
)

# q128 twin: each rule as one SQL aggregate, unioned.
_oracle(
    "q128_expectations",
    """
WITH rules AS (
  SELECT 'not_null:o_orderkey' AS rule,
         CAST(SUM(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END)
              AS BIGINT) AS violations
  FROM orders
  UNION ALL
  SELECT 'not_null:o_custkey',
         CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END)
              AS BIGINT)
  FROM orders
  UNION ALL
  SELECT 'not_null:o_orderstatus',
         CAST(SUM(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END)
              AS BIGINT)
  FROM orders
  UNION ALL
  SELECT 'range:o_totalprice',
         CAST(SUM(CASE WHEN o_totalprice IS NOT NULL
                        AND (o_totalprice < 0 OR o_totalprice > 200000)
                       THEN 1 ELSE 0 END) AS BIGINT)
  FROM orders
  UNION ALL
  SELECT 'accepted:o_orderstatus',
         CAST(SUM(CASE WHEN o_orderstatus IS NOT NULL
                        AND o_orderstatus NOT IN ('O', 'F', 'P')
                       THEN 1 ELSE 0 END) AS BIGINT)
  FROM orders
  UNION ALL
  SELECT 'unique:o_orderkey',
         CAST(COALESCE(SUM(n - 1), 0) AS BIGINT)
  FROM (SELECT COUNT(*) AS n FROM orders GROUP BY o_orderkey)
  UNION ALL
  SELECT 'fk:o_custkey->c_custkey',
         CAST(COUNT(*) AS BIGINT)
  FROM orders o
  WHERE o.o_custkey IS NOT NULL
    AND NOT EXISTS (
      SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey
    )
)
SELECT rule, violations, violations = 0 AS passed
FROM rules ORDER BY rule
""",
)

# Shared recursive walk for the multi-source BFS twins: the sparse
# graph with the seed label carried through every expansion step.
_SQL_MULTI_BFS_WALK = """
WITH RECURSIVE e AS (
  SELECT DISTINCT CAST(l_orderkey % 256 AS BIGINT) AS src,
         CAST(l_partkey % 256 AS BIGINT) AS dst
  FROM lineitem WHERE l_linenumber = 1 AND l_orderkey % 4 = 0
),
snodes AS (
  SELECT DISTINCT node FROM (
    SELECT src AS node FROM e UNION ALL SELECT dst AS node FROM e
  )
),
walk(seed, node, dist) AS (
  SELECT node, node, 0 FROM snodes WHERE node % 32 = 0
  UNION
  SELECT w.seed, e.dst, w.dist + 1
  FROM walk w JOIN e ON e.src = w.node
  WHERE w.dist < 12
),
d AS (
  SELECT seed, node, MIN(dist) AS dist FROM walk GROUP BY seed, node
)
"""

_oracle(
    "q129_multi_source_bfs",
    _SQL_MULTI_BFS_WALK
    + """
SELECT seed, node, CAST(dist AS BIGINT) AS dist FROM d
""",
)

_oracle(
    "q130_harmonic_centrality",
    _SQL_MULTI_BFS_WALK
    + """
SELECT seed, ROUND(SUM(1.0 / dist), 9) AS harmonic,
       CAST(COUNT(*) AS BIGINT) AS n_reached
FROM d WHERE dist > 0 GROUP BY seed
""",
)

# q131 twin: q23's quality construction feeding the same md5 coin —
# keep iff coin < floor(clamp(quality) * 1e6).
_oracle(
    "q131_weighted_sample",
    r"""
WITH feats AS (
  SELECT doc_id, lang,
         length(text) AS len_chars,
         len(string_split_regex(trim(text), '\s+')) AS n_tokens,
         len(regexp_extract_all(text, '[\.,;:!\?]')) AS n_punct,
         len(regexp_extract_all(lower(text), '\b(?:the|and|of|to|a)\b'))
           AS stop_hits
  FROM documents
),
ratios AS (
  SELECT doc_id, lang, len_chars, n_tokens,
         n_punct / greatest(len_chars, 1) AS punct_ratio,
         stop_hits / greatest(n_tokens, 1) AS stop_ratio
  FROM feats
),
scored AS (
  SELECT doc_id, lang,
         ROUND(0.4 * least(len_chars / 500.0, 1.0)
               + 0.3 * (1.0 - punct_ratio)
               + 0.3 * least(stop_ratio, 1.0), 9) AS quality
  FROM ratios
)
SELECT doc_id, lang, quality
FROM scored
WHERE CAST(('0x' || substr(
        md5(CAST(doc_id AS VARCHAR) || ':wsample'), 1, 15
      )) AS BIGINT) % 1000000
      < CAST(FLOOR(GREATEST(0.0, LEAST(1.0, quality)) * 1000000)
             AS BIGINT)
""",
)

# q132 twin: rebuild the identical HLL registers (top-8-bit bucket,
# rho from bin() bit length — integer-only) and the same estimate
# fold, small-range linear counting included.
_oracle(
    "q132_portable_hll",
    """
WITH h AS (
  SELECT CAST(('0x' || substr(
           md5(CAST(o_custkey AS VARCHAR) || ':hll'), 1, 15
         )) AS BIGINT) AS hv
  FROM orders
),
parts AS (
  SELECT CAST(hv // 4503599627370496 AS INT) AS bucket,
         hv % 4503599627370496 AS w
  FROM h
),
regs AS (
  SELECT bucket,
         MAX(CASE WHEN w = 0 THEN 53
                  ELSE 53 - length(bin(w)) END) AS max_rho
  FROM parts GROUP BY bucket
),
agg AS (
  SELECT SUM(POWER(2.0, -max_rho)) AS s_used,
         COUNT(*) AS nb
  FROM regs
),
folded AS (
  SELECT COALESCE(s_used, 0.0) + (256 - nb) AS s,
         256 - nb AS zeros
  FROM agg
),
est AS (
  SELECT CASE
           WHEN (0.7213 / (1.0 + 1.079 / 256)) * 256 * 256 / s
                  <= 2.5 * 256
                AND zeros > 0
           THEN 256.0 * ln(256.0 / zeros)
           ELSE (0.7213 / (1.0 + 1.079 / 256)) * 256 * 256 / s
         END AS e
  FROM folded
),
exact AS (
  SELECT CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS exact_ndv
  FROM orders
)
SELECT ROUND(est.e, 4) AS hll_estimate, exact.exact_ndv,
       ABS(ROUND(est.e, 4) - exact_ndv) / exact_ndv <= 3 * 1.04 / 16.0
         AS within_bound
FROM est, exact
""",
)

_oracle(
    "q133_full_outer_join",
    """
WITH c AS (
  SELECT c_nationkey AS nationkey, CAST(COUNT(*) AS BIGINT) AS n_cust
  FROM customer WHERE c_nationkey < 15 GROUP BY c_nationkey
),
s AS (
  SELECT s_nationkey AS nationkey, CAST(COUNT(*) AS BIGINT) AS n_supp
  FROM supplier WHERE s_nationkey >= 10 GROUP BY s_nationkey
)
SELECT nationkey, n_cust, n_supp
FROM c FULL OUTER JOIN s USING (nationkey)
""",
)

_oracle(
    "q134_intersect_all",
    """
SELECT l_partkey AS partkey FROM lineitem WHERE l_orderkey % 4 = 0
INTERSECT ALL
SELECT l_partkey AS partkey FROM lineitem WHERE l_orderkey % 6 = 0
""",
)

_oracle(
    "q135_scalar_functions",
    """
SELECT n_nationkey,
       translate(lower(n_name), 'aeiou', 'AEIOU') AS vowels_up,
       lpad(CAST(n_nationkey AS VARCHAR), 4, '0') AS padded,
       reverse(lower(n_name)) AS reversed,
       repeat('ab', CAST(n_nationkey % 3 + 1 AS INT)) AS repeated,
       substr(lower(n_name), 1, 3) AS prefix3,
       ascii(upper(n_name)) AS first_ascii,
       nullif(n_regionkey, 2) AS region_not2,
       greatest(n_nationkey, n_regionkey * 5) AS greater,
       least(n_nationkey, n_regionkey * 5) AS lesser,
       CAST(sign(n_nationkey - 12) AS INT) AS sgn,
       abs(n_nationkey - 12) AS absdiff,
       CAST(bit_count(n_nationkey) AS INT) AS popcount
FROM nation
""",
)

# q136 twin: the q27 self-join pipeline over corpus ∪ synthesized
# batch, keeping only cross-boundary pairs — identical mathematics to
# the asymmetric operator (cross-side band buckets + exact verify).
_oracle(
    "q136_incremental_neardup",
    r"""
WITH docs AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id, text || ' near dup marker' AS text
  FROM documents WHERE doc_id % 25 = 7
),
toks AS (
  SELECT doc_id, tok, idx FROM (
    SELECT doc_id,
           unnest(string_split_regex(trim(text), '\s+')) AS tok,
           unnest(range(1, len(string_split_regex(trim(text), '\s+')) + 1))
             AS idx
    FROM docs
  )
),
shingles AS (
  SELECT DISTINCT a.doc_id,
         a.tok || ' ' || b.tok || ' ' || c.tok AS shingle
  FROM toks a
  JOIN toks b ON a.doc_id = b.doc_id AND b.idx = a.idx + 1
  JOIN toks c ON a.doc_id = c.doc_id AND c.idx = a.idx + 2
  WHERE a.tok || ' ' || b.tok || ' ' || c.tok <> ''
),
hashed AS (
  SELECT doc_id,
         CAST(('0x' || substr(md5(shingle), 1, 15)) AS BIGINT)
           % 2147483647 AS h
  FROM shingles
),
sigs AS (
  SELECT doc_id,
    """
    + _MH_COLS
    + r"""
  FROM hashed GROUP BY doc_id
),
banded AS (
"""
    + _BAND_SIGS
    + r"""
),
cands AS (
  SELECT DISTINCT a.doc_id AS corpus_id, b.doc_id AS new_id
  FROM banded a JOIN banded b
    ON a.band = b.band AND a.sig = b.sig
   AND a.doc_id < 1000000 AND b.doc_id >= 1000000
),
sizes AS (
  SELECT doc_id, COUNT(*) AS n_sh FROM shingles GROUP BY doc_id
),
inter AS (
  SELECT c.new_id, c.corpus_id, COUNT(*) AS n_inter
  FROM cands c
  JOIN shingles a ON a.doc_id = c.corpus_id
  JOIN shingles b ON b.doc_id = c.new_id AND b.shingle = a.shingle
  GROUP BY c.new_id, c.corpus_id
)
SELECT i.new_id, i.corpus_id,
       ROUND(i.n_inter / CAST(sa.n_sh + sb.n_sh - i.n_inter AS DOUBLE), 6)
         AS jaccard
FROM inter i
JOIN sizes sa ON sa.doc_id = i.corpus_id
JOIN sizes sb ON sb.doc_id = i.new_id
WHERE i.n_inter / CAST(sa.n_sh + sb.n_sh - i.n_inter AS DOUBLE) >= 0.5
""",
)

# q171 twin: Lucene-variant BM25 with constants written as the SAME
# float expressions Spark folds ((1.2 + 1.0), 1.0 - 0.75 + ...) so
# both engines score with bit-identical doubles; rank on the ROUNDED
# score, doc_id asc tie-break.
_oracle(
    "q171_bm25_search",
    r"""
WITH toks AS (
  SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS term
  FROM documents
),
tk AS (SELECT doc_id, term FROM toks WHERE term <> ''),
doclen AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS dl FROM tk GROUP BY doc_id
),
avgdl AS (SELECT AVG(dl) AS a FROM doclen),
n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM documents),
qtf AS (
  SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
  FROM tk WHERE term IN ('spark', 'window', 'dup')
  GROUP BY doc_id, term
),
dfreq AS (
  SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM qtf GROUP BY term
),
scored AS (
  SELECT q.doc_id,
         ROUND(SUM(
           ln(1.0 + ((SELECT n FROM n) - f.df + 0.5) / (f.df + 0.5))
           * (q.tf * (1.2 + 1.0))
           / (q.tf + 1.2 * (1.0 - 0.75
                            + 0.75 * d.dl / (SELECT a FROM avgdl)))
         ), 6) AS score
  FROM qtf q
  JOIN dfreq f USING (term)
  JOIN doclen d USING (doc_id)
  GROUP BY q.doc_id
),
ranked AS (
  SELECT doc_id, score,
         ROW_NUMBER() OVER (ORDER BY score DESC, doc_id ASC) AS rk
  FROM scored
)
SELECT doc_id, CAST(rk AS INT) AS rk, score FROM ranked WHERE rk <= 20
""",
)

# q172 twin: adjacent word pairs via generate_subscripts alignment,
# interpolated p = 0.75*c12/c1 + 0.25*c2/T, per-doc mean ln rounded
# to 6dp, bounded to doc_id % 7 == 0 like the Spark side.
_oracle(
    "q172_bigram_logprob",
    r"""
WITH toks AS (
  SELECT doc_id, generate_subscripts(t, 1) - 1 AS pos, unnest(t) AS w
  FROM (
    SELECT doc_id,
           list_filter(string_split_regex(trim(text), '\s+'),
                       x -> x <> '') AS t
    FROM documents
  )
),
bigrams AS (
  SELECT a.doc_id, a.w AS w1, b.w AS w2
  FROM toks a
  JOIN toks b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
),
uni AS (
  SELECT w, CAST(COUNT(*) AS BIGINT) AS c1 FROM toks GROUP BY w
),
total AS (SELECT CAST(SUM(c1) AS DOUBLE) AS t FROM uni),
bi AS (
  SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c12
  FROM bigrams GROUP BY w1, w2
)
SELECT g.doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
       ROUND(AVG(ln(
         0.75 * c.c12 / u1.c1
         + (1.0 - 0.75) * u2.c1 / (SELECT t FROM total)
       )), 6) AS avg_logprob
FROM bigrams g
JOIN bi c ON g.w1 = c.w1 AND g.w2 = c.w2
JOIN uni u1 ON g.w1 = u1.w
JOIN uni u2 ON g.w2 = u2.w
WHERE g.doc_id % 7 = 0
GROUP BY g.doc_id
""",
)

# q173 twin: identical day - row_number island key over the distinct
# (user, day) relation; best run picked on (streak DESC, start ASC).
_oracle(
    "q173_longest_streaks",
    r"""
WITH days AS (
  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
),
islands AS (
  SELECT user_id, day,
         day - CAST(ROW_NUMBER() OVER (
           PARTITION BY user_id ORDER BY day
         ) AS INTEGER) AS grp
  FROM days
),
runs AS (
  SELECT user_id, grp,
         CAST(COUNT(*) AS BIGINT) AS streak,
         MIN(day) AS start
  FROM islands GROUP BY user_id, grp
),
best AS (
  SELECT user_id, streak, start,
         ROW_NUMBER() OVER (
           PARTITION BY user_id ORDER BY streak DESC, start ASC
         ) AS rk
  FROM runs
)
SELECT user_id,
       CAST(SUM(streak) AS BIGINT) AS n_active_days,
       CAST(MAX(CASE WHEN rk = 1 THEN streak END) AS BIGINT)
         AS best_streak,
       strftime(MAX(CASE WHEN rk = 1 THEN start END), '%Y-%m-%d')
         AS best_start
FROM best GROUP BY user_id
""",
)

# q174 twin: the same two-row_number island difference over the
# (epoch-second, event_id) total order; version tie-break on the
# run's first event id.
_oracle(
    "q174_scd2_dimension",
    r"""
WITH pre AS (
  SELECT user_id, event_type,
         CAST(floor(epoch(ts)) AS BIGINT) AS ep,
         event_id AS id
  FROM events
),
numbered AS (
  SELECT user_id, event_type, ep, id,
         ROW_NUMBER() OVER (
           PARTITION BY user_id ORDER BY ep, id
         )
         - ROW_NUMBER() OVER (
           PARTITION BY user_id, event_type ORDER BY ep, id
         ) AS grp
  FROM pre
),
runs AS (
  SELECT user_id, event_type, grp,
         MIN(ep) AS valid_from,
         MAX(ep) AS valid_to,
         CAST(COUNT(*) AS BIGINT) AS n_events,
         MIN(id) AS first_id
  FROM numbered GROUP BY user_id, event_type, grp
),
versioned AS (
  SELECT user_id, event_type, valid_from, valid_to, n_events,
         CAST(ROW_NUMBER() OVER (
           PARTITION BY user_id ORDER BY valid_from, first_id
         ) AS INTEGER) AS version
  FROM runs
)
SELECT user_id, version, event_type, valid_from, valid_to, n_events,
       version = MAX(version) OVER (PARTITION BY user_id) AS is_current
FROM versioned
""",
)

# q175 twin: same collapse-block-verify shape — distinct names,
# last-token block via regexp, in-block levenshtein <= 2, a < b.
_oracle(
    "q175_fuzzy_pairs",
    r"""
WITH names AS (
  SELECT DISTINCT p_name AS name FROM part WHERE p_name IS NOT NULL
),
b AS (
  SELECT name, regexp_extract(name, '(\S+)$', 1) AS blk FROM names
)
SELECT a.name AS name_a, c.name AS name_b,
       CAST(levenshtein(a.name, c.name) AS BIGINT) AS dist
FROM b a JOIN b c ON a.blk = c.blk AND a.name < c.name
WHERE levenshtein(a.name, c.name) <= 2
""",
)

# q176 twin: one UNION ALL branch per orders column with the exact
# same typed min/max routing (numerics+timestamp -> min_num/max_num
# as DOUBLE, strings -> min_str/max_str).
_oracle(
    "q176_profile_columns",
    r"""
SELECT 'o_orderkey' AS "column", CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(COUNT(*) - COUNT(o_orderkey) AS BIGINT) AS n_null,
       CAST(COUNT(DISTINCT o_orderkey) AS BIGINT) AS n_distinct,
       CAST(MIN(o_orderkey) AS DOUBLE) AS min_num,
       CAST(MAX(o_orderkey) AS DOUBLE) AS max_num,
       CAST(NULL AS VARCHAR) AS min_str, CAST(NULL AS VARCHAR) AS max_str
FROM orders
UNION ALL
SELECT 'o_custkey', CAST(COUNT(*) AS BIGINT),
       CAST(COUNT(*) - COUNT(o_custkey) AS BIGINT),
       CAST(COUNT(DISTINCT o_custkey) AS BIGINT),
       CAST(MIN(o_custkey) AS DOUBLE), CAST(MAX(o_custkey) AS DOUBLE),
       CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR)
FROM orders
UNION ALL
SELECT 'o_orderstatus', CAST(COUNT(*) AS BIGINT),
       CAST(COUNT(*) - COUNT(o_orderstatus) AS BIGINT),
       CAST(COUNT(DISTINCT o_orderstatus) AS BIGINT),
       CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
       MIN(o_orderstatus), MAX(o_orderstatus)
FROM orders
UNION ALL
SELECT 'o_totalprice', CAST(COUNT(*) AS BIGINT),
       CAST(COUNT(*) - COUNT(o_totalprice) AS BIGINT),
       CAST(COUNT(DISTINCT o_totalprice) AS BIGINT),
       CAST(MIN(o_totalprice) AS DOUBLE), CAST(MAX(o_totalprice) AS DOUBLE),
       CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR)
FROM orders
UNION ALL
SELECT 'o_orderdate', CAST(COUNT(*) AS BIGINT),
       CAST(COUNT(*) - COUNT(o_orderdate) AS BIGINT),
       CAST(COUNT(DISTINCT o_orderdate) AS BIGINT),
       CAST(floor(epoch(MIN(o_orderdate))) AS DOUBLE),
       CAST(floor(epoch(MAX(o_orderdate))) AS DOUBLE),
       CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR)
FROM orders
UNION ALL
SELECT 'o_orderpriority', CAST(COUNT(*) AS BIGINT),
       CAST(COUNT(*) - COUNT(o_orderpriority) AS BIGINT),
       CAST(COUNT(DISTINCT o_orderpriority) AS BIGINT),
       CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
       MIN(o_orderpriority), MAX(o_orderpriority)
FROM orders
""",
)

# q177 twin: q175's blocked-pair SQL as a CTE, closed transitively with
# the q90-pattern recursive CTE; canonical = MIN name per component,
# singletons restored by the LEFT JOIN coalesce.
_oracle(
    "q177_er_resolve",
    r"""
WITH RECURSIVE names AS (
  SELECT DISTINCT p_name AS name FROM part WHERE p_name IS NOT NULL
),
b AS (
  SELECT name, regexp_extract(name, '(\S+)$', 1) AS blk FROM names
),
pairs AS (
  SELECT a.name AS name_a, c.name AS name_b
  FROM b a JOIN b c ON a.blk = c.blk AND a.name < c.name
  WHERE levenshtein(a.name, c.name) <= 2
),
und AS (
  SELECT name_a AS src, name_b AS dst FROM pairs
  UNION
  SELECT name_b AS src, name_a AS dst FROM pairs
),
pnodes AS (SELECT DISTINCT src AS node FROM und),
reach(node, label) AS (
  SELECT node, node FROM pnodes
  UNION
  SELECT u.dst, r.label FROM reach r JOIN und u ON r.node = u.src
),
comp AS (SELECT node, MIN(label) AS component FROM reach GROUP BY node),
canon AS (
  SELECT n.name, COALESCE(c.component, n.name) AS canonical_name
  FROM names n LEFT JOIN comp c ON n.name = c.node
),
sizes AS (
  SELECT canonical_name AS cname, CAST(COUNT(*) AS BIGINT) AS cluster_size
  FROM canon GROUP BY canonical_name
)
SELECT name, canonical_name, cluster_size,
       name = canonical_name AS is_canonical
FROM canon JOIN sizes ON canonical_name = cname
""",
)

# q178 twin: trigram variant of q110's shingle SQL; first-owner = MIN
# doc_id per shingle; per-doc counts over the DISTINCT (doc, shingle)
# relation; short/empty docs restored with 0 shingles, novelty 0.0.
_oracle(
    "q178_ngram_novelty",
    r"""
WITH docs AS (SELECT doc_id, text FROM documents WHERE doc_id % 3 = 0),
toks AS (
  SELECT doc_id, tok, idx FROM (
    SELECT doc_id,
           unnest(string_split_regex(trim(text), '\s+')) AS tok,
           unnest(range(1, len(string_split_regex(trim(text), '\s+')) + 1))
             AS idx
    FROM docs
  )
),
sh AS (
  SELECT DISTINCT a.doc_id,
         a.tok || ' ' || b.tok || ' ' || c.tok AS shingle
  FROM toks a
  JOIN toks b ON a.doc_id = b.doc_id AND b.idx = a.idx + 1
  JOIN toks c ON a.doc_id = c.doc_id AND c.idx = a.idx + 2
  WHERE a.tok || ' ' || b.tok || ' ' || c.tok <> ''
),
fst AS (SELECT shingle, MIN(doc_id) AS first_doc FROM sh GROUP BY shingle),
per AS (
  SELECT s.doc_id,
         CAST(COUNT(*) AS BIGINT) AS n_shingles,
         CAST(SUM(CASE WHEN s.doc_id = f.first_doc THEN 1 ELSE 0 END)
              AS BIGINT) AS novel_shingles
  FROM sh s JOIN fst f USING (shingle)
  GROUP BY s.doc_id
)
SELECT d.doc_id,
       COALESCE(p.n_shingles, 0) AS n_shingles,
       COALESCE(p.novel_shingles, 0) AS novel_shingles,
       ROUND(COALESCE(CAST(p.novel_shingles AS DOUBLE) / p.n_shingles,
                      0.0), 6) AS novelty
FROM (SELECT DISTINCT doc_id FROM docs) d LEFT JOIN per p USING (doc_id)
""",
)

# q179 twin: same top-500 cut (freq desc, term asc) and the same
# regr_slope/regr_intercept moments over ln(freq) ~ ln(rank).
_oracle(
    "q179_zipf_slope",
    r"""
WITH toks AS (
  SELECT unnest(string_split_regex(trim(text), '\s+')) AS term
  FROM documents
),
tf AS (
  SELECT term, CAST(COUNT(*) AS BIGINT) AS freq
  FROM toks WHERE term <> '' GROUP BY term
),
top AS (SELECT term, freq FROM tf ORDER BY freq DESC, term ASC LIMIT 500),
ranked AS (
  SELECT freq, row_number() OVER (ORDER BY freq DESC, term ASC) AS rk
  FROM top
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_terms,
       ROUND(regr_slope(ln(freq), ln(rk)), 6) AS slope,
       ROUND(regr_intercept(ln(freq), ln(rk)), 6) AS intercept
FROM ranked
""",
)

# q180 twin: canonical TPC-H Q22 text adapted to nation keys (scalar
# avg subquery + NOT EXISTS).
_oracle(
    "q180_tpch_q22",
    """
SELECT CAST(c_nationkey AS BIGINT) AS cntry,
       CAST(COUNT(*) AS BIGINT) AS numcust,
       ROUND(SUM(c_acctbal), 2) AS totacctbal
FROM customer
WHERE c_nationkey IN (1, 3, 5, 7, 9, 11, 13)
  AND c_acctbal > (
        SELECT AVG(c_acctbal) FROM customer
        WHERE c_acctbal > 0.0
          AND c_nationkey IN (1, 3, 5, 7, 9, 11, 13)
      )
  AND NOT EXISTS (
        SELECT 1 FROM orders WHERE o_custkey = c_custkey
      )
GROUP BY c_nationkey
ORDER BY cntry
""",
)

# q181 twin: canonical TPC-H Q15 text (revenue view + scalar max;
# 2dp-rounded revenue on BOTH sides so the equality is cross-engine
# exact).
_oracle(
    "q181_tpch_q15",
    """
WITH revenue AS (
  SELECT l_suppkey AS supplier_no,
         ROUND(SUM(l_extendedprice * (1.0 - l_discount)), 2)
           AS total_revenue
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
    AND l_shipdate < TIMESTAMP '1996-04-01'
  GROUP BY l_suppkey
)
SELECT CAST(s_suppkey AS BIGINT) AS s_suppkey, s_name, total_revenue
FROM supplier JOIN revenue ON s_suppkey = supplier_no
WHERE total_revenue = (SELECT MAX(total_revenue) FROM revenue)
ORDER BY s_suppkey
""",
)

# q182 twin: identical regexp_replace length deltas ('g' flag — DuckDB
# defaults to first-match-only) and the same dominance tie-break
# (latin >= digit >= other).
_oracle(
    "q182_script_mix",
    r"""
WITH m AS (
  SELECT doc_id,
         CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g'))
              AS BIGINT) AS n_latin,
         CAST(length(regexp_replace(text, '[^0-9]', '', 'g'))
              AS BIGINT) AS n_digit,
         CAST(length(regexp_replace(text, '[^ \t\n]', '', 'g'))
              AS BIGINT) AS n_space,
         CAST(length(text) AS BIGINT) AS n_all
  FROM documents
)
SELECT doc_id, n_latin, n_digit, n_space,
       n_all - n_latin - n_digit - n_space AS n_other,
       CASE
         WHEN n_latin >= n_digit
              AND n_latin >= n_all - n_latin - n_digit - n_space
           THEN 'latin'
         WHEN n_digit >= n_all - n_latin - n_digit - n_space
           THEN 'digit'
         ELSE 'other'
       END AS dominant
FROM m
""",
)

# q183 twin: the same deterministic URL synthesis, parsed with
# anchored regexps (host = authority, path = first '/'-rooted segment
# after the authority, query = after '?').
_oracle(
    "q183_url_parse",
    r"""
WITH u AS (
  SELECT doc_id,
         'https://' || source || '.example.com/' || lang || '/doc-'
           || CAST(doc_id AS VARCHAR) || '?ref=r'
           || CAST(doc_id % 7 AS VARCHAR) AS url
  FROM documents WHERE doc_id % 10 = 0
)
SELECT doc_id, url,
       regexp_extract(url, '^https?://([^/?#]+)', 1) AS host,
       regexp_extract(url, '^https?://[^/?#]+(/[^?#]*)', 1) AS path,
       regexp_extract(url, '\?([^#]*)', 1) AS query
FROM u
""",
)

# q184 twin: quantile_disc cutpoints (≡ the GK sketch at rank error
# < 1, the q85 equivalence) applied through the same ">" fold.
_oracle(
    "q184_equidepth_hist",
    """
WITH cuts AS (
  SELECT quantile_disc(l_extendedprice,
                       [0.125, 0.25, 0.375, 0.5, 0.625, 0.75, 0.875])
           AS qs
  FROM lineitem WHERE l_extendedprice IS NOT NULL
),
assigned AS (
  SELECT CAST(1
         + (CASE WHEN l_extendedprice > ROUND(qs[1], 6) THEN 1 ELSE 0 END)
         + (CASE WHEN l_extendedprice > ROUND(qs[2], 6) THEN 1 ELSE 0 END)
         + (CASE WHEN l_extendedprice > ROUND(qs[3], 6) THEN 1 ELSE 0 END)
         + (CASE WHEN l_extendedprice > ROUND(qs[4], 6) THEN 1 ELSE 0 END)
         + (CASE WHEN l_extendedprice > ROUND(qs[5], 6) THEN 1 ELSE 0 END)
         + (CASE WHEN l_extendedprice > ROUND(qs[6], 6) THEN 1 ELSE 0 END)
         + (CASE WHEN l_extendedprice > ROUND(qs[7], 6) THEN 1 ELSE 0 END)
           AS BIGINT) AS bucket,
         CAST(l_extendedprice AS DOUBLE) AS v
  FROM lineitem, cuts WHERE l_extendedprice IS NOT NULL
)
SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n,
       ROUND(MIN(v), 6) AS min_v, ROUND(MAX(v), 6) AS max_v
FROM assigned GROUP BY bucket ORDER BY bucket
""",
)

# q185 twin: both peeling rounds unrolled — per-edge support is the
# count over the three role projections of the closed wedges, edges
# below k-2=2 dropped between rounds.
_oracle(
    "q185_ktruss",
    f"""
WITH edges AS (
  SELECT CAST(l_orderkey % {EDGE_MOD} AS BIGINT) AS src,
         CAST(l_partkey % {EDGE_MOD} AS BIGINT) AS dst
  FROM lineitem
  WHERE (l_orderkey % {EDGE_MOD}) % 4 = 0
),
e0 AS (
  SELECT DISTINCT LEAST(src, dst) AS src, GREATEST(src, dst) AS dst
  FROM edges WHERE src <> dst
),
tri0 AS (
  SELECT e1.src AS a, e1.dst AS b, e2.dst AS c
  FROM e0 e1
  JOIN e0 e2 ON e1.dst = e2.src
  JOIN e0 e3 ON e3.src = e1.src AND e3.dst = e2.dst
),
sup0 AS (
  SELECT src, dst, CAST(COUNT(*) AS BIGINT) AS support FROM (
    SELECT a AS src, b AS dst FROM tri0
    UNION ALL SELECT b AS src, c AS dst FROM tri0
    UNION ALL SELECT a AS src, c AS dst FROM tri0
  ) GROUP BY src, dst
),
s0 AS (
  SELECT e0.src, e0.dst
  FROM e0 LEFT JOIN sup0 USING (src, dst)
  WHERE COALESCE(sup0.support, 0) >= 2
),
tri1 AS (
  SELECT e1.src AS a, e1.dst AS b, e2.dst AS c
  FROM s0 e1
  JOIN s0 e2 ON e1.dst = e2.src
  JOIN s0 e3 ON e3.src = e1.src AND e3.dst = e2.dst
),
sup1 AS (
  SELECT src, dst, CAST(COUNT(*) AS BIGINT) AS support FROM (
    SELECT a AS src, b AS dst FROM tri1
    UNION ALL SELECT b AS src, c AS dst FROM tri1
    UNION ALL SELECT a AS src, c AS dst FROM tri1
  ) GROUP BY src, dst
)
SELECT s0.src, s0.dst, COALESCE(sup1.support, 0) AS support
FROM s0 LEFT JOIN sup1 USING (src, dst)
WHERE COALESCE(sup1.support, 0) >= 2
""",
)

# q186 twin: exact algebraic regression aggregates per group; the
# Pandas closed form rounds to 6dp, so ROUND here too. Degenerate
# groups match regr_* exactly: n is regr_count (non-null pairs),
# var(x)=0 -> NULLs, var(y)=0 -> r2 = 1.
_oracle(
    "q186_groupwise_ols",
    """
SELECT l_returnflag, l_linestatus,
       CAST(regr_count(l_extendedprice, l_quantity) AS BIGINT) AS n,
       ROUND(regr_slope(l_extendedprice, l_quantity), 6) AS slope,
       ROUND(regr_intercept(l_extendedprice, l_quantity), 6)
         AS intercept,
       ROUND(regr_r2(l_extendedprice, l_quantity), 6) AS r2
FROM lineitem
GROUP BY l_returnflag, l_linestatus
""",
)

# q187 twin: q27's MinHash/LSH band algebra (same coefficients, same
# 60-bit md5 shingle hash) generates the candidate pairs on the %7
# subset's unigram shingles; containment is then computed ONLY for
# candidates, sizes over the FULL shingle sets, the ROUNDED
# containments driving the threshold — exactly the engine's bounded
# verification plan.
_oracle(
    "q187_containment_pairs",
    r"""
WITH docs AS (
  SELECT doc_id, text FROM documents WHERE doc_id % 7 = 0
),
toks AS (
  SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS tok
  FROM docs
),
shingles AS (
  SELECT DISTINCT doc_id, tok AS shingle FROM toks WHERE tok <> ''
),
hashed AS (
  SELECT doc_id,
         CAST(('0x' || substr(md5(shingle), 1, 15)) AS BIGINT) % """
    + str(_P)
    + r""" AS h
  FROM shingles
),
sigs AS (
  SELECT doc_id,
    """
    + _MH_COLS
    + r"""
  FROM hashed GROUP BY doc_id
),
banded AS (
"""
    + _BAND_SIGS
    + r"""
),
cands AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM banded a JOIN banded b
    ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id
),
sizes AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_sh
  FROM shingles GROUP BY doc_id
),
inter AS (
  SELECT c.id_a, c.id_b, CAST(COUNT(*) AS BIGINT) AS n_inter
  FROM cands c
  JOIN shingles a ON a.doc_id = c.id_a
  JOIN shingles b ON b.doc_id = c.id_b AND b.shingle = a.shingle
  GROUP BY c.id_a, c.id_b
)
SELECT id_a, id_b, n_inter,
       sa.n_sh AS n_a, sb.n_sh AS n_b,
       ROUND(CAST(n_inter AS DOUBLE) / sa.n_sh, 6) AS cont_ab,
       ROUND(CAST(n_inter AS DOUBLE) / sb.n_sh, 6) AS cont_ba
FROM inter
JOIN sizes sa ON id_a = sa.doc_id
JOIN sizes sb ON id_b = sb.doc_id
WHERE ROUND(CAST(n_inter AS DOUBLE) / sa.n_sh, 6) >= 0.8
   OR ROUND(CAST(n_inter AS DOUBLE) / sb.n_sh, 6) >= 0.8
""",
)

# q188 twin: q90's recursive clustering CTE + q120's md5 coin on the
# CANONICAL id (test < 0.1, val < 0.2, else train).
_oracle(
    "q188_leakage_safe_split",
    "WITH RECURSIVE pairs AS (\n"
    + _minhash_pair_sql(1, 0.9)
    + """
),
und AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION
  SELECT id_b AS src, id_a AS dst FROM pairs
),
pnodes AS (SELECT DISTINCT src AS node FROM und),
reach(node, label) AS (
  SELECT node, node FROM pnodes
  UNION
  SELECT u.dst, r.label FROM reach r JOIN und u ON r.node = u.src
),
comp AS (SELECT node, MIN(label) AS component FROM reach GROUP BY node),
subset AS (SELECT doc_id FROM documents WHERE doc_id % 5 = 0),
canon AS (
  SELECT s.doc_id, COALESCE(c.component, s.doc_id) AS canonical_id
  FROM subset s LEFT JOIN comp c ON s.doc_id = c.node
)
SELECT doc_id, canonical_id,
       CASE
         WHEN CAST(('0x' || substr(
                md5('split-v1#' || CAST(canonical_id AS VARCHAR)), 1, 15
              )) AS BIGINT) % 1000000 < 100000 THEN 'test'
         WHEN CAST(('0x' || substr(
                md5('split-v1#' || CAST(canonical_id AS VARCHAR)), 1, 15
              )) AS BIGINT) % 1000000 < 200000 THEN 'val'
         ELSE 'train'
       END AS split
FROM canon
""",
)

# q189 twin: q23's quality SQL -> fixed 4-bucket grid -> q109's
# max-feasible-total plan arithmetic -> the md5 coin with salt
# ':quality-mix' on doc_id.
_oracle(
    "q189_quality_stratified_sample",
    r"""
WITH feats AS (
  SELECT doc_id,
         length(text) AS len_chars,
         len(string_split_regex(trim(text), '\s+')) AS n_tokens,
         len(regexp_extract_all(text, '[\.,;:!\?]')) AS n_punct,
         len(regexp_extract_all(lower(text), '\b(?:the|and|of|to|a)\b'))
           AS stop_hits
  FROM documents
),
ratios AS (
  SELECT doc_id,
         n_punct / greatest(len_chars, 1) AS punct_ratio,
         stop_hits / greatest(n_tokens, 1) AS stop_ratio,
         len_chars
  FROM feats
),
q AS (
  SELECT doc_id,
         ROUND(0.4 * least(len_chars / 500.0, 1.0)
               + 0.3 * (1.0 - punct_ratio)
               + 0.3 * least(stop_ratio, 1.0), 9) AS quality
  FROM ratios
),
b AS (
  SELECT doc_id,
         CAST(LEAST(CAST(FLOOR(quality * 4) AS BIGINT), 3) AS VARCHAR)
           AS qb
  FROM q
),
w(qb, wt) AS (
  VALUES ('0', CAST(0.1 AS DOUBLE)), ('1', CAST(0.2 AS DOUBLE)),
         ('2', CAST(0.3 AS DOUBLE)), ('3', CAST(0.4 AS DOUBLE))
),
counts AS (SELECT qb, CAST(COUNT(*) AS BIGINT) AS n FROM b GROUP BY qb),
caps AS (SELECT c.qb, c.n, w.wt FROM counts c JOIN w USING (qb)),
t AS (SELECT MIN(n / wt) AS t FROM caps),
plan AS (
  SELECT qb,
         CAST(FLOOR(
           LEAST(1.0, ROUND(wt * (SELECT t FROM t) / n, 12)) * 1000000
         ) AS BIGINT) AS thresh
  FROM caps
)
SELECT b.doc_id, b.qb
FROM b JOIN plan p USING (qb)
WHERE CAST(('0x' || substr(
        md5(CAST(b.doc_id AS VARCHAR) || ':quality-mix'), 1, 15
      )) AS BIGINT) % 1000000 < p.thresh
""",
)

# q190 twin: epoch-day buckets (NTZ-safe: CAST to DATE then day
# difference), per-day rank with the same (n desc, type asc)
# tie-break.
_oracle(
    "q190_daily_top_events",
    """
WITH counts AS (
  SELECT CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS day,
         event_type, CAST(COUNT(*) AS BIGINT) AS n
  FROM events GROUP BY 1, 2
),
ranked AS (
  SELECT day, event_type, n,
         ROW_NUMBER() OVER (
           PARTITION BY day ORDER BY n DESC, event_type ASC
         ) AS rk
  FROM counts
)
SELECT day, event_type, n, CAST(rk AS INT) AS rk
FROM ranked WHERE rk <= 3
""",
)

# q191 twin: the full PQ pipeline in SQL — seed codebooks per
# subspace (1-based inclusive list slicing), euclidean-argmin
# encoding (list_distance; tie -> smallest cid), per-query
# inner-product tables (list_inner_product), reconstructed-norm
# cosine, per-query top-5.
_oracle(
    "q191_pq_ann",
    """
WITH emb AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
),
subs AS (SELECT unnest(range(0, 4)) AS sub),
seeds AS (
  SELECT (row_number() OVER (ORDER BY vec_id)) - 1 AS cid, v
  FROM emb ORDER BY vec_id LIMIT 16
),
cb AS (
  SELECT s.sub, seeds.cid,
         seeds.v[s.sub * 16 + 1 : s.sub * 16 + 16] AS cvec
  FROM subs s CROSS JOIN seeds
),
slices AS (
  SELECT e.vec_id, s.sub,
         e.v[s.sub * 16 + 1 : s.sub * 16 + 16] AS svec
  FROM emb e CROSS JOIN subs s
),
enc AS (
  SELECT vec_id, sub, cid AS code FROM (
    SELECT sl.vec_id, sl.sub, cb.cid,
           row_number() OVER (
             PARTITION BY sl.vec_id, sl.sub
             ORDER BY list_distance(sl.svec, cb.cvec), cb.cid
           ) AS rn
    FROM slices sl JOIN cb ON sl.sub = cb.sub
  ) t WHERE rn = 1
),
cbn AS (
  SELECT sub, cid AS code, list_inner_product(cvec, cvec) AS c2 FROM cb
),
rnorm AS (
  SELECT vec_id, sqrt(SUM(c2)) AS nb_norm
  FROM enc JOIN cbn USING (sub, code) GROUP BY vec_id
),
q AS (SELECT vec_id, v FROM emb WHERE vec_id % 50 = 0),
qsl AS (
  SELECT qq.vec_id AS query_id, s.sub,
         qq.v[s.sub * 16 + 1 : s.sub * 16 + 16] AS svec
  FROM q qq CROSS JOIN subs s
),
qtab AS (
  SELECT query_id, qsl.sub, cb.cid AS code,
         list_inner_product(qsl.svec, cb.cvec) AS ip
  FROM qsl JOIN cb ON qsl.sub = cb.sub
),
qnorm AS (
  SELECT vec_id AS query_id, sqrt(list_inner_product(v, v)) AS query_norm
  FROM q
),
scored AS (
  SELECT t.query_id, t.nb_id,
         ROUND(t.ip / (qn.query_norm * rn2.nb_norm), 6) AS cos
  FROM (
    SELECT qt.query_id, e.vec_id AS nb_id, SUM(qt.ip) AS ip
    FROM enc e JOIN qtab qt ON e.sub = qt.sub AND e.code = qt.code
    GROUP BY qt.query_id, e.vec_id
  ) t
  JOIN qnorm qn USING (query_id)
  JOIN rnorm rn2 ON t.nb_id = rn2.vec_id
  WHERE t.query_id <> t.nb_id
)
SELECT query_id, nb_id, cos, CAST(rk AS BIGINT) AS rank FROM (
  SELECT query_id, nb_id, cos, row_number() OVER (
    PARTITION BY query_id ORDER BY cos DESC, nb_id ASC
  ) AS rk
  FROM scored
) t WHERE rk <= 5
""",
)

# q192 twin: the same rank-offset pairing over the distinct name
# relation (offsets 1..3, early-exit levenshtein <= 2).
_oracle(
    "q192_sorted_neighborhood",
    """
WITH names AS (
  SELECT DISTINCT p_name AS name FROM part WHERE p_name IS NOT NULL
),
ranked AS (
  SELECT name, row_number() OVER (ORDER BY name) AS rk FROM names
),
pairs AS (
  SELECT a.name AS name_a, b.name AS name_b,
         CAST(levenshtein(a.name, b.name) AS BIGINT) AS dist
  FROM ranked a
  JOIN ranked b ON b.rk - a.rk IN (1, 2, 3)
)
SELECT name_a, name_b, dist FROM pairs WHERE dist <= 2
""",
)

# q193 twin: identical distinct-collapse + self-join + support floor,
# lift base against the distinct user count.
_oracle(
    "q193_event_type_cooccurrence",
    """
WITH ut AS (SELECT DISTINCT user_id, event_type FROM events),
u AS (SELECT CAST(COUNT(DISTINCT user_id) AS DOUBLE) AS users FROM ut)
SELECT a.event_type AS type_a, b.event_type AS type_b,
       CAST(COUNT(*) AS BIGINT) AS support,
       ROUND(COUNT(*) / (SELECT users FROM u), 6) AS lift_base
FROM ut a JOIN ut b
  ON a.user_id = b.user_id AND a.event_type < b.event_type
GROUP BY a.event_type, b.event_type
HAVING COUNT(*) >= 10
""",
)

# q194 twin: the same four corr cells, one per UNION branch (DuckDB
# computes all in one scan too — the twin checks values, the plan
# test checks the one-pass shape Spark-side).
_oracle(
    "q194_corr_matrix",
    """
SELECT 'l_quantity' AS col_a, 'l_extendedprice' AS col_b,
       ROUND(corr(l_quantity, l_extendedprice), 6) AS corr FROM lineitem
UNION ALL
SELECT 'l_quantity', 'l_discount',
       ROUND(corr(l_quantity, l_discount), 6) FROM lineitem
UNION ALL
SELECT 'l_quantity', 'l_tax',
       ROUND(corr(l_quantity, l_tax), 6) FROM lineitem
UNION ALL
SELECT 'l_extendedprice', 'l_discount',
       ROUND(corr(l_extendedprice, l_discount), 6) FROM lineitem
UNION ALL
SELECT 'l_extendedprice', 'l_tax',
       ROUND(corr(l_extendedprice, l_tax), 6) FROM lineitem
UNION ALL
SELECT 'l_discount', 'l_tax',
       ROUND(corr(l_discount, l_tax), 6) FROM lineitem
""",
)

# q195 twin: identical regexp counts ('g' flag) and the public Flesch
# constants.
_oracle(
    "q195_readability",
    r"""
WITH f AS (
  SELECT doc_id,
         len(regexp_extract_all(text, '[A-Za-z]+')) AS words,
         greatest(len(regexp_extract_all(text, '[.!?]+')), 1) AS sents,
         greatest(len(regexp_extract_all(lower(text), '[aeiouy]+')), 1)
           AS sylls
  FROM documents
)
SELECT doc_id,
       CAST(words AS BIGINT) AS n_words,
       CAST(sents AS BIGINT) AS n_sents,
       CAST(sylls AS BIGINT) AS n_sylls,
       ROUND(206.835 - 1.015 * (greatest(words, 1) / sents)
             - 84.6 * (sylls / greatest(words, 1)), 6) AS flesch
FROM f
""",
)

# q196 twin: identical joint-count relation, window marginals, ln.
_oracle(
    "q196_lang_source_mi",
    """
WITH joint AS (
  SELECT lang AS x, source AS y, COUNT(*) AS c FROM documents
  WHERE lang IS NOT NULL AND source IS NOT NULL GROUP BY 1, 2
),
m AS (
  SELECT CAST(c AS DOUBLE) AS c,
         CAST(SUM(c) OVER (PARTITION BY x) AS DOUBLE) AS cx,
         CAST(SUM(c) OVER (PARTITION BY y) AS DOUBLE) AS cy,
         CAST(SUM(c) OVER () AS DOUBLE) AS n
  FROM joint
)
SELECT ROUND(SUM((c / n) * LN((c * n) / (cx * cy))), 6) AS mi_nats,
       CAST(MAX(n) AS BIGINT) AS n_rows,
       CAST(COUNT(*) AS BIGINT) AS n_cells
FROM m
""",
)

# q197 twin: same lag window (total order ts, event_id), same
# type-space row normalization.
_oracle(
    "q197_markov_transitions",
    """
WITH seq AS (
  SELECT event_type AS type_to,
         LAG(event_type) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
         ) AS type_from
  FROM events
),
t AS (
  SELECT type_from, type_to, COUNT(*) AS cnt FROM seq
  WHERE type_from IS NOT NULL GROUP BY 1, 2
)
SELECT type_from, type_to, CAST(cnt AS BIGINT) AS cnt,
       ROUND(CAST(cnt AS DOUBLE)
             / SUM(cnt) OVER (PARTITION BY type_from), 6) AS prob
FROM t
""",
)

# q198 twin: the same six conditional aggregates and
# Welch–Satterthwaite algebra (df at 4dp — it lives in the thousands).
_oracle(
    "q198_welch_ttest",
    """
WITH s AS (
  SELECT COUNT(CASE WHEN event_type = 'click' THEN 1 END) AS n_a,
         COUNT(CASE WHEN event_type = 'purchase' THEN 1 END) AS n_b,
         AVG(CASE WHEN event_type = 'click' THEN value END) AS m_a,
         AVG(CASE WHEN event_type = 'purchase' THEN value END) AS m_b,
         VAR_SAMP(CASE WHEN event_type = 'click' THEN value END) AS v_a,
         VAR_SAMP(CASE WHEN event_type = 'purchase' THEN value END) AS v_b
  FROM events WHERE event_type IN ('click', 'purchase')
)
SELECT CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
       ROUND(m_a, 6) AS mean_a, ROUND(m_b, 6) AS mean_b,
       ROUND((m_a - m_b) / SQRT(v_a / n_a + v_b / n_b), 6) AS t_stat,
       ROUND(POWER(v_a / n_a + v_b / n_b, 2)
             / (POWER(v_a / n_a, 2) / (n_a - 1)
                + POWER(v_b / n_b, 2) / (n_b - 1)), 4) AS df_welch
FROM s
""",
)

# q199 twin: quantile_cont is the same exact interpolated percentile;
# identical Iglewicz–Hoaglin z arithmetic.
_oracle(
    "q199_mad_outliers",
    """
WITH base AS (
  SELECT CAST(o_totalprice AS DOUBLE) AS x FROM orders
  WHERE o_totalprice IS NOT NULL
),
m AS (SELECT quantile_cont(x, 0.5) AS med FROM base),
d AS (
  SELECT quantile_cont(ABS(x - (SELECT med FROM m)), 0.5) AS mad
  FROM base
)
SELECT CAST(COUNT(*) AS BIGINT) AS n,
       ROUND((SELECT med FROM m), 6) AS med,
       ROUND((SELECT mad FROM d), 6) AS mad,
       CAST(SUM(CASE WHEN ABS(0.6745 * (x - (SELECT med FROM m))
                              / (SELECT mad FROM d)) > 3.5
                THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
       ROUND(MAX(ABS(0.6745 * (x - (SELECT med FROM m))
                     / (SELECT mad FROM d))), 6) AS max_abs_z
FROM base
""",
)

# q200 twin: same salted-md5 arm, per-unit collapse, and two-cell χ².
_oracle(
    "q200_ab_assign_srm",
    """
WITH per_unit AS (
  SELECT CAST('0x' || substr(md5('exp1#' || CAST(user_id AS VARCHAR)),
              1, 15) AS BIGINT) % 2 AS arm,
         SUM(CAST(value AS DOUBLE)) AS v
  FROM events GROUP BY user_id
),
arms AS (
  SELECT arm, COUNT(*) AS n_units, ROUND(AVG(v), 6) AS mean_value
  FROM per_unit GROUP BY arm
),
tot AS (SELECT CAST(SUM(n_units) AS DOUBLE) AS t FROM arms)
SELECT CAST(arm AS BIGINT) AS arm,
       CAST(n_units AS BIGINT) AS n_units,
       mean_value,
       ROUND(SUM((n_units - t / 2.0) * (n_units - t / 2.0) / (t / 2.0))
             OVER (), 6) AS srm_chi2
FROM arms, tot
""",
)

# q201 twin: identical md5 bucketing, leave-one-out means, jackknife
# variance, normal-approx CI.
_oracle(
    "q201_jackknife_ci",
    """
WITH per AS (
  SELECT CAST('0x' || substr(md5('jk#' || CAST(event_id AS VARCHAR)),
              1, 15) AS BIGINT) % 50 AS b,
         SUM(CAST(value AS DOUBLE)) AS s, COUNT(*) AS c
  FROM events WHERE value IS NOT NULL GROUP BY 1
),
tot AS (
  SELECT SUM(s) AS ts, CAST(SUM(c) AS DOUBLE) AS tn,
         CAST(COUNT(*) AS DOUBLE) AS nb
  FROM per
),
loo AS (
  SELECT (t.ts - p.s) / (t.tn - p.c) AS m_i,
         t.ts / t.tn AS mean, t.tn AS n, t.nb AS nb
  FROM per p, tot t
),
st AS (
  SELECT AVG(m_i) AS mbar, ANY_VALUE(mean) AS mean,
         ANY_VALUE(n) AS n, ANY_VALUE(nb) AS nb
  FROM loo
),
var_j AS (
  SELECT (s.nb - 1.0) / s.nb
         * SUM((l.m_i - s.mbar) * (l.m_i - s.mbar)) AS vj,
         ANY_VALUE(s.mean) AS mean, ANY_VALUE(s.n) AS n,
         ANY_VALUE(s.nb) AS nb
  FROM loo l, st s GROUP BY s.nb
)
SELECT CAST(n AS BIGINT) AS n,
       ROUND(mean, 6) AS mean,
       ROUND(SQRT(vj), 6) AS se_jack,
       ROUND(mean - 1.96 * SQRT(vj), 6) AS ci_lo,
       ROUND(mean + 1.96 * SQRT(vj), 6) AS ci_hi,
       CAST(nb AS BIGINT) AS n_buckets
FROM var_j
""",
)

# q202 twin: identical joint-count relation, value-relation average
# ranks (cumsum − (cnt−1)/2), exact-mean centering, count-weighted
# moment correlation.
_oracle(
    "q202_spearman_corr",
    """
WITH joint AS (
  SELECT CAST(l_quantity AS DOUBLE) AS x,
         CAST(l_extendedprice AS DOUBLE) AS y, COUNT(*) AS c
  FROM lineitem
  WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL
  GROUP BY 1, 2
),
rx AS (
  SELECT x, SUM(cnt) OVER (ORDER BY x) - (cnt - 1) / 2.0 AS r_x
  FROM (SELECT x, SUM(c) AS cnt FROM joint GROUP BY x)
),
ry AS (
  SELECT y, SUM(cnt) OVER (ORDER BY y) - (cnt - 1) / 2.0 AS r_y
  FROM (SELECT y, SUM(c) AS cnt FROM joint GROUP BY y)
),
cells AS (
  SELECT CAST(j.c AS DOUBLE) AS c,
         rx.r_x, ry.r_y,
         CAST(SUM(j.c) OVER () AS DOUBLE) AS n
  FROM joint j JOIN rx USING (x) JOIN ry USING (y)
)
SELECT ROUND(
         SUM(c * (r_x - (n + 1.0) / 2.0) * (r_y - (n + 1.0) / 2.0))
         / SQRT(SUM(c * (r_x - (n + 1.0) / 2.0)
                      * (r_x - (n + 1.0) / 2.0))
                * SUM(c * (r_y - (n + 1.0) / 2.0)
                        * (r_y - (n + 1.0) / 2.0))), 6
       ) AS rho_spearman,
       CAST(MAX(n) AS BIGINT) AS n_rows
FROM cells
""",
)

# q203 twin: same full marginal-cross expected grid with zero cells.
_oracle(
    "q203_chi2_independence",
    """
WITH base AS (
  SELECT o_orderstatus AS x, o_orderpriority AS y FROM orders
  WHERE o_orderstatus IS NOT NULL AND o_orderpriority IS NOT NULL
),
joint AS (SELECT x, y, COUNT(*) AS c FROM base GROUP BY 1, 2),
mx AS (SELECT x, SUM(c) AS cx FROM joint GROUP BY x),
my AS (SELECT y, SUM(c) AS cy FROM joint GROUP BY y),
grid AS (
  SELECT mx.x, my.y, CAST(COALESCE(j.c, 0) AS DOUBLE) AS c,
         CAST(mx.cx AS DOUBLE) AS cx, CAST(my.cy AS DOUBLE) AS cy
  FROM mx CROSS JOIN my
  LEFT JOIN joint j ON j.x = mx.x AND j.y = my.y
),
t AS (SELECT *, SUM(c) OVER () AS n FROM grid)
SELECT ROUND(SUM((c - cx * cy / n) * (c - cx * cy / n)
              / (cx * cy / n)), 6) AS chi2,
       CAST((COUNT(DISTINCT x) - 1) * (COUNT(DISTINCT y) - 1)
            AS BIGINT) AS dof,
       CAST(MAX(n) AS BIGINT) AS n_rows,
       CAST(COUNT(*) AS BIGINT) AS n_cells
FROM t
""",
)

# q204 twin: digit from the integer part's decimal string (identical
# in every engine), same Benford expectation and χ² window.
_oracle(
    "q204_benford_audit",
    """
WITH obs AS (
  SELECT CAST(substr(CAST(CAST(FLOOR(CAST(o_totalprice AS DOUBLE))
                     AS BIGINT) AS VARCHAR), 1, 1) AS INT) AS digit,
         COUNT(*) AS n_obs
  FROM orders WHERE CAST(o_totalprice AS DOUBLE) >= 1 GROUP BY 1
),
t AS (
  SELECT digit, n_obs, CAST(SUM(n_obs) OVER () AS DOUBLE) AS n
  FROM obs
)
SELECT digit, CAST(n_obs AS BIGINT) AS n_obs,
       ROUND(n_obs / n, 6) AS p_obs,
       ROUND(LOG10(1.0 + 1.0 / digit), 6) AS p_benford,
       ROUND(SUM((n_obs - n * LOG10(1.0 + 1.0 / digit))
                 * (n_obs - n * LOG10(1.0 + 1.0 / digit))
                 / (n * LOG10(1.0 + 1.0 / digit))) OVER (), 6) AS chi2
FROM t
""",
)

# q205 twin: char-weighted group relation, sorted-rank Gini, HHI.
_oracle(
    "q205_source_concentration",
    """
WITH g AS (
  SELECT source, SUM(CAST(n_chars AS DOUBLE)) AS w
  FROM documents GROUP BY source
),
r AS (
  SELECT w, row_number() OVER (ORDER BY w, source NULLS FIRST) AS i
  FROM g
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_groups,
       ROUND(SUM(w * w) / (SUM(w) * SUM(w)), 6) AS hhi,
       ROUND(2.0 * SUM(i * w) / (COUNT(*) * SUM(w))
             - (COUNT(*) + 1.0) / COUNT(*), 6) AS gini,
       ROUND(MAX(w) / SUM(w), 6) AS top_share
FROM r
""",
)

# q206 twin: quasi-identifier group sizes + the same k=5 summary.
_oracle(
    "q206_k_anonymity",
    """
WITH g AS (
  SELECT c_nationkey, c_mktsegment, COUNT(*) AS g
  FROM customer GROUP BY 1, 2
)
SELECT CAST(SUM(g) AS BIGINT) AS n_rows,
       CAST(COUNT(*) AS BIGINT) AS n_groups,
       CAST(MIN(g) AS BIGINT) AS min_group,
       CAST(SUM(CASE WHEN g < 5 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_violating_groups,
       CAST(SUM(CASE WHEN g < 5 THEN g ELSE 0 END) AS BIGINT)
         AS rows_at_risk,
       ROUND(CAST(SUM(CASE WHEN g < 5 THEN g ELSE 0 END) AS DOUBLE)
             / SUM(g), 6) AS frac_at_risk
FROM g
""",
)

# q207 twin: same day relation, grand mean, ordered running CUSUM,
# |S| argmax with day tiebreak.
_oracle(
    "q207_cusum_changepoint",
    """
WITH daily AS (
  SELECT CAST(ts AS DATE) AS day,
         SUM(CAST(value AS DOUBLE)) / COUNT(*) AS m
  FROM events WHERE value IS NOT NULL GROUP BY 1
),
c AS (SELECT day, m, AVG(m) OVER () AS gm FROM daily),
cs AS (
  SELECT day,
         SUM(m - gm) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING) AS cs
  FROM c
),
x AS (
  SELECT day, cs,
         row_number() OVER (ORDER BY ABS(cs) DESC, day ASC) AS rk,
         MAX(ABS(cs)) OVER () AS max_abs_s,
         COUNT(*) OVER () AS n_days
  FROM cs
)
SELECT CAST(day AS VARCHAR) AS cp_day, ROUND(cs, 6) AS s_at_cp,
       ROUND(max_abs_s, 6) AS max_abs_s,
       CAST(n_days AS BIGINT) AS n_days
FROM x WHERE rk = 1
""",
)

# q208 twin: same per-customer RFM relation, anchor-date recency,
# deterministic-tiebreak ntile quintiles, per-segment summary.
_oracle(
    "q208_rfm_segments",
    """
WITH per AS (
  SELECT o_custkey AS cust, MAX(CAST(o_orderdate AS DATE)) AS last_d,
         COUNT(*) AS freq, SUM(CAST(o_totalprice AS DOUBLE)) AS mon
  FROM orders GROUP BY 1
),
a AS (SELECT MAX(last_d) AS maxd FROM per),
s AS (
  SELECT cust, date_diff('day', last_d, (SELECT maxd FROM a)) AS rec,
         freq, mon
  FROM per
),
t AS (
  SELECT rec, freq, mon,
         CAST(ntile(5) OVER (ORDER BY rec DESC, cust) AS VARCHAR)
         || CAST(ntile(5) OVER (ORDER BY freq, cust) AS VARCHAR)
         || CAST(ntile(5) OVER (ORDER BY mon, cust) AS VARCHAR)
           AS segment
  FROM s
)
SELECT segment, CAST(COUNT(*) AS BIGINT) AS n_customers,
       ROUND(AVG(rec), 6) AS avg_recency_days,
       ROUND(AVG(freq), 6) AS avg_frequency,
       ROUND(AVG(mon), 6) AS avg_monetary
FROM t GROUP BY segment
""",
)

# q209 twin: TPC-H Q6, pushed filters + one aggregate.
_oracle(
    "q209_tpch_q6",
    """
SELECT ROUND(SUM(l_extendedprice * l_discount), 2) AS revenue,
       CAST(COUNT(*) AS BIGINT) AS n_items
FROM lineitem
WHERE CAST(l_shipdate AS DATE) >= DATE '1996-01-01'
  AND CAST(l_shipdate AS DATE) < DATE '1997-01-01'
  AND l_discount >= 0.05 AND l_discount <= 0.07
  AND l_quantity < 24
""",
)

# q210 twin: TPC-H Q14 promo-share conditional ratio.
_oracle(
    "q210_tpch_q14",
    """
SELECT ROUND(100.0 * SUM(CASE WHEN p_type = 'PROMO'
                         THEN l_extendedprice * (1.0 - l_discount)
                         ELSE 0.0 END)
             / SUM(l_extendedprice * (1.0 - l_discount)), 6)
         AS promo_share_pct,
       CAST(COUNT(*) AS BIGINT) AS n_items
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE CAST(l_shipdate AS DATE) >= DATE '1997-03-01'
  AND CAST(l_shipdate AS DATE) < DATE '1997-04-01'
""",
)

# q211 twin: TPC-H Q17 (adapted) — per-part average via window over
# the filtered join, same 20% threshold.
_oracle(
    "q211_tpch_q17",
    """
WITH j AS (
  SELECT l.l_quantity, l.l_extendedprice,
         AVG(l.l_quantity) OVER (PARTITION BY p.p_partkey) AS avg_q
  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
  WHERE p.p_brand = 'Brand#9' AND p.p_size < 10
)
SELECT ROUND(SUM(l_extendedprice) / 7.0, 2) AS avg_yearly,
       CAST(COUNT(*) AS BIGINT) AS n_lines
FROM j WHERE l_quantity < 0.2 * avg_q
""",
)

# q212 twin: TPC-H Q19 (adapted) disjunctive brackets on the
# partkey equi-join.
_oracle(
    "q212_tpch_q19",
    """
SELECT ROUND(SUM(l_extendedprice * (1.0 - l_discount)), 2) AS revenue,
       CAST(COUNT(*) AS BIGINT) AS n_lines
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 5
       AND l_quantity BETWEEN 1 AND 11)
   OR (p_brand = 'Brand#13' AND p_size BETWEEN 1 AND 10
       AND l_quantity BETWEEN 10 AND 20)
   OR (p_brand = 'Brand#20' AND p_size BETWEEN 1 AND 15
       AND l_quantity BETWEEN 20 AND 30)
""",
)

# q213 twin: TPC-H Q8 market share, same six-table topology.
_oracle(
    "q213_tpch_q8",
    """
WITH cust_asia AS (
  SELECT c_custkey FROM customer c
  JOIN nation n ON c.c_nationkey = n.n_nationkey
  JOIN region r ON n.n_regionkey = r.r_regionkey
  WHERE r.r_name = 'ASIA'
),
supp AS (
  SELECT s_suppkey, n_name AS supp_nation FROM supplier s
  JOIN nation n ON s.s_nationkey = n.n_nationkey
)
SELECT CAST(year(CAST(o_orderdate AS DATE)) AS INT) AS o_year,
       ROUND(SUM(CASE WHEN supp_nation = 'NATION_7'
                 THEN l_extendedprice * (1.0 - l_discount)
                 ELSE 0.0 END)
             / SUM(l_extendedprice * (1.0 - l_discount)), 6)
         AS mkt_share,
       CAST(COUNT(*) AS BIGINT) AS n_lines
FROM lineitem
JOIN part ON l_partkey = p_partkey AND p_type = 'ECONOMY'
JOIN orders ON l_orderkey = o_orderkey
JOIN cust_asia ON o_custkey = c_custkey
JOIN supp ON l_suppkey = s_suppkey
WHERE CAST(o_orderdate AS DATE) >= DATE '1996-01-01'
  AND CAST(o_orderdate AS DATE) <= DATE '1997-12-31'
GROUP BY 1
""",
)

# q214 twin: TPC-H Q4 (adapted) EXISTS with the same ship-lag
# correlated predicate.
_oracle(
    "q214_tpch_q4",
    """
SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS order_count
FROM orders o
WHERE CAST(o_orderdate AS DATE) >= DATE '1996-07-01'
  AND CAST(o_orderdate AS DATE) < DATE '1996-10-01'
  AND EXISTS (
    SELECT 1 FROM lineitem l
    WHERE l.l_orderkey = o.o_orderkey
      AND CAST(l.l_shipdate AS DATE) > CAST(o.o_orderdate AS DATE) + 60
  )
GROUP BY o_orderpriority
""",
)

# q215 twin: identical per-user (duration, observed) construction
# (hour-bucket span; last event by (ts, event_id) is a purchase),
# then the textbook KM product-limit over distinct event times.
# PRODUCT() OVER handles the d == n final-event case exactly (factor
# 0 → survival 0), matching the engine's -inf log-sum guard.
# The arg_max key FLOORs epoch like q225: DuckDB's CAST(double AS
# BIGINT) ROUNDS sub-second timestamps while Spark's unix_timestamp
# truncates, so two same-truncated-second events with inverted
# event_id order would otherwise flip `observed` between the twins.
_oracle(
    "q215_kaplan_meier",
    """
WITH per AS (
  SELECT user_id,
         MAX(CAST(FLOOR(epoch(ts) / 3600) AS BIGINT))
           - MIN(CAST(FLOOR(epoch(ts) / 3600) AS BIGINT)) AS duration,
         CASE WHEN arg_max(event_type,
                           printf('%012d-%012d',
                                  CAST(FLOOR(epoch(ts)) AS BIGINT),
                                  event_id))
                   = 'purchase'
              THEN 1 ELSE 0 END AS observed
  FROM events GROUP BY user_id
),
d AS (
  SELECT duration AS t,
         CAST(SUM(observed) AS BIGINT) AS n_events,
         CAST(SUM(1 - observed) AS BIGINT) AS n_censored
  FROM per GROUP BY duration
),
r AS (
  SELECT *,
         SUM(n_events + n_censored) OVER ()
           - COALESCE(SUM(n_events + n_censored) OVER (
               ORDER BY t
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS n_risk
  FROM d
)
SELECT CAST(t AS BIGINT) AS t,
       CAST(n_risk AS BIGINT) AS n_risk,
       n_events,
       n_censored,
       ROUND(PRODUCT(CASE WHEN n_events = 0 THEN 1.0
                          ELSE 1.0 - n_events * 1.0 / n_risk END)
             OVER (ORDER BY t
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
             6) AS survival
FROM r
""",
)

_oracle(
    "q216_tpch_q7",
    """
SELECT n1.n_name AS supp_nation,
       n2.n_name AS cust_nation,
       CAST(year(l_shipdate) AS INTEGER) AS l_year,
       ROUND(SUM(l_extendedprice * (1 - l_discount)), 4) AS revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN customer ON o_custkey = c_custkey
JOIN nation n1 ON s_nationkey = n1.n_nationkey
JOIN nation n2 ON c_nationkey = n2.n_nationkey
WHERE l_shipdate BETWEEN '1995-01-01' AND '1996-12-31'
  AND ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
    OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
GROUP BY supp_nation, cust_nation, l_year
ORDER BY supp_nation, cust_nation, l_year
""",
)

_oracle(
    "q217_tpch_q9",
    """
SELECT n_name AS nation,
       CAST(year(o_orderdate) AS INTEGER) AS o_year,
       CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(15,2))
                      * (1 - CAST(l_discount AS DECIMAL(15,2)))
                      * (1 - CAST(l_tax AS DECIMAL(15,2)))), 4) AS DOUBLE)
         AS sum_profit
FROM lineitem
JOIN part     ON l_partkey = p_partkey
JOIN orders   ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation   ON s_nationkey = n_nationkey
WHERE p_type = 'PROMO'
GROUP BY n_name, o_year
ORDER BY n_name, o_year DESC
""",
)

_oracle(
    "q218_tpch_q13",
    """
SELECT c_count, CAST(COUNT(*) AS BIGINT) AS custdist
FROM (
  SELECT c_custkey, CAST(COUNT(o_orderkey) AS BIGINT) AS c_count
  FROM customer LEFT JOIN orders ON c_custkey = o_custkey
  GROUP BY c_custkey
)
GROUP BY c_count
ORDER BY custdist DESC, c_count DESC
""",
)

# q219 twin: identical portable-md5 rank within each (lang, source)
# stratum and the same ceil(0.2 * n) allocation.
_oracle(
    "q219_stratified_sample",
    """
WITH r AS (
  SELECT doc_id, lang, source,
         ROW_NUMBER() OVER (
           PARTITION BY lang, source
           ORDER BY CAST('0x' || substr(
                      md5(CAST(doc_id AS VARCHAR) || ':strat'), 1, 15)
                    AS BIGINT) ASC, doc_id ASC
         ) AS rk,
         COUNT(*) OVER (PARTITION BY lang, source) AS n
  FROM documents
)
SELECT doc_id, lang, source, CAST(rk AS BIGINT) AS rk
FROM r WHERE rk <= CAST(CEIL(0.2 * n) AS BIGINT)
""",
)

# q220 twin: same day-bucket series, same classic ACF estimator
# (global mean, global centered sum of squares as the denominator);
# lag literals LEFT-joined to the pair aggregate so an empty lag
# emits (lag, 0, NULL) exactly like the engine.
_oracle(
    "q220_event_acf",
    """
WITH s AS (
  SELECT CAST(FLOOR(epoch(ts) / 86400) AS BIGINT) AS t,
         CAST(COUNT(*) AS DOUBLE) AS x
  FROM events GROUP BY 1
),
g AS (SELECT AVG(x) AS mu FROM s),
ss AS (SELECT SUM(POW(x - mu, 2)) AS ssv FROM s CROSS JOIN g),
l AS (SELECT UNNEST(range(1, 8)) AS k),
p AS (
  SELECT l.k AS k,
         CAST(COUNT(*) AS BIGINT) AS n_pairs,
         ROUND(SUM((a.x - g.mu) * (b.x - g.mu)) / MAX(ss.ssv), 6) AS acf
  FROM l
  JOIN s a ON TRUE
  JOIN s b ON a.t + l.k = b.t
  CROSS JOIN g CROSS JOIN ss
  GROUP BY l.k
)
SELECT CAST(l.k AS INTEGER) AS "lag",
       COALESCE(p.n_pairs, CAST(0 AS BIGINT)) AS n_pairs,
       p.acf
FROM l LEFT JOIN p ON l.k = p.k
ORDER BY 1
""",
)

# q221 twin: the synthetic pixel formula integrated over
# generate_series — block gray sums, integer-exact mean bits, 16-bit
# bands, then the SEMANTIC pair definition (all pairs with Hamming
# distance <= 3; the engine's banded join is candidate generation
# only, so a plain self-join is the correct twin). Never sees bytes.
_oracle(
    "q221_image_ahash_neardup",
    """
WITH ids AS (
  SELECT doc_id AS media_id, doc_id // 40 AS g, (doc_id // 10) % 4 AS r
  FROM documents WHERE doc_id % 10 = 0
),
px AS (
  SELECT i.media_id,
         xs.x, ys.y,
         CASE WHEN i.r > 0 AND xs.x < 2 * i.r AND ys.y < 6
              THEN ((11*(i.g+1)*(xs.x+1) + 2*ys.y + 7*cs.c) % 256 + 128) % 256
              ELSE  (11*(i.g+1)*(xs.x+1) + 2*ys.y + 7*cs.c) % 256 END AS v
  FROM ids i
  CROSS JOIN (SELECT UNNEST(range(0, 64)) AS x) xs
  CROSS JOIN (SELECT UNNEST(range(0, 48)) AS y) ys
  CROSS JOIN (SELECT UNNEST(range(0, 3)) AS c) cs
),
blk AS (
  SELECT media_id, (y // 6) * 8 + (x // 8) AS b,
         SUM(v) AS bsum, COUNT(*) AS bpix
  FROM px GROUP BY 1, 2
),
tot AS (SELECT media_id, SUM(bsum) AS tsum, SUM(bpix) AS tpix
        FROM blk GROUP BY 1),
bits AS (
  SELECT blk.media_id, b,
         CASE WHEN bsum * tpix > tsum * bpix THEN 1 ELSE 0 END AS bit
  FROM blk JOIN tot USING (media_id)
),
h AS (
  SELECT media_id,
         SUM(CASE WHEN b // 16 = 0 THEN bit * (1 << (b % 16)) ELSE 0 END) AS b0,
         SUM(CASE WHEN b // 16 = 1 THEN bit * (1 << (b % 16)) ELSE 0 END) AS b1,
         SUM(CASE WHEN b // 16 = 2 THEN bit * (1 << (b % 16)) ELSE 0 END) AS b2,
         SUM(CASE WHEN b // 16 = 3 THEN bit * (1 << (b % 16)) ELSE 0 END) AS b3
  FROM bits GROUP BY 1
)
SELECT a.media_id AS id_a, b.media_id AS id_b,
       CAST(bit_count(xor(a.b0, b.b0)) + bit_count(xor(a.b1, b.b1))
          + bit_count(xor(a.b2, b.b2)) + bit_count(xor(a.b3, b.b3))
         AS BIGINT) AS hamming
FROM h a JOIN h b ON a.media_id < b.media_id
WHERE bit_count(xor(a.b0, b.b0)) + bit_count(xor(a.b1, b.b1))
    + bit_count(xor(a.b2, b.b2)) + bit_count(xor(a.b3, b.b3)) <= 3
ORDER BY id_a, id_b
""",
)

# q222 twin: positions via the parallel-unnest zip (token + 1-based
# range over the same split array — filtering '' afterwards keeps the
# original positions, matching posexplode-then-filter), unordered
# window-2 pairs, ln PMI with total-token / total-pair scalars.
_oracle(
    "q222_word_pmi",
    """
WITH raw AS (
  SELECT doc_id,
         unnest(string_split_regex(trim(text), '\\s+')) AS term,
         unnest(range(1, len(string_split_regex(trim(text), '\\s+')) + 1))
           AS pos
  FROM documents
),
tk AS (SELECT * FROM raw WHERE term <> ''),
uni AS (SELECT term, CAST(COUNT(*) AS DOUBLE) AS c FROM tk GROUP BY term),
t AS (SELECT CAST(COUNT(*) AS DOUBLE) AS tt FROM tk),
pr AS (
  SELECT LEAST(a.term, b.term) AS term_a,
         GREATEST(a.term, b.term) AS term_b,
         CAST(COUNT(*) AS BIGINT) AS pair_count
  FROM tk a JOIN tk b
    ON a.doc_id = b.doc_id AND b.pos - a.pos IN (1, 2)
  GROUP BY 1, 2
),
p AS (SELECT CAST(SUM(pair_count) AS DOUBLE) AS pp FROM pr)
SELECT pr.term_a, pr.term_b, pr.pair_count,
       ROUND(LN((pr.pair_count / p.pp)
                / ((ca.c / t.tt) * (cb.c / t.tt))), 6) AS pmi
FROM pr
JOIN uni ca ON pr.term_a = ca.term
JOIN uni cb ON pr.term_b = cb.term
CROSS JOIN t CROSS JOIN p
WHERE pr.pair_count >= 10
ORDER BY pr.term_a, pr.term_b
""",
)

# q223 twin: identical portable-md5 index and sign-bit arithmetic.
_oracle(
    "q223_feature_hash",
    """
WITH kv AS (
  SELECT doc_id,
         unnest(['lang=' || lang, 'source=' || source]) AS kv
  FROM documents
),
e AS (
  SELECT doc_id,
         (CAST('0x' || substr(md5(kv), 1, 15) AS BIGINT) // 2) % 64
           AS feature_index,
         CASE WHEN CAST('0x' || substr(md5(kv), 1, 15) AS BIGINT) % 2 = 0
              THEN 1.0 ELSE -1.0 END AS s
  FROM kv WHERE kv IS NOT NULL
)
SELECT doc_id, feature_index, SUM(s) AS feature_value
FROM e GROUP BY doc_id, feature_index
ORDER BY doc_id, feature_index
""",
)

# q224 twin: midrank = rank + (ties - 1)/2, identical (r - 0.5)/n
# float arithmetic (integer rank plus exact binary halves, so the
# rounded doubles match bit-for-bit).
_oracle(
    "q224_percentile_rank",
    """
WITH c AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM lineitem)
SELECT l_orderkey, l_linenumber,
       ROUND((RANK() OVER (ORDER BY l_extendedprice)
              + (COUNT(*) OVER (PARTITION BY l_extendedprice) - 1) / 2.0
              - 0.5) / (SELECT n FROM c), 6) AS pct_rank
FROM lineitem
""",
)

# q225 twin: same per-stage conditional-min chain (strictly-after
# joins) on FLOORED epoch seconds (Spark's unix_timestamp truncates
# sub-second parts; DuckDB's epoch keeps them and CAST rounds), LEFT-
# extended so NULLs propagate from the first missed stage.
_oracle(
    "q225_funnel_times",
    """
WITH s0 AS (
  SELECT user_id, CAST(MIN(FLOOR(epoch(ts))) AS BIGINT) AS t_0
  FROM events WHERE event_type = 'view' GROUP BY user_id
),
s1 AS (
  SELECT e.user_id, CAST(MIN(FLOOR(epoch(e.ts))) AS BIGINT) AS t_1
  FROM events e JOIN s0 ON e.user_id = s0.user_id
  WHERE e.event_type = 'click' AND FLOOR(epoch(e.ts)) > s0.t_0
  GROUP BY e.user_id
),
s2 AS (
  SELECT e.user_id, CAST(MIN(FLOOR(epoch(e.ts))) AS BIGINT) AS t_2
  FROM events e JOIN s1 ON e.user_id = s1.user_id
  WHERE e.event_type = 'purchase' AND FLOOR(epoch(e.ts)) > s1.t_1
  GROUP BY e.user_id
)
SELECT s0.user_id, s0.t_0, s1.t_1, s2.t_2
FROM s0
LEFT JOIN s1 ON s0.user_id = s1.user_id
LEFT JOIN s2 ON s0.user_id = s2.user_id
ORDER BY s0.user_id
""",
)

# q226 twin: same per-user pre/post construction, sample covariance /
# variance aggregates, identical rho^2 algebra.
_oracle(
    "q226_cuped",
    """
WITH per AS (
  SELECT user_id,
         COALESCE(SUM(CASE WHEN event_type = 'click'
                           THEN CAST(value AS DOUBLE) END), 0.0) AS pre,
         COALESCE(SUM(CASE WHEN event_type = 'purchase'
                           THEN CAST(value AS DOUBLE) END), 0.0) AS post
  FROM events GROUP BY user_id
),
s AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_units,
         covar_samp(pre, post) AS cxy,
         var_samp(pre) AS vx,
         var_samp(post) AS vy
  FROM per
)
SELECT n_units,
       ROUND(cxy / vx, 6) AS theta,
       ROUND(vy, 4) AS var_y,
       ROUND(vy * (1.0 - (cxy * cxy) / (vx * vy)), 4) AS var_adj,
       ROUND(100.0 * (cxy * cxy) / (vx * vy), 6) AS var_reduction_pct
FROM s
""",
)

# q227 twin: same 'exp1' salted-md5 arm coin, same pooled-z algebra.
_oracle(
    "q227_ab_ztest",
    """
WITH per AS (
  SELECT user_id,
         CAST('0x' || substr(md5('exp1#' || CAST(user_id AS VARCHAR)),
              1, 15) AS BIGINT) % 2 AS arm,
         CASE WHEN SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                   >= 14 THEN 1 ELSE 0 END AS ok
  FROM events GROUP BY user_id
),
c AS (
  SELECT CAST(COUNT(*) FILTER (arm = 0) AS BIGINT) AS n_0,
         CAST(COUNT(*) FILTER (arm = 1) AS BIGINT) AS n_1,
         CAST(SUM(ok) FILTER (arm = 0) AS DOUBLE) AS s_0,
         CAST(SUM(ok) FILTER (arm = 1) AS DOUBLE) AS s_1
  FROM per
)
SELECT n_0, n_1,
       ROUND(s_0 / n_0, 6) AS p_0,
       ROUND(s_1 / n_1, 6) AS p_1,
       ROUND((s_0 / n_0 - s_1 / n_1)
             / SQRT(((s_0 + s_1) / (n_0 + n_1))
                    * (1.0 - (s_0 + s_1) / (n_0 + n_1))
                    * (1.0 / n_0 + 1.0 / n_1)), 6) AS z_stat
FROM c
""",
)

# q228 twin: identical A-ES key ln(u)/w with the same md5 coin
# u = (h % 1e6 + 1) / (1e6 + 1), same (key DESC, doc_id ASC) top-3.
_oracle(
    "q228_weighted_sample",
    """
WITH d AS (
  SELECT doc_id, lang, LENGTH(text) AS w,
         LN((CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':eswor'),
                  1, 15) AS BIGINT) % 1000000 + 1) / 1000001.0)
           / LENGTH(text) AS k
  FROM documents WHERE LENGTH(text) > 0
),
r AS (
  SELECT lang, doc_id, w,
         ROW_NUMBER() OVER (PARTITION BY lang
                            ORDER BY k DESC, doc_id ASC) AS rk
  FROM d
)
SELECT lang, CAST(rk AS BIGINT) AS rk, doc_id, CAST(w AS INTEGER) AS w
FROM r WHERE rk <= 3
""",
)

# q229 twin: same day series, same centered width-7 MA (full-window
# only), same centered phase means — the MA and running aggregates
# evaluate in day order on both engines, so rounded values match.
_oracle(
    "q229_seasonal_decompose",
    """
WITH s AS (
  SELECT CAST(FLOOR(epoch(ts) / 86400) AS BIGINT) AS t,
         CAST(COUNT(*) AS DOUBLE) AS x
  FROM events GROUP BY 1
),
tr AS (
  SELECT t, x,
         CASE WHEN COUNT(x) OVER w = 7 THEN AVG(x) OVER w END AS trend
  FROM s
  WINDOW w AS (ORDER BY t ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
),
ph AS (
  SELECT t % 7 AS phase, AVG(x - trend) AS raw
  FROM tr WHERE trend IS NOT NULL GROUP BY 1
),
phc AS (
  SELECT phase, raw - (SELECT AVG(raw) FROM ph) AS seas FROM ph
)
SELECT tr.t, tr.x,
       ROUND(tr.trend, 6) AS trend,
       ROUND(phc.seas, 6) AS seasonal,
       ROUND(tr.x - tr.trend - phc.seas, 6) AS resid
FROM tr LEFT JOIN phc ON tr.t % 7 = phc.phase
ORDER BY tr.t
""",
)

# q230 twin: the same min-shift, then the closed rank formula
# gini = 2*SUM(i*x)/(n*SUM(x)) - (n+1)/n over the ascending sort —
# tie order cannot change SUM(i*x) (equal values share a fixed
# position set), so row_number's arbitrary tie-break is safe.
_oracle(
    "q230_groupwise_gini",
    """
WITH shifted AS (
  SELECT c_nationkey,
         c_acctbal - MIN(c_acctbal) OVER (PARTITION BY c_nationkey) AS bal
  FROM customer
),
ranked AS (
  SELECT c_nationkey, bal,
         ROW_NUMBER() OVER (PARTITION BY c_nationkey ORDER BY bal) AS i
  FROM shifted WHERE bal IS NOT NULL
),
g AS (
  SELECT c_nationkey,
         CAST(COUNT(*) AS BIGINT) AS n_values,
         CASE WHEN SUM(bal) = 0 THEN NULL
              ELSE ROUND(2.0 * SUM(i * bal) / (COUNT(*) * SUM(bal))
                         - (COUNT(*) + 1.0) / COUNT(*), 6) END AS gini
  FROM ranked GROUP BY c_nationkey
)
SELECT n.n_name AS nation, g.n_values, g.gini
FROM g JOIN nation n ON g.c_nationkey = n.n_nationkey
ORDER BY nation
""",
)

# q232 twin: same day series, same lag-7 forecast, same last-7-days
# evaluation cut and MAE/sMAPE arithmetic.
_oracle(
    "q232_seasonal_naive_backtest",
    """
WITH s AS (
  SELECT CAST(FLOOR(epoch(ts) / 86400) AS BIGINT) AS t,
         CAST(COUNT(*) AS DOUBLE) AS x
  FROM events GROUP BY 1
),
l AS (
  SELECT t, x, LAG(x, 7) OVER (ORDER BY t) AS xhat FROM s
),
mx AS (SELECT MAX(t) AS m FROM s)
SELECT CAST(COUNT(*) AS BIGINT) AS n_eval,
       ROUND(AVG(ABS(x - xhat)), 6) AS mae,
       ROUND(AVG(2.0 * ABS(x - xhat) / (ABS(x) + ABS(xhat))), 6) AS smape
FROM l CROSS JOIN mx
WHERE l.t > mx.m - 7 AND xhat IS NOT NULL
""",
)

# q233 twin: same midrank pseudo-probability (rank + (ties-1)/2 - 0.5
# over n, the q224 arithmetic), same clamp/bin/ECE algebra.
_oracle(
    "q233_calibration_report",
    """
WITH c AS (SELECT CAST(COUNT(*) AS DOUBLE) AS nn FROM documents),
pr AS (
  SELECT CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y,
         ROUND((RANK() OVER (ORDER BY n_chars)
                + (COUNT(*) OVER (PARTITION BY n_chars) - 1) / 2.0
                - 0.5) / (SELECT nn FROM c), 6) AS p
  FROM documents
),
b AS (
  SELECT CAST(LEAST(9, FLOOR(GREATEST(0.0, LEAST(1.0, p)) * 10))
              AS BIGINT) AS bin,
         CAST(COUNT(*) AS BIGINT) AS n,
         AVG(GREATEST(0.0, LEAST(1.0, p))) AS ap,
         AVG(CAST(y AS DOUBLE)) AS fp
  FROM pr GROUP BY 1
),
t AS (SELECT SUM(n * ABS(ap - fp)) / SUM(n) AS ece FROM b)
SELECT bin, n,
       ROUND(ap, 6) AS avg_prob,
       ROUND(fp, 6) AS frac_pos,
       ROUND(ABS(ap - fp), 6) AS abs_gap,
       ROUND(t.ece, 6) AS ece
FROM b CROSS JOIN t
ORDER BY bin
""",
)

# q234 twin: q36/q73's seeded-IVF SQL algebra at a third
# parameterization (n_probe=3, query mod 40) — the persisted-index
# lifecycle must return exactly what the in-memory derivation returns,
# so the same SQL certifies the write→read path end to end.
_oracle(
    "q234_ivf_index_lifecycle",
    _IVF_SEEDED_SQL.format(n_probe=3, query_mod=40),
)

# q235 twin: integrates the q114 pixel formula over generate_series
# and block-averages 4x4 source blocks in SQL — never sees the PPM
# bytes. Block means are sums of 16 ints over 16: at most 4 decimal
# digits, so ROUND at 6dp is tie-free and exact on both engines.
_oracle(
    "q235_image_resize",
    """
WITH ids AS (
  SELECT doc_id AS media_id FROM documents WHERE doc_id % 10 = 0
),
px AS (
  SELECT i.media_id, xs.x, ys.y, cs.c,
         (7 * i.media_id + 3 * xs.x + 5 * ys.y + 11 * cs.c) % 256 AS v
  FROM ids i
  CROSS JOIN (SELECT UNNEST(range(0, 64)) AS x) xs
  CROSS JOIN (SELECT UNNEST(range(0, 48)) AS y) ys
  CROSS JOIN (SELECT UNNEST(range(0, 3)) AS c) cs
),
blk AS (
  SELECT media_id, y // 4 AS yo, x // 4 AS xo, c,
         AVG(CAST(v AS DOUBLE)) AS m
  FROM px GROUP BY media_id, yo, xo, c
)
SELECT media_id,
       'ppm' AS format,
       CAST(yo AS INTEGER) AS y,
       CAST(xo AS INTEGER) AS x,
       ROUND(MAX(CASE WHEN c = 0 THEN m END), 6) AS r,
       ROUND(MAX(CASE WHEN c = 1 THEN m END), 6) AS g,
       ROUND(MAX(CASE WHEN c = 2 THEN m END), 6) AS b
FROM blk GROUP BY media_id, yo, xo
""",
)


# q236 twin: the synthesized MP4's every field is a closed form of the
# id, so the oracle never sees bytes — a hash match proves the box walk
# (ftyp brand, mvhd duration/timescale, trak/hdlr classification, video
# tkhd 16.16 size) lands on the right offsets. duration is k/1000 with
# k integer: both engines' doubles are the correctly-rounded quotient.
_oracle(
    "q236_mp4_container_meta",
    """
WITH ids AS (
  SELECT doc_id AS media_id FROM documents WHERE doc_id % 10 = 0
)
SELECT media_id,
       'mp4' AS format,
       'isom' AS brand,
       (1000 + 37 * (media_id % 1000)) / 1000.0 AS duration_s,
       CAST(1 + media_id % 3 AS INTEGER) AS n_tracks,
       CAST(CASE WHEN media_id % 4 = 1 THEN 0 ELSE 1 END
            AS INTEGER) AS n_video,
       CAST(CASE WHEN media_id % 4 = 1 THEN 1 + media_id % 3
                 ELSE media_id % 3 END AS INTEGER) AS n_audio,
       CAST(CASE WHEN media_id % 4 = 1 THEN NULL
                 ELSE 320 + 16 * (media_id % 8) END AS INTEGER) AS width,
       CAST(CASE WHEN media_id % 4 = 1 THEN NULL
                 ELSE 240 + 16 * (media_id % 5) END AS INTEGER) AS height
FROM ids
""",
)

# q237 twin: bitrate/samplerate table lookups + the Layer III frame
# arithmetic in SQL. duration applies the engine's shared half-up-at-
# 6dp convention with the identical IEEE op order (mul, div, mul 1e6,
# +0.5, floor, div 1e6), so the doubles match bit-for-bit.
_oracle(
    "q237_mp3_frame_walk",
    """
WITH ids AS (
  SELECT doc_id AS media_id FROM documents WHERE doc_id % 10 = 0
),
m AS (
  SELECT media_id,
         ([32,40,48,56,64,80,96,112,128,160,192,224,256,320])
           [1 + media_id % 14] AS kbps,
         ([44100,48000,32000])[1 + media_id % 3] AS sr,
         20 + media_id % 30 AS n
  FROM ids
)
SELECT media_id,
       'mp3' AS format,
       'MPEG1' AS version,
       CAST(3 AS INTEGER) AS layer,
       CAST(kbps AS INTEGER) AS bitrate_kbps,
       CAST(sr AS INTEGER) AS sample_rate,
       CAST(n AS INTEGER) AS n_frames,
       FLOOR((n * 1152.0 / sr) * 1000000 + 0.5) / 1000000 AS duration_s
FROM m
""",
)


# q238 twin: q35's gap-session algebra (boundary at diff > 1800 —
# exactly the native operator's inclusive-window-end merge rule,
# verified by the exactly-gap-distance pytest) aggregated to the
# session_window output shape (user, session_start, n_events,
# sum_value).
_oracle(
    "q238_session_window_native",
    """
WITH e AS (
  SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS ep, value FROM events
),
marked AS (
  SELECT user_id, ep, value,
         CASE WHEN ep - lag(ep) OVER (PARTITION BY user_id ORDER BY ep)
                   > 1800
              THEN 1 ELSE 0 END AS boundary
  FROM e
),
numbered AS (
  SELECT user_id, ep, value,
         SUM(boundary) OVER (
           PARTITION BY user_id ORDER BY ep
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
         ) AS session_idx
  FROM marked
)
SELECT user_id,
       MIN(ep) AS session_start,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       ROUND(SUM(value), 2) AS sum_value
FROM numbered
GROUP BY user_id, session_idx
""",
)


# q239 twin: the evolved v1 snapshot as NOT-EXISTS kept base rows
# (priority NULL — the schema-evolution widening) UNION ALL the delta;
# v0_rows/v0_cols pin the time-traveled pre-evolution read (3 columns).
_oracle(
    "q239_merge_schema_evolution",
    """
WITH base AS (
  SELECT o_orderkey, o_orderstatus, ROUND(o_totalprice, 2) AS tp
  FROM orders WHERE o_orderkey % 4 = 0
),
delta AS (
  SELECT o_orderkey, o_orderstatus, ROUND(ROUND(o_totalprice, 2) * 2, 2)
           AS tp, o_orderpriority
  FROM orders WHERE o_orderkey % 8 = 0
  UNION ALL
  SELECT o_orderkey, o_orderstatus, ROUND(o_totalprice, 2) AS tp,
         o_orderpriority
  FROM orders WHERE o_orderkey % 4 = 1
),
merged AS (
  SELECT b.o_orderkey, b.o_orderstatus, b.tp,
         CAST(NULL AS VARCHAR) AS o_orderpriority
  FROM base b
  WHERE NOT EXISTS (SELECT 1 FROM delta d
                    WHERE d.o_orderkey = b.o_orderkey)
  UNION ALL
  SELECT * FROM delta
)
SELECT o_orderkey, o_orderstatus, tp, o_orderpriority,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM base) AS v0_rows,
       CAST(3 AS BIGINT) AS v0_cols,
       CAST(1 AS BIGINT) AS version
FROM merged
""",
)


# q240 twin: the single-window global form of the shuffle — row_number
# over (portable hash, id). A hash match proves the distributed
# two-level prefix-sum rank (hash-slice blocks + broadcast offsets)
# computes exactly the global sort's positions.
_oracle(
    "q240_training_order",
    """
WITH d AS (
  SELECT doc_id,
         CAST('0x' || substr(md5(doc_id || ':7'), 1, 15) AS BIGINT) AS h
  FROM documents
)
SELECT doc_id,
       CAST(row_number() OVER (ORDER BY h, doc_id) - 1 AS BIGINT)
         AS position
FROM d
""",
)


# q241 twin: the two-window global form — per-source seeded-hash
# row_number, integer interleave key r·(6//parts), global row_number
# over (key, source, id). lcm(1,2,3)=6, so strides are exact integers
# in both engines; a hash match proves the distributed two-level
# construction equals the global sort.
_oracle(
    "q241_mixture_order",
    """
WITH d AS (
  SELECT doc_id, source,
         CAST('0x' || substr(md5(doc_id || ':5'), 1, 15) AS BIGINT) AS h,
         6 // (1 + CAST(substr(source, 4) AS INT) % 3) AS stride
  FROM documents
),
r AS (
  SELECT doc_id, source,
         row_number() OVER (PARTITION BY source ORDER BY h, doc_id)
           * stride AS k
  FROM d
)
SELECT doc_id, source,
       CAST(row_number() OVER (ORDER BY k, source, doc_id) - 1 AS BIGINT)
         AS position
FROM r
""",
)


# q242 twin: closed-form integration of the paletted GIF fixture —
# pixel (x,y) takes palette index v = (7·id + 3x + 5y) % 256 and the
# palette maps v → (v, (2v+11)%256, (3v+22)%256). The payload side is
# a genuine LZW-compressed GIF89a, so the hash match proves the
# decoder's header walk + LZW + palette mapping, byte-free (the q114
# pattern; thumb pixels sit at (x,y) ∈ {0,32}×{0,24}).
_oracle(
    "q242_gif_decode",
    r"""
WITH ids AS (
  SELECT doc_id AS media_id FROM documents WHERE doc_id % 10 = 0
),
xs AS (SELECT unnest(generate_series(0, 63)) AS x),
ys AS (SELECT unnest(generate_series(0, 47)) AS y),
px AS (
  SELECT i.media_id,
         AVG((7 * i.media_id + 3 * x.x + 5 * y.y) % 256) AS mr,
         AVG((2 * ((7 * i.media_id + 3 * x.x + 5 * y.y) % 256) + 11)
             % 256) AS mg,
         AVG((3 * ((7 * i.media_id + 3 * x.x + 5 * y.y) % 256) + 22)
             % 256) AS mb
  FROM ids i CROSS JOIN xs x CROSS JOIN ys y
  GROUP BY i.media_id
)
SELECT i.media_id,
       'gif' AS format,
       CAST(64 AS INT) AS width,
       CAST(48 AS INT) AS height,
       ROUND(p.mr, 6) AS mean_r,
       ROUND(p.mg, 6) AS mean_g,
       ROUND(p.mb, 6) AS mean_b,
       ROUND(((7 * i.media_id) % 256
              + (2 * ((7 * i.media_id) % 256) + 11) % 256
              + (3 * ((7 * i.media_id) % 256) + 22) % 256) / 3.0, 6)
         AS t00,
       ROUND(((7 * i.media_id + 96) % 256
              + (2 * ((7 * i.media_id + 96) % 256) + 11) % 256
              + (3 * ((7 * i.media_id + 96) % 256) + 22) % 256) / 3.0, 6)
         AS t01,
       ROUND(((7 * i.media_id + 120) % 256
              + (2 * ((7 * i.media_id + 120) % 256) + 11) % 256
              + (3 * ((7 * i.media_id + 120) % 256) + 22) % 256) / 3.0, 6)
         AS t10,
       ROUND(((7 * i.media_id + 216) % 256
              + (2 * ((7 * i.media_id + 216) % 256) + 11) % 256
              + (3 * ((7 * i.media_id + 216) % 256) + 22) % 256) / 3.0, 6)
         AS t11
FROM ids i JOIN px p USING (media_id)
""",
)


# q243 twin: the sampled-Brandes levels UNROLLED as chained CTEs —
# generated by the loop below so both phases mirror the Spark loop
# round for round. Forward: f{k} discovers level-k nodes with sigma =
# SUM over level-(k-1) frontier in-neighbors (first discovery IS the
# min distance); r{k} accumulates the reached set. Backward: del{d}
# is the dependency of level-d nodes, SUM over shortest-path-DAG
# out-edges (landing exactly one level deeper) of
# sigma_v/sigma_w * (1 + delta_w). Final: pivot sum excluding the
# pivot itself, scaled by |V|/|pivots| (Brandes–Pich).
def _betweenness_oracle_sql(max_hops: int = 12) -> str:
    parts = [
        """
WITH e AS MATERIALIZED (
  SELECT DISTINCT CAST(l_orderkey % 256 AS BIGINT) AS src,
         CAST(l_partkey % 256 AS BIGINT) AS dst
  FROM lineitem WHERE l_linenumber = 1 AND l_orderkey % 4 = 0
),
snodes AS MATERIALIZED (
  SELECT DISTINCT node FROM (
    SELECT src AS node FROM e UNION ALL SELECT dst AS node FROM e
  )
),
f0 AS MATERIALIZED (
  SELECT node AS seed, node, 0 AS dist, CAST(1 AS DOUBLE) AS sigma
  FROM snodes WHERE node % 32 = 0
),
r0 AS MATERIALIZED (SELECT * FROM f0)"""
    ]
    for k in range(1, max_hops + 1):
        parts.append(f""",
f{k} AS MATERIALIZED (
  SELECT f.seed, e.dst AS node, {k} AS dist, SUM(f.sigma) AS sigma
  FROM f{k - 1} f JOIN e ON e.src = f.node
  WHERE NOT EXISTS (
    SELECT 1 FROM r{k - 1} r WHERE r.seed = f.seed AND r.node = e.dst
  )
  GROUP BY f.seed, e.dst
),
r{k} AS MATERIALIZED (SELECT * FROM r{k - 1} UNION ALL SELECT * FROM f{k})""")
    parts.append(f""",
rch AS MATERIALIZED (SELECT * FROM r{max_hops}),
del{max_hops} AS MATERIALIZED (
  SELECT seed, node, CAST(0 AS DOUBLE) AS delta FROM rch WHERE FALSE
)""")
    for d in range(max_hops, 0, -1):
        parts.append(f""",
del{d - 1} AS MATERIALIZED (
  SELECT v.seed, v.node,
         SUM(v.sigma / w.sigma * (1 + COALESCE(dw.delta, 0))) AS delta
  FROM rch v
  JOIN e ON e.src = v.node
  JOIN rch w ON w.seed = v.seed AND w.node = e.dst AND w.dist = {d}
  LEFT JOIN del{d} dw ON dw.seed = w.seed AND dw.node = w.node
  WHERE v.dist = {d - 1}
  GROUP BY v.seed, v.node
)""")
    union = "\n  UNION ALL ".join(
        f"SELECT * FROM del{d}" for d in range(max_hops)
    )
    parts.append(f""",
alldelta AS MATERIALIZED (
  {union}
),
scale AS (
  SELECT (SELECT CAST(COUNT(*) AS DOUBLE) FROM snodes)
       / (SELECT COUNT(*) FROM f0) AS factor
)
SELECT node, betweenness FROM (
  SELECT a.node,
         ROUND(SUM(a.delta) * s.factor, 6) AS betweenness
  FROM alldelta a CROSS JOIN scale s
  WHERE a.node <> a.seed
  GROUP BY a.node, s.factor
) WHERE betweenness > 0
""")
    return "".join(parts)


_oracle("q243_betweenness_centrality", _betweenness_oracle_sql(12))


# q244 twin: the identical adversarial corpus (q108's PII augmentation
# on doc_id%3, 30-char truncation on doc_id%7, id+1000000 duplicates
# on doc_id%5), then the four stage relations unpivoted: scrub counts
# from the original text (q108 pattern), Gopher features on the
# SCRUBBED text (q113 pattern), the dedup winner as a conditional MIN
# window over md5(text) among gate-passers, and q120's md5 split coin
# at 0.9/0.05/0.05.
_oracle(
    "q244_curation_provenance",
    r"""
WITH aug AS (
  SELECT doc_id,
         (CASE WHEN doc_id % 7 = 0 THEN substr(text, 1, 30)
               ELSE text END)
         || (CASE WHEN doc_id % 3 = 0 THEN
               ' contact u' || CAST(doc_id AS VARCHAR)
               || '@ex' || CAST(doc_id % 7 AS VARCHAR)
               || '.com or +1 555-'
               || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || '-'
               || lpad(CAST((doc_id * 7) % 10000 AS VARCHAR), 4, '0')
             ELSE '' END)
           AS text
  FROM documents
),
corpus AS (
  SELECT doc_id, text FROM aug
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id, text FROM aug WHERE doc_id % 5 = 0
),
scrub AS (
  SELECT doc_id,
         CAST(len(regexp_extract_all(
           text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'
         )) AS INT) AS n_emails,
         CAST(len(regexp_extract_all(
           text, '\+?[0-9][0-9 ()./-]{6,}[0-9]'
         )) AS INT) AS n_phones,
         regexp_replace(
           regexp_replace(
             text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
             '<EMAIL>', 'g'
           ),
           '\+?[0-9][0-9 ()./-]{6,}[0-9]', '<PHONE>', 'g'
         ) AS text
  FROM corpus
),
feats AS (
  SELECT doc_id, n_emails, n_phones, text,
         len(regexp_extract_all(text, '[A-Za-z]+')) AS n_words,
         ROUND(
           COALESCE(list_sum(list_transform(
             regexp_extract_all(text, '[A-Za-z]+'), w -> length(w))), 0)
           / GREATEST(len(regexp_extract_all(text, '[A-Za-z]+')), 1), 9
         ) AS mean_word_len,
         ROUND(
           len(regexp_extract_all(text, '[#*]|\.\.\.'))
           / GREATEST(len(regexp_extract_all(text, '[A-Za-z]+')), 1), 9
         ) AS symbol_word_ratio,
         ROUND(
           (len(string_split(text, chr(10)))
            - len(list_distinct(string_split(text, chr(10)))))
           / GREATEST(len(string_split(text, chr(10))), 1), 9
         ) AS dup_line_frac
  FROM scrub
),
sp AS MATERIALIZED (
  SELECT *,
         MIN(CASE WHEN passes THEN doc_id END)
           OVER (PARTITION BY md5(text)) AS winner,
         CASE
           WHEN coin < 900000 THEN 'train'
           WHEN coin < 950000 THEN 'val'
           ELSE 'test'
         END AS split
  FROM (
    SELECT *,
           (n_words >= 50 AND n_words <= 100000
            AND mean_word_len >= 3.0 AND mean_word_len <= 10.0
            AND symbol_word_ratio <= 0.1
            AND dup_line_frac <= 0.3) AS passes,
           CAST(('0x' || substr(
             md5(CAST(doc_id AS VARCHAR) || ':split'), 1, 15
           )) AS BIGINT) % 1000000 AS coin
    FROM feats
  )
)
SELECT doc_id, 'scrub' AS stage,
       CASE WHEN n_emails + n_phones > 0 THEN 'redacted'
            ELSE 'clean' END AS verdict,
       CASE WHEN n_emails + n_phones > 0 THEN
         'emails=' || CAST(n_emails AS VARCHAR)
         || ',phones=' || CAST(n_phones AS VARCHAR) END AS reason
FROM sp
UNION ALL
SELECT doc_id, 'gate',
       CASE WHEN passes THEN 'pass' ELSE 'drop' END,
       CASE WHEN n_words < 50 THEN 'too_few_words'
            WHEN n_words > 100000 THEN 'too_many_words'
            WHEN mean_word_len < 3.0 THEN 'word_len_low'
            WHEN mean_word_len > 10.0 THEN 'word_len_high'
            WHEN symbol_word_ratio > 0.1 THEN 'symbol_ratio'
            WHEN dup_line_frac > 0.3 THEN 'dup_lines' END
FROM sp
UNION ALL
SELECT doc_id, 'exact_dedup',
       CASE WHEN doc_id = winner THEN 'keep' ELSE 'drop' END,
       CASE WHEN doc_id <> winner THEN
         'duplicate_of=' || CAST(winner AS VARCHAR) END
FROM sp WHERE passes
UNION ALL
SELECT doc_id, 'split', split, NULL
FROM sp WHERE passes AND doc_id = winner
""",
)


# q245 twin: closed-form integration of the q114 pixel formula — the
# payload side is a genuine multi-strip TIFF (compression and byte
# order varying per id, predictor-2 LZW on id%3==2... see the query
# docstring), so the hash match proves the full decoder matrix against
# an independent computation. Identical integrals to q114's twin, with
# format='tiff'.
_oracle(
    "q245_tiff_decode",
    r"""
WITH ids AS (
  SELECT doc_id AS media_id FROM documents WHERE doc_id % 10 = 0
),
xs AS (SELECT unnest(generate_series(0, 63)) AS x),
ys AS (SELECT unnest(generate_series(0, 47)) AS y),
px AS (
  SELECT i.media_id,
         AVG((7 * i.media_id + 3 * x.x + 5 * y.y) % 256) AS mr,
         AVG((7 * i.media_id + 3 * x.x + 5 * y.y + 11) % 256) AS mg,
         AVG((7 * i.media_id + 3 * x.x + 5 * y.y + 22) % 256) AS mb
  FROM ids i CROSS JOIN xs x CROSS JOIN ys y
  GROUP BY i.media_id
)
SELECT i.media_id,
       'tiff' AS format,
       CAST(64 AS INT) AS width,
       CAST(48 AS INT) AS height,
       ROUND(p.mr, 6) AS mean_r,
       ROUND(p.mg, 6) AS mean_g,
       ROUND(p.mb, 6) AS mean_b,
       ROUND(((7 * i.media_id) % 256 + (7 * i.media_id + 11) % 256
              + (7 * i.media_id + 22) % 256) / 3.0, 6) AS t00,
       ROUND(((7 * i.media_id + 96) % 256 + (7 * i.media_id + 107) % 256
              + (7 * i.media_id + 118) % 256) / 3.0, 6) AS t01,
       ROUND(((7 * i.media_id + 120) % 256 + (7 * i.media_id + 131) % 256
              + (7 * i.media_id + 142) % 256) / 3.0, 6) AS t10,
       ROUND(((7 * i.media_id + 216) % 256 + (7 * i.media_id + 227) % 256
              + (7 * i.media_id + 238) % 256) / 3.0, 6) AS t11
FROM ids i JOIN px p USING (media_id)
""",
)


# q246 twin: q171's BM25 pipeline (rk <= 50) + q28's exact-cosine
# ranking for the vec_id-0 query (rank <= 50), fused with
# score = SUM 1/(60 + rk) rounded 6dp, rounded score ranking the
# fused top-20 with id-asc ties — the RRF constant k=60 from the
# Cormack et al. paper.
_oracle(
    "q246_hybrid_retrieval",
    r"""
WITH toks AS (
  SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS term
  FROM documents
),
tk AS (SELECT doc_id, term FROM toks WHERE term <> ''),
doclen AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS dl FROM tk GROUP BY doc_id
),
avgdl AS (SELECT AVG(dl) AS a FROM doclen),
n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM documents),
qtf AS (
  SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
  FROM tk WHERE term IN ('spark', 'window', 'dup')
  GROUP BY doc_id, term
),
dfreq AS (
  SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM qtf GROUP BY term
),
bm25 AS (
  SELECT doc_id,
         ROW_NUMBER() OVER (ORDER BY score DESC, doc_id ASC) AS rk
  FROM (
    SELECT q.doc_id,
           ROUND(SUM(
             ln(1.0 + ((SELECT n FROM n) - f.df + 0.5) / (f.df + 0.5))
             * (q.tf * (1.2 + 1.0))
             / (q.tf + 1.2 * (1.0 - 0.75
                              + 0.75 * d.dl / (SELECT a FROM avgdl)))
           ), 6) AS score
    FROM qtf q
    JOIN dfreq f USING (term)
    JOIN doclen d USING (doc_id)
    GROUP BY q.doc_id
  )
),
sem AS (
  SELECT nb_id AS doc_id,
         ROW_NUMBER() OVER (ORDER BY cos DESC, nb_id ASC) AS rk
  FROM (
    SELECT c.vec_id AS nb_id,
           ROUND(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
                                        CAST(c.embedding AS DOUBLE[])), 6)
             AS cos
    FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
    WHERE q.vec_id = 0
  )
),
contribs AS (
  SELECT doc_id, 1.0 / (60 + rk) AS contrib FROM bm25 WHERE rk <= 50
  UNION ALL
  SELECT doc_id, 1.0 / (60 + rk) AS contrib FROM sem WHERE rk <= 50
),
fused AS (
  SELECT doc_id, ROUND(SUM(contrib), 6) AS score
  FROM contribs GROUP BY doc_id
)
SELECT doc_id, CAST(rk AS INT) AS rk, score FROM (
  SELECT doc_id, score,
         ROW_NUMBER() OVER (ORDER BY score DESC, doc_id ASC) AS rk
  FROM fused
) WHERE rk <= 20
""",
)


# q247 twin: q132's register rebuild with the (day, event_type) group
# key carried through — identical md5 bucket/rho integer arithmetic,
# identical per-group estimate fold with linear-counting correction,
# exact NDV and the 3·1.04/√256 envelope alongside.
_oracle(
    "q247_hll_rollup",
    """
WITH ev AS (
  SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS day, event_type, user_id
  FROM events
),
h AS (
  SELECT day, event_type,
         CAST(('0x' || substr(
           md5(CAST(user_id AS VARCHAR) || ':hll'), 1, 15
         )) AS BIGINT) AS hv
  FROM ev
),
parts AS (
  SELECT day, event_type,
         CAST(hv // 4503599627370496 AS INT) AS bucket,
         hv % 4503599627370496 AS w
  FROM h
),
regs AS (
  SELECT day, event_type, bucket,
         MAX(CASE WHEN w = 0 THEN 53
                  ELSE 53 - length(bin(w)) END) AS max_rho
  FROM parts GROUP BY day, event_type, bucket
),
agg AS (
  SELECT day, event_type,
         SUM(POWER(2.0, -max_rho)) AS s_used,
         COUNT(*) AS nb
  FROM regs GROUP BY day, event_type
),
est AS (
  SELECT day, event_type,
         CASE
           WHEN (0.7213 / (1.0 + 1.079 / 256)) * 256 * 256
                  / (s_used + (256 - nb)) <= 2.5 * 256
                AND (256 - nb) > 0
           THEN 256.0 * ln(256.0 / (256 - nb))
           ELSE (0.7213 / (1.0 + 1.079 / 256)) * 256 * 256
                  / (s_used + (256 - nb))
         END AS e
  FROM agg
),
exact AS (
  SELECT day, event_type,
         CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_ndv
  FROM ev GROUP BY day, event_type
)
SELECT e.day, e.event_type,
       ROUND(e.e, 4) AS hll_estimate,
       x.exact_ndv,
       ABS(ROUND(e.e, 4) - x.exact_ndv)
         / GREATEST(x.exact_ndv, 1) <= 3 * 1.04 / 16.0 AS within_bound
FROM est e JOIN exact x USING (day, event_type)
""",
)


# q248 twin: the identical md5 order per language, rank <= 5.
_oracle(
    "q248_bottomk_sample",
    """
SELECT lang, doc_id, CAST(sample_rank AS INT) AS sample_rank FROM (
  SELECT lang, doc_id,
         ROW_NUMBER() OVER (
           PARTITION BY lang
           ORDER BY CAST(('0x' || substr(
             md5(CAST(doc_id AS VARCHAR) || ':bk'), 1, 15
           )) AS BIGINT) ASC, doc_id ASC
         ) AS sample_rank
  FROM documents
) WHERE sample_rank <= 5
""",
)

# q249 twin: the same deterministic exponential clocks — u exact in
# double ((hash+1)/2^60 is a power-of-two division), the key rounded
# to 9dp BEFORE ranking, id-asc ties.
_oracle(
    "q249_weighted_bottomk",
    """
SELECT o_orderkey, o_totalprice, CAST(sample_rank AS INT) AS sample_rank
FROM (
  SELECT o_orderkey, o_totalprice,
         ROW_NUMBER() OVER (
           ORDER BY ROUND(
             -ln((CAST(('0x' || substr(
                    md5(CAST(o_orderkey AS VARCHAR) || ':wbk'), 1, 15
                  )) AS BIGINT) + 1) / 1152921504606846976.0)
             / o_totalprice, 9
           ) ASC, o_orderkey ASC
         ) AS sample_rank
  FROM orders WHERE o_totalprice > 0
) WHERE sample_rank <= 20
""",
)

# q250 twin: per-user min day, offset join, distinct-user counts.
_oracle(
    "q250_retention_cohorts",
    """
WITH ev AS (
  SELECT user_id, CAST(ts AS DATE) AS day FROM events
),
first AS (
  SELECT user_id, MIN(day) AS cohort_day FROM ev GROUP BY user_id
)
SELECT CAST(f.cohort_day AS VARCHAR) AS cohort_day,
       CAST(e.day - f.cohort_day AS INT) AS day_offset,
       CAST(COUNT(DISTINCT e.user_id) AS BIGINT) AS n_users
FROM ev e JOIN first f USING (user_id)
GROUP BY f.cohort_day, e.day - f.cohort_day
""",
)


# q251 twin: format/dims exact, the q138 within-1.0 ramp booleans
# TRUE, and same_as_baseline TRUE — the Spark side computes the
# latter by decoding BOTH encodings and comparing every stat and
# thumb pixel exactly, so the oracle's constant pins progressive ≡
# baseline coefficient identity.
_oracle(
    "q251_progressive_jpeg",
    """
SELECT doc_id AS media_id,
       'jpeg' AS format,
       CAST(64 AS INT) AS width,
       CAST(48 AS INT) AS height,
       TRUE AS r_ok, TRUE AS g_ok, TRUE AS b_ok,
       TRUE AS same_as_baseline
FROM documents WHERE doc_id % 20 = 0
""",
)


# q252 twin: q242's paletted closed form with format='png' — the
# payload side is a genuine Adam7 palette PNG, so the identical
# integrals prove PLTE + per-pass filters + pass scatter, byte-free.
_oracle(
    "q252_interlaced_palette_png",
    r"""
WITH ids AS (
  SELECT doc_id AS media_id FROM documents WHERE doc_id % 10 = 0
),
xs AS (SELECT unnest(generate_series(0, 63)) AS x),
ys AS (SELECT unnest(generate_series(0, 47)) AS y),
px AS (
  SELECT i.media_id,
         AVG((7 * i.media_id + 3 * x.x + 5 * y.y) % 256) AS mr,
         AVG((2 * ((7 * i.media_id + 3 * x.x + 5 * y.y) % 256) + 11)
             % 256) AS mg,
         AVG((3 * ((7 * i.media_id + 3 * x.x + 5 * y.y) % 256) + 22)
             % 256) AS mb
  FROM ids i CROSS JOIN xs x CROSS JOIN ys y
  GROUP BY i.media_id
)
SELECT i.media_id,
       'png' AS format,
       CAST(64 AS INT) AS width,
       CAST(48 AS INT) AS height,
       ROUND(p.mr, 6) AS mean_r,
       ROUND(p.mg, 6) AS mean_g,
       ROUND(p.mb, 6) AS mean_b,
       ROUND(((7 * i.media_id) % 256
              + (2 * ((7 * i.media_id) % 256) + 11) % 256
              + (3 * ((7 * i.media_id) % 256) + 22) % 256) / 3.0, 6)
         AS t00,
       ROUND(((7 * i.media_id + 96) % 256
              + (2 * ((7 * i.media_id + 96) % 256) + 11) % 256
              + (3 * ((7 * i.media_id + 96) % 256) + 22) % 256) / 3.0, 6)
         AS t01,
       ROUND(((7 * i.media_id + 120) % 256
              + (2 * ((7 * i.media_id + 120) % 256) + 11) % 256
              + (3 * ((7 * i.media_id + 120) % 256) + 22) % 256) / 3.0, 6)
         AS t10,
       ROUND(((7 * i.media_id + 216) % 256
              + (2 * ((7 * i.media_id + 216) % 256) + 11) % 256
              + (3 * ((7 * i.media_id + 216) % 256) + 22) % 256) / 3.0, 6)
         AS t11
FROM ids i JOIN px p USING (media_id)
""",
)


# q253 twin: the exact 2-round zero-init GD trajectory unrolled in
# SQL. Features are the q223 portable-md5 signed-hash arithmetic over
# lowercased whitespace tokens (multiplicity sums); the intercept is
# feature -1 with constant 1.0. Round 1 collapses in closed form
# (w=0 → p=0.5 → r=0.5-y); round 2 rebuilds margins from w1, applies
# sigmoid, and takes one more mean-gradient step. lr=0.5, l2=0.
_oracle(
    "q253_logreg_train",
    r"""
WITH tok AS (
  SELECT doc_id,
         unnest(string_split_regex(trim(lower(text)), '\s+')) AS tok
  FROM documents
),
e AS (
  SELECT doc_id,
         (CAST('0x' || substr(md5('tok=' || tok), 1, 15) AS BIGINT) // 2)
           % 64 AS fi,
         CASE WHEN CAST('0x' || substr(md5('tok=' || tok), 1, 15)
                       AS BIGINT) % 2 = 0
              THEN 1.0 ELSE -1.0 END AS s
  FROM tok WHERE tok IS NOT NULL AND tok <> ''
),
x AS (SELECT doc_id, fi, SUM(s) AS v FROM e GROUP BY doc_id, fi),
xb AS (
  SELECT doc_id, fi, v FROM x
  UNION ALL
  SELECT doc_id, CAST(-1 AS BIGINT) AS fi, 1.0 AS v FROM documents
),
y AS (
  SELECT doc_id,
         CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END AS y
  FROM documents
),
n AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM documents),
r1 AS (SELECT doc_id, 0.5 - y AS r FROM y),
w1 AS (
  SELECT xb.fi,
         -0.5 * (SUM(xb.v * r1.r) / (SELECT n FROM n)) AS w
  FROM xb JOIN r1 USING (doc_id) GROUP BY xb.fi
),
m2 AS (
  SELECT xb.doc_id, SUM(xb.v * w1.w) AS m
  FROM xb JOIN w1 USING (fi) GROUP BY xb.doc_id
),
r2 AS (
  SELECT y.doc_id,
         1.0 / (1.0 + exp(-COALESCE(m2.m, 0.0))) - y.y AS r
  FROM y LEFT JOIN m2 USING (doc_id)
),
w2 AS (
  SELECT xb.fi,
         SUM(xb.v * r2.r) / (SELECT n FROM n) AS g
  FROM xb JOIN r2 USING (doc_id) GROUP BY xb.fi
)
SELECT w1.fi AS feature_index,
       ROUND(w1.w - 0.5 * w2.g, 9) AS weight
FROM w1 JOIN w2 USING (fi)
ORDER BY feature_index
""",
)


def _unigram_sql(
    rounds: int, L: int, seed_size: int, vocab_size: int
) -> str:
    """q254 twin generator: the unigram-LM EM trajectory unrolled.
    Mirrors unigram_lm_train exactly — seed by weighted substring
    frequency (top-K + chars), then per round one LEFT JOIN of the
    candidate-edge relation on the previous vocabulary, per-word
    probability lists per piece length, alpha/beta lattice folds as
    list_reduce (the bpe-twin sentinel-prefix idiom: elements are
    one-element lists so the accumulator can be a growing DOUBLE[]),
    expected counts per edge, renormalize; finally prune + renormalize.
    Each round's vocabulary ``v{r}`` is MATERIALIZED: DuckDB inlines a
    plain CTE at every reference, so the unrolled rounds re-derive
    every earlier round (q257: 13 s inlined, 0.3 s materialized; same
    rows).
    """
    def sum_alpha_terms() -> str:
        return " + ".join(
            f"CASE WHEN CAST(x[1] AS INT) >= {l} THEN "
            f"acc[CAST(x[1] AS INT) - {l} + 1] * "
            f"pl{l}[CAST(x[1] AS INT) - {l} + 1] ELSE 0.0 END"
            for l in range(1, L + 1)
        )

    def sum_beta_terms() -> str:
        return " + ".join(
            f"CASE WHEN CAST(x[1] AS INT) + {l} <= len(word) + 1 THEN "
            f"pl{l}[CAST(x[1] AS INT)] * acc[{l}] ELSE 0.0 END"
            for l in range(1, L + 1)
        )

    def count_lists() -> str:
        return " || ".join(
            f"[struct_pack(piece := substring(word, i, {l}), "
            f"c := freq * alpha[i] * pl{l}[i] * beta[i + {l}] "
            f"/ alpha[len(word) + 1]) "
            f"for i in range(1, len(word) - {l} + 2)]"
            for l in range(1, L + 1)
        )

    pl_aggs = ",\n         ".join(
        f"list(COALESCE(v.prob, 0.0) ORDER BY c.i) "
        f"FILTER (WHERE c.l = {l}) AS pl{l}"
        for l in range(1, L + 1)
    )
    pl_cols = ", ".join(f"pl{l}" for l in range(1, L + 1))

    parts = [
        rf"""
WITH toks AS (
  SELECT unnest(list_filter(regexp_split_to_array(trim(text), '\s+'),
                            x -> x <> '')) AS word
  FROM documents
),
words AS (SELECT word, COUNT(*) AS freq FROM toks GROUP BY word),
cand AS (
  SELECT word, freq, CAST(ui.i AS INT) AS i, CAST(ul.l AS INT) AS l,
         substring(word, CAST(ui.i AS INT), CAST(ul.l AS INT)) AS piece
  FROM words,
       UNNEST(range(1, len(word) + 1)) AS ui(i),
       UNNEST(range(1, {L} + 1)) AS ul(l)
  WHERE ui.i + ul.l - 1 <= len(word)
),
pw AS (SELECT piece, SUM(freq) AS wf FROM cand GROUP BY piece),
topk AS (SELECT piece FROM pw ORDER BY wf DESC, piece ASC
         LIMIT {seed_size}),
selp AS (
  SELECT DISTINCT piece FROM (
    SELECT piece FROM topk
    UNION ALL SELECT piece FROM pw WHERE len(piece) = 1
  )
),
sel0 AS (SELECT p.piece, p.wf FROM pw p JOIN selp USING (piece)),
v0 AS MATERIALIZED (SELECT piece, wf / (SELECT SUM(wf) FROM sel0) AS prob
       FROM sel0)"""
    ]
    for r in range(1, rounds + 1):
        parts.append(
            f""",
grid{r} AS (
  SELECT c.word, c.freq,
         {pl_aggs}
  FROM cand c LEFT JOIN v{r - 1} v USING (piece)
  GROUP BY c.word, c.freq
),
ab{r} AS (
  SELECT word, freq, {pl_cols},
         list_reduce(
           [[1.0]] ||
             [[CAST(i AS DOUBLE)] for i in range(1, len(word) + 1)],
           (acc, x) -> list_append(acc, {sum_alpha_terms()})
         ) AS alpha,
         list_reduce(
           [[1.0]] ||
             [[CAST(i AS DOUBLE)] for i in range(len(word), 0, -1)],
           (acc, x) -> [{sum_beta_terms()}] || acc
         ) AS beta
  FROM grid{r}
),
cnts{r} AS (
  SELECT u.pc['piece'] AS piece, SUM(u.pc['c']) AS cnt
  FROM ab{r}, UNNEST({count_lists()}) AS u(pc)
  GROUP BY u.pc['piece']
  HAVING SUM(u.pc['c']) > 0
),
v{r} AS MATERIALIZED (SELECT piece, cnt / (SELECT SUM(cnt) FROM cnts{r}) AS prob
         FROM cnts{r})"""
        )
    parts.append(
        f""",
topv AS (SELECT piece FROM v{rounds}
         ORDER BY prob DESC, piece ASC LIMIT {vocab_size}),
keep AS (
  SELECT DISTINCT piece FROM (
    SELECT piece FROM topv
    UNION ALL SELECT piece FROM v{rounds} WHERE len(piece) = 1
  )
),
kv AS (SELECT v.piece, v.prob FROM v{rounds} v JOIN keep USING (piece))
SELECT piece, ROUND(prob / (SELECT SUM(prob) FROM kv), 9) AS prob
FROM kv ORDER BY piece"""
    )
    return "".join(parts)


_oracle("q254_unigram_lm_train", _unigram_sql(2, 4, 60, 40))


# q256 twin: the biased walk unrolled — uniform hash step 1 (the q159
# rule), then per step one adjacency join + one (prev, dst) membership
# join, the per-walk running-weight window, and the inverse-CDF pick
# (lowest idx with cum > u·total). p=2 / q=0.5 make every weight an
# exact binary fraction, so the cumulative sums carry NO float drift
# between engines and the comparisons are exact.
def _n2v_sql(steps: int, p: float, q: float) -> str:
    inv_p, inv_q = repr(1.0 / p), repr(1.0 / q)
    parts = [
        SQL_EDGES.rstrip(),
        """,
adj AS (
  SELECT src, dst,
         ROW_NUMBER() OVER (PARTITION BY src ORDER BY dst) - 1 AS idx
  FROM edges
),
eset AS (SELECT DISTINCT src AS p_src, dst AS p_dst FROM edges),
s0 AS (
  SELECT DISTINCT src AS start, src AS cur, CAST(src AS VARCHAR) AS path
  FROM edges
),
s1 AS (
  SELECT s.start, s.cur AS prev, a.dst AS cur,
         s.path || '->' || CAST(a.dst AS VARCHAR) AS path,
         2 AS walk_len
  FROM s0 s
  JOIN deg d ON s.cur = d.src
  JOIN adj a ON a.src = s.cur
   AND a.idx = CAST('0x' || substr(md5(CAST(s.cur AS VARCHAR) || '#1'),
                    1, 15) AS BIGINT) % d.deg
)""",
    ]
    for t in range(2, steps + 1):
        parts.append(
            f""",
cand{t} AS (
  SELECT s.start, s.prev, s.cur, s.path, s.walk_len, a.dst, a.idx,
         CASE WHEN a.dst = s.prev THEN {inv_p}
              WHEN e2.p_dst IS NOT NULL THEN 1.0
              ELSE {inv_q} END AS w
  FROM s{t - 1} s
  JOIN adj a ON a.src = s.cur
  LEFT JOIN eset e2 ON e2.p_src = s.prev AND e2.p_dst = a.dst
),
pick{t} AS (
  SELECT *,
         SUM(w) OVER (PARTITION BY start ORDER BY idx
                      ROWS BETWEEN UNBOUNDED PRECEDING
                      AND CURRENT ROW) AS cum,
         CAST(CAST('0x' || substr(md5(CAST(prev AS VARCHAR) || '>' ||
                CAST(cur AS VARCHAR) || '#{t}'), 1, 15) AS BIGINT)
              % 1000000 AS DOUBLE) / 1000000.0
           * SUM(w) OVER (PARTITION BY start) AS target
  FROM cand{t}
),
nxt{t} AS (
  SELECT start, min_by(dst, idx) AS nxt
  FROM pick{t} WHERE cum > target GROUP BY start
),
s{t} AS (
  SELECT s.start,
         CASE WHEN n.nxt IS NOT NULL THEN s.cur ELSE s.prev END AS prev,
         COALESCE(n.nxt, s.cur) AS cur,
         CASE WHEN n.nxt IS NOT NULL
              THEN s.path || '->' || CAST(n.nxt AS VARCHAR)
              ELSE s.path END AS path,
         CASE WHEN n.nxt IS NOT NULL THEN s.walk_len + 1
              ELSE s.walk_len END AS walk_len
  FROM s{t - 1} s LEFT JOIN nxt{t} n USING (start)
)"""
        )
    parts.append(
        f"\nSELECT start, path, CAST(walk_len AS INT) AS walk_len"
        f" FROM s{steps}"
    )
    return "".join(parts)


_oracle("q256_node2vec_walks", _n2v_sql(4, 2.0, 0.5))


# q255 twin: the q115 waveform integral with the FLAC evidence columns
# — format 'flac', the known 4-frame layout (ceil(2000/576)), and the
# md5_ok / compressed booleans pinned TRUE (the Spark side computes
# them from the genuine STREAMINFO digest and stream size, so the
# constant pins lossless-exact decode + real compression).
_oracle(
    "q255_flac_decode",
    r"""
WITH ids AS (
  SELECT doc_id AS media_id FROM documents WHERE doc_id % 10 = 0
),
i AS (SELECT unnest(generate_series(0, 1999)) AS i),
s AS (
  SELECT ids.media_id,
         ((13 * ids.media_id + 37 * i.i) % 65536 - 32768) AS x
  FROM ids CROSS JOIN i
),
agg AS (
  SELECT media_id,
         SUM(CAST(x AS BIGINT) * CAST(x AS BIGINT)) AS ssq,
         MAX(ABS(x)) AS peak
  FROM s GROUP BY media_id
)
SELECT media_id,
       'flac' AS format,
       CAST(8000 AS INT) AS sample_rate,
       CAST(1 AS INT) AS n_channels,
       CAST(2000 AS BIGINT) AS n_samples,
       0.25 AS duration_s,
       ROUND(SQRT(ssq / 2000.0), 6) AS rms,
       CAST(peak AS INT) AS peak,
       CAST(4 AS INT) AS n_frames,
       TRUE AS md5_ok,
       TRUE AS compressed
FROM agg
""",
)


# q258 twin: q253's unrolled trajectory continued — UNROUNDED final
# weights, per-doc margin over the feature rows (no bias rows: predict
# consumes features only), literal intercept fold, sigmoid, round 9.
def _logreg_score_sql() -> str:
    base = _ORACLES["q253_logreg_train"]
    head = base[: base.rindex("SELECT w1.fi AS feature_index")]
    return head.rstrip() + ",\n" + """wfin AS (
  SELECT w1.fi, w1.w - 0.5 * w2.g AS w FROM w1 JOIN w2 USING (fi)
),
m AS (
  SELECT x.doc_id, SUM(x.v * wf.w) AS m
  FROM x JOIN wfin wf ON wf.fi = x.fi
  GROUP BY x.doc_id
),
b AS (SELECT w FROM wfin WHERE fi = -1)
SELECT m.doc_id,
       ROUND(1.0 / (1.0 + exp(-(m.m + (SELECT w FROM b)))), 9) AS score
FROM m
"""


_oracle("q258_logreg_score_corpus", _logreg_score_sql())


# q257 twin: the q254 unroll continued with the Viterbi application —
# both engines run the DP over the 9dp-ROUNDED vocabulary, so every
# lattice product is bit-identical. Best-candidate selection is a
# lexicographic max over [p, -tokens, -l] triples, which reproduces
# the Spark fold's chain semantics exactly (greatest probability, then
# fewest tokens, then lowest piece length wins).
def _unigram_apply_sql(L: int = 4) -> str:
    base = _unigram_sql(2, L, 60, 40)
    head = base[: base.rindex("SELECT piece, ROUND")]

    def cand(l: int) -> str:
        i = "CAST(x[1][1] AS INT)"
        cond = f"({i} >= {l} AND pl{l}[{i} - {l} + 1] > 0)"
        cp = f"(acc[{i} - {l} + 1][1] * pl{l}[{i} - {l} + 1])"
        ct = f"(acc[{i} - {l} + 1][2] + 1.0)"
        return (
            f"CASE WHEN {cond} THEN [{cp}, -{ct}, -{float(l)}] "
            f"ELSE [-1.0, 0.0, 0.0] END"
        )

    cands = ", ".join(cand(l) for l in range(1, L + 1))
    pl_aggs = ",\n         ".join(
        f"list(COALESCE(v.prob, 0.0) ORDER BY c.i) "
        f"FILTER (WHERE c.l = {l}) AS pl{l}"
        for l in range(1, L + 1)
    )
    return head.rstrip() + ",\n" + f"""vf AS (
  SELECT piece, ROUND(prob / (SELECT SUM(prob) FROM kv), 9) AS prob
  FROM kv
),
docw AS (
  SELECT doc_id,
         unnest(list_filter(regexp_split_to_array(trim(text), '\\s+'),
                            x -> x <> '')) AS word
  FROM documents
),
dwords AS (SELECT DISTINCT word FROM docw),
scand AS (
  SELECT d.word, CAST(ui.i AS INT) AS i, CAST(ul.l AS INT) AS l,
         substring(d.word, CAST(ui.i AS INT), CAST(ul.l AS INT)) AS piece
  FROM dwords d,
       UNNEST(range(1, len(word) + 1)) AS ui(i),
       UNNEST(range(1, {L} + 1)) AS ul(l)
  WHERE ui.i + ul.l - 1 <= len(d.word)
),
sgrid AS (
  SELECT c.word,
         {pl_aggs}
  FROM scand c LEFT JOIN vf v USING (piece)
  GROUP BY c.word
),
sdp AS (
  SELECT word,
         list_reduce(
           [[[1.0, 0.0]]] ||
             [[[CAST(i AS DOUBLE), 0.0]] for i in
              range(1, len(word) + 1)],
           (acc, x) -> list_append(acc,
             [list_sort([{cands}])[{L}][1],
              -list_sort([{cands}])[{L}][2]])
         ) AS dp
  FROM sgrid
),
sseg AS (
  SELECT word, CAST(dp[len(word) + 1][2] AS BIGINT) AS toks_word
  FROM sdp
)
SELECT d.doc_id,
       COUNT(*) AS n_words,
       CAST(SUM(len(d.word)) AS BIGINT) AS n_chars,
       CAST(SUM(s.toks_word) AS BIGINT) AS n_tokens,
       ROUND(CAST(SUM(len(d.word)) AS DOUBLE) / SUM(s.toks_word), 6)
         AS chars_per_token
FROM docw d JOIN sseg s USING (word)
GROUP BY d.doc_id
"""


_oracle("q257_unigram_segment_stats", _unigram_apply_sql(4))


# q259 twin: the projection-deflated power iteration unrolled on the
# q161 PPMI relation (9dp-rounded weights, positive entries only).
# Per component per round: two sparse matvec CTEs, then CLASSICAL
# Gram-Schmidt deflation — every projection dot is computed on the
# RAW iterate (not the running residual) and applied as one summed
# adjustment, exactly matching `_svd_loop`'s one-pass scalar collect —
# then the normalize+ROUND(…,9) that absorbs reduction-order drift. Eigenvalues
# stay unrounded scalars — they only enter as the λ^(−¼) embedding
# scale, invisible at the 6dp output round.
def _svd_core_sql(rank: int, iters: int) -> str:
    """CTE chain ending in the unrounded `emb` (node, dim, value)
    relation — shared by the q259 train twin and the q265 ANN-consumer
    twin."""
    parts = [
        r""",
mat AS MATERIALIZED (
  SELECT center AS r, context AS c, w FROM (
    SELECT p.center, p.context,
           ROUND(greatest(0.0,
             ln(CAST(p.cnt AS DOUBLE) * (SELECT SUM(cnt) FROM pairs)
                / (pc.s * px.s))), 9) AS w
    FROM pairs p
    JOIN (SELECT center, SUM(cnt) AS s FROM pairs GROUP BY center) pc
      ON p.center = pc.center
    JOIN (SELECT context, SUM(cnt) AS s FROM pairs GROUP BY context) px
      ON p.context = px.context
  ) WHERE w > 0
),
svd_nodes AS MATERIALIZED (SELECT DISTINCT c AS node FROM mat),
vinit AS MATERIALIZED (
  SELECT node, 1.0 / sqrt((SELECT COUNT(*) FROM svd_nodes)) AS x
  FROM svd_nodes
)"""
    ]
    for k in range(rank):
        prev = "vinit"
        for i in range(1, iters + 1):
            t, y, v = f"t{k}_{i}", f"y{k}_{i}", f"v{k}_{i}"
            parts.append(
                f""",
{t} AS MATERIALIZED (
  SELECT m.r, SUM(m.w * v.x) AS t
  FROM mat m JOIN {prev} v ON m.c = v.node GROUP BY m.r
),
{y}r AS MATERIALIZED (
  SELECT m.c AS node, SUM(m.w * t.t) AS y
  FROM mat m JOIN {t} t ON m.r = t.r GROUP BY m.c
)"""
            )
            yname = f"{y}r"
            if k > 0:
                # classical GS: all dots against the RAW iterate, one
                # summed per-node adjustment (mirrors _svd_loop's
                # single collect + single adjustment join)
                fu = " UNION ALL ".join(
                    f"SELECT node, x, {j} AS c FROM v{j}_{iters}"
                    for j in range(k)
                )
                parts.append(
                    f""",
fu{k}_{i} AS MATERIALIZED ({fu}),
sk{k}_{i} AS MATERIALIZED (
  SELECT f.c, SUM(y.y * f.x) AS s
  FROM {yname} y JOIN fu{k}_{i} f ON y.node = f.node GROUP BY f.c
),
adj{k}_{i} AS MATERIALIZED (
  SELECT f.node, SUM(sk.s * f.x) AS a
  FROM fu{k}_{i} f JOIN sk{k}_{i} sk ON f.c = sk.c GROUP BY f.node
),
{y}d AS MATERIALIZED (
  SELECT y.node, y.y - a.a AS y
  FROM {yname} y JOIN adj{k}_{i} a ON y.node = a.node
)"""
                )
                yname = f"{y}d"
            parts.append(
                f""",
{v} AS MATERIALIZED (
  SELECT node,
         ROUND(CASE WHEN (SELECT sqrt(SUM(y * y)) FROM {yname}) > 0
               THEN y / (SELECT sqrt(SUM(y * y)) FROM {yname})
               ELSE 0.0 END, 9) AS x
  FROM {yname}
)"""
            )
            prev = v
        parts.append(
            f""",
tf{k} AS MATERIALIZED (
  SELECT m.r, SUM(m.w * v.x) AS t
  FROM mat m JOIN v{k}_{iters} v ON m.c = v.node GROUP BY m.r
),
lam{k} AS MATERIALIZED (SELECT SUM(t * t) AS l FROM tf{k})"""
        )
    branches = "\nUNION ALL\n".join(
        f"""SELECT r AS node, CAST({k} AS INT) AS dim,
       t * CASE WHEN (SELECT l FROM lam{k}) > 0
            THEN pow((SELECT l FROM lam{k}), -0.25)
            ELSE 0.0 END AS value
FROM tf{k}"""
        for k in range(rank)
    )
    parts.append(f""",
emb AS MATERIALIZED (
{branches}
)""")
    return _skipgram_sql("".join(parts))


def _svd_sql(rank: int, iters: int) -> str:
    return _svd_core_sql(rank, iters) + """
SELECT node, dim, ROUND(value, 6) AS value FROM emb
"""


_oracle("q259_ppmi_svd_embeddings", _svd_sql(3, 2))

# q265 twin: the q259 core continued — long-form cosine top-k over the
# UNROUNDED emb relation, mirroring ann_topk_bruteforce exactly: dot /
# (norm·norm) rounded at 6dp BEFORE ranking, self excluded, ties to
# the lower neighbor id, rank ≤ k.
_oracle(
    "q265_trained_embedding_ann",
    _svd_core_sql(3, 2)
    + """,
ann_q AS (SELECT node, dim, value FROM emb WHERE node % 512 = 0),
ann_norm AS (
  SELECT node, sqrt(SUM(value * value)) AS nrm FROM emb GROUP BY node
),
ann_dot AS (
  SELECT q.node AS query_id, c.node AS nb_id,
         SUM(q.value * c.value) AS dot
  FROM ann_q q JOIN emb c ON q.dim = c.dim AND q.node <> c.node
  GROUP BY q.node, c.node
),
ann_scored AS (
  SELECT d.query_id, d.nb_id,
         ROUND(d.dot / (qn.nrm * cn.nrm), 6) AS cos
  FROM ann_dot d
  JOIN ann_norm qn ON d.query_id = qn.node
  JOIN ann_norm cn ON d.nb_id = cn.node
),
ann_ranked AS (
  SELECT query_id, nb_id, cos,
         CAST(ROW_NUMBER() OVER (
           PARTITION BY query_id ORDER BY cos DESC, nb_id
         ) AS INT) AS rank
  FROM ann_scored
)
SELECT query_id, nb_id, cos, rank FROM ann_ranked WHERE rank <= 5
""",
)


# q266 twin: the SGNS trajectory unrolled — the q170 negative-draw
# CTEs feed an aggregated (c, w, label, mass) example relation, both
# factor sides hash-init exactly like `_sgns_init` (all-integer mod
# arithmetic over the same md5-60bit), then per round: one score CTE
# (two sparse joins + per-example dot), the sigmoid residual, the two
# mass-normalized gradient aggs reading the SAME residual and the OLD
# opposite factor (simultaneous update), and the ROUND(…,9) step that
# absorbs cross-engine reduction-order drift exactly as sgns_train's
# per-round round does.
def _sgns_body(dim: int, rounds: int, lr: float) -> str:
    """CTE chain from a ``pairs (center, context, cnt)`` relation to
    the trained ``u{rounds}`` / ``v{rounds}`` factor CTEs — shared by
    the q266 walk-node twin and the q268 word-node twin (node type is
    whatever ``pairs`` carries; the hash init concatenates its string
    form either way, exactly like ``_sgns_init``)."""
    parts = [
        f""",
marg AS (
  SELECT context, SUM(cnt) AS c FROM pairs GROUP BY context
),
cdf AS (
  SELECT context AS neg,
         COALESCE(SUM(c) OVER (
           ORDER BY context
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
         ), 0) AS lo,
         COALESCE(SUM(c) OVER (
           ORDER BY context
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
         ), 0) + c AS hi
  FROM marg
),
tot AS (SELECT SUM(c) AS t FROM marg),
draws AS (
  SELECT p.center, p.context, p.cnt, s.slot,
         CAST('0x' || substr(md5(CAST(p.center AS VARCHAR) || '#'
              || CAST(p.context AS VARCHAR) || '#n'
              || CAST(s.slot AS VARCHAR)), 1, 15) AS BIGINT)
           % (SELECT t FROM tot) AS u
  FROM pairs p, UNNEST([0, 1]) AS s(slot)
),
ex AS MATERIALIZED (
  SELECT c, w, label, SUM(m) AS m FROM (
    SELECT center AS c, context AS w, 1.0 AS label,
           CAST(cnt AS DOUBLE) AS m
    FROM pairs
    UNION ALL
    SELECT d.center AS c, cd.neg AS w, 0.0 AS label,
           CAST(d.cnt AS DOUBLE) AS m
    FROM draws d JOIN cdf cd ON d.u >= cd.lo AND d.u < cd.hi
    WHERE cd.neg <> d.context
  ) GROUP BY c, w, label
),
exm AS (SELECT SUM(m) AS mm FROM ex),
sdims AS (SELECT CAST(u.d AS INT) AS dim FROM UNNEST(range(0, {dim})) AS u(d)),
u0 AS MATERIALIZED (
  SELECT n.node, d.dim,
         ((CAST('0x' || substr(md5('sgnsU=' || CAST(n.node AS VARCHAR)
             || '/' || CAST(d.dim AS VARCHAR)), 1, 15) AS BIGINT)
           % 2001) - 1000) / 10000.0 AS value
  FROM (SELECT DISTINCT c AS node FROM ex) n, sdims d
),
v0 AS MATERIALIZED (
  SELECT n.node, d.dim,
         ((CAST('0x' || substr(md5('sgnsV=' || CAST(n.node AS VARCHAR)
             || '/' || CAST(d.dim AS VARCHAR)), 1, 15) AS BIGINT)
           % 2001) - 1000) / 10000.0 AS value
  FROM (SELECT DISTINCT w AS node FROM ex) n, sdims d
)"""
    ]
    for r in range(rounds):
        parts.append(
            f""",
sc{r} AS MATERIALIZED (
  SELECT e.c, e.w, e.label, e.m, SUM(u.value * v.value) AS s
  FROM ex e
  JOIN u{r} u ON e.c = u.node
  JOIN v{r} v ON e.w = v.node AND v.dim = u.dim
  GROUP BY e.c, e.w, e.label, e.m
),
g{r} AS MATERIALIZED (
  SELECT c, w, (1.0 / (1.0 + exp(-s)) - label) * m AS g FROM sc{r}
),
gu{r} AS MATERIALIZED (
  SELECT g.c AS node, v.dim,
         SUM(g.g * v.value) / (SELECT mm FROM exm) AS gr
  FROM g{r} g JOIN v{r} v ON g.w = v.node GROUP BY g.c, v.dim
),
gv{r} AS MATERIALIZED (
  SELECT g.w AS node, u.dim,
         SUM(g.g * u.value) / (SELECT mm FROM exm) AS gr
  FROM g{r} g JOIN u{r} u ON g.c = u.node GROUP BY g.w, u.dim
),
u{r + 1} AS MATERIALIZED (
  SELECT u.node, u.dim,
         ROUND(u.value - {lr} * COALESCE(g.gr, 0.0), 9) AS value
  FROM u{r} u LEFT JOIN gu{r} g
    ON u.node = g.node AND u.dim = g.dim
),
v{r + 1} AS MATERIALIZED (
  SELECT v.node, v.dim,
         ROUND(v.value - {lr} * COALESCE(g.gr, 0.0), 9) AS value
  FROM v{r} v LEFT JOIN gv{r} g
    ON v.node = g.node AND v.dim = g.dim
)"""
        )
    return "".join(parts)


def _sgns_sql(dim: int, rounds: int, lr: float) -> str:
    return _skipgram_sql(
        _sgns_body(dim, rounds, lr)
        + f"""
SELECT 'u' AS side, node, dim, value FROM u{rounds}
UNION ALL
SELECT 'v' AS side, node, dim, value FROM v{rounds}
"""
    )


_oracle("q266_sgns_train", _sgns_sql(4, 2, 0.5))


# q268 twin: the word-pair relation rebuilt positionally (forward
# occurrences within the 2-token window, both directions counted,
# HAVING >= 2), the q266 SGNS body verbatim on string word nodes,
# then per-doc mean pooling over token OCCURRENCES (ROUND 9 absorbs
# distributed-sum order) and the q265 cosine-rank rules.
_oracle(
    "q268_word_sgns_semantic_ann",
    r"""
WITH wdocs AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(trim(text), '\s+'),
                     x -> x <> '') AS a
  FROM documents
),
wtoks AS MATERIALIZED (
  SELECT doc_id, u.i AS i, a[u.i] AS term
  FROM wdocs, UNNEST(range(1, len(a) + 1)) AS u(i)
),
wfwd AS (
  SELECT c.term AS center, t.term AS context
  FROM wtoks c JOIN wtoks t
    ON c.doc_id = t.doc_id AND t.i - c.i BETWEEN 1 AND 2
),
pairs AS MATERIALIZED (
  SELECT center, context, CAST(COUNT(*) AS BIGINT) AS cnt FROM (
    SELECT center, context FROM wfwd
    UNION ALL
    SELECT context AS center, center AS context FROM wfwd
  ) GROUP BY center, context HAVING COUNT(*) >= 2
)"""
    + _sgns_body(4, 2, 0.5)
    + """,
wdv AS MATERIALIZED (
  SELECT t.doc_id AS id, u.dim,
         ROUND(SUM(u.value) / COUNT(*), 9) AS value
  FROM wtoks t JOIN u2 u ON t.term = u.node
  GROUP BY t.doc_id, u.dim
),
wvecs AS MATERIALIZED (
  SELECT id, list(value ORDER BY dim) AS v FROM wdv GROUP BY id
),
wdot AS (
  SELECT q.id AS query_id, c.id AS nb_id,
         ROUND(list_cosine_similarity(q.v, c.v), 6) AS cos
  FROM (SELECT id, v FROM wvecs WHERE id % 64 = 0) q
  JOIN wvecs c ON q.id <> c.id
),
wrank AS (
  SELECT query_id, nb_id, cos,
         CAST(ROW_NUMBER() OVER (
           PARTITION BY query_id ORDER BY cos DESC, nb_id ASC
         ) AS INT) AS rank
  FROM wdot
)
SELECT query_id, nb_id, cos, rank FROM wrank WHERE rank <= 5
""",
)


# q267 twin: the q259 SVD core pivoted to 9dp-rounded arrays, feeding
# the q36/q73/q234 seeded-IVF algebra (first-16-by-id codebook,
# unrounded-affinity assignment — safe because the 9dp input round
# makes both engines' arrays bit-identical — probed top-3 lists,
# 6dp-rounded cosine ranking, id-asc ties).
_oracle(
    "q267_trained_ivf_serving",
    _svd_core_sql(3, 2)
    + """,
tvecs AS MATERIALIZED (
  SELECT node AS id, list(ROUND(value, 9) ORDER BY dim) AS v
  FROM emb GROUP BY node
),
tcb AS (
  SELECT CAST(ROW_NUMBER() OVER (ORDER BY id) - 1 AS INT) AS cid,
         v AS cvec
  FROM tvecs ORDER BY id LIMIT 16
),
taff AS (
  SELECT e.id, c.cid,
         list_dot_product(e.v, c.cvec)
           / sqrt(list_dot_product(c.cvec, c.cvec)) AS affinity
  FROM tvecs e CROSS JOIN tcb c
),
tranked AS (
  SELECT id, cid,
         ROW_NUMBER() OVER (
           PARTITION BY id ORDER BY affinity DESC, cid ASC
         ) AS r
  FROM taff
),
tc_assign AS (SELECT id AS nb_id, cid FROM tranked WHERE r = 1),
tq_assign AS (
  SELECT id AS query_id, cid
  FROM tranked WHERE r <= 3 AND id % 512 = 0
),
tscored AS (
  SELECT q.query_id, c.nb_id,
         ROUND(list_cosine_similarity(eq.v, ec.v), 6) AS cos
  FROM tq_assign q
  JOIN tc_assign c ON q.cid = c.cid
  JOIN tvecs eq ON q.query_id = eq.id
  JOIN tvecs ec ON c.nb_id = ec.id
  WHERE q.query_id <> c.nb_id
),
ttopk AS (
  SELECT query_id, nb_id, cos,
         CAST(ROW_NUMBER() OVER (
           PARTITION BY query_id ORDER BY cos DESC, nb_id ASC
         ) AS BIGINT) AS rank
  FROM tscored
)
SELECT query_id, nb_id, cos, rank FROM ttopk WHERE rank <= 5
""",
)


# q260/q261 twins share the KN count CTEs: padded trigram instances
# from list expressions, type-bounded (distinct-)count relations, and
# the fixed-discount interpolated probability as ONE scalar expression
# tree over exact integer counts — bit-identical across engines
# (D = 0.75 is an exact binary fraction), so no intermediate rounding.
_KN_CTES = r"""
WITH kn_toks AS MATERIALIZED (
  SELECT doc_id,
         ['<s>', '<s>'] ||
         list_filter(regexp_split_to_array(trim(text), '\s+'),
                     x -> x <> '') || ['</s>'] AS a
  FROM documents
),
kn_tg AS MATERIALIZED (
  SELECT doc_id, a[u.i] AS w1, a[u.i + 1] AS w2, a[u.i + 2] AS w3
  FROM kn_toks, UNNEST(range(1, len(a) - 1)) AS u(i)
),
kn_c3 AS MATERIALIZED (
  SELECT w1, w2, w3, COUNT(*) AS c3 FROM kn_tg GROUP BY w1, w2, w3
),
kn_c2 AS MATERIALIZED (
  SELECT w1, w2, CAST(SUM(c3) AS BIGINT) AS c2, COUNT(*) AS n3
  FROM kn_c3 GROUP BY w1, w2
),
kn_cc AS MATERIALIZED (
  SELECT w2, w3, COUNT(DISTINCT w1) AS cc FROM kn_c3 GROUP BY w2, w3
),
kn_mid AS MATERIALIZED (
  SELECT w2, COUNT(*) AS ncc, COUNT(DISTINCT w3) AS nfol
  FROM kn_c3 GROUP BY w2
),
kn_n1 AS MATERIALIZED (
  SELECT w3, COUNT(*) AS n1 FROM kn_cc GROUP BY w3
),
kn_nbi AS MATERIALIZED (SELECT COUNT(*) AS nbi FROM kn_cc)
"""

# the probability tree, parenthesized exactly as the Spark operator's
# _p_expr builds it (left-assoc products, coalesced counts)
_KN_P = """(
  greatest(COALESCE(t.c3, 0) - 0.75, 0.0) / c2.c2
  + ((0.75 * c2.n3) / c2.c2) *
    (greatest(COALESCE(cc.cc, 0) - 0.75, 0.0) / mid.ncc
     + ((0.75 * mid.nfol) / mid.ncc) *
       (CAST(COALESCE(n1.n1, 0) AS DOUBLE) / (SELECT nbi FROM kn_nbi)))
)"""

_oracle(
    "q260_kn_lm_train",
    _KN_CTES
    + f"""
SELECT t.w1, t.w2, t.w3, ROUND({_KN_P}, 9) AS p
FROM kn_c3 t
JOIN kn_c2 c2 ON t.w1 = c2.w1 AND t.w2 = c2.w2
JOIN kn_cc cc ON t.w2 = cc.w2 AND t.w3 = cc.w3
JOIN kn_mid mid ON t.w2 = mid.w2
JOIN kn_n1 n1 ON t.w3 = n1.w3
""",
)

# q264 twin: the q221 shape over time blocks — per-sample closed-form
# amplitude-gated sawtooth integrated over generate_series, INTEGER
# block-energy bits (energy·n > total·len), the same band packing and
# banded Hamming pair join. n = 2048, 64 blocks ⇒ b = i // 32 exactly.
_oracle(
    "q264_audio_neardup",
    """
WITH ids AS (
  SELECT doc_id AS media_id, doc_id // 40 AS g, (doc_id // 10) % 4 AS r
  FROM documents WHERE doc_id % 10 = 0
),
smp AS (
  SELECT i.media_id, s.i // 32 AS b,
         (9973 * s.i) % (2 * (256 * (1 +
            CASE WHEN i.r > 0 AND s.i // 32 < i.r
                 THEN (11 * (i.g + 1) * (s.i // 32 + 1) + 64) % 128
                 ELSE (11 * (i.g + 1) * (s.i // 32 + 1)) % 128
            END)))
         - (256 * (1 +
            CASE WHEN i.r > 0 AND s.i // 32 < i.r
                 THEN (11 * (i.g + 1) * (s.i // 32 + 1) + 64) % 128
                 ELSE (11 * (i.g + 1) * (s.i // 32 + 1)) % 128
            END)) AS v
  FROM ids i
  CROSS JOIN (SELECT UNNEST(range(0, 2048)) AS i) s
),
blk AS (
  SELECT media_id, b, SUM(v * v) AS be, COUNT(*) AS bl
  FROM smp GROUP BY 1, 2
),
tot AS (SELECT media_id, SUM(be) AS te, SUM(bl) AS tn
        FROM blk GROUP BY 1),
bits AS (
  SELECT blk.media_id, b,
         CASE WHEN be * tn > te * bl THEN 1 ELSE 0 END AS bit
  FROM blk JOIN tot USING (media_id)
),
h AS (
  SELECT media_id,
         SUM(CASE WHEN b // 16 = 0 THEN bit * (1 << (b % 16)) ELSE 0 END) AS b0,
         SUM(CASE WHEN b // 16 = 1 THEN bit * (1 << (b % 16)) ELSE 0 END) AS b1,
         SUM(CASE WHEN b // 16 = 2 THEN bit * (1 << (b % 16)) ELSE 0 END) AS b2,
         SUM(CASE WHEN b // 16 = 3 THEN bit * (1 << (b % 16)) ELSE 0 END) AS b3
  FROM bits GROUP BY 1
)
SELECT a.media_id AS id_a, b.media_id AS id_b,
       CAST(bit_count(xor(a.b0, b.b0)) + bit_count(xor(a.b1, b.b1))
          + bit_count(xor(a.b2, b.b2)) + bit_count(xor(a.b3, b.b3))
         AS BIGINT) AS hamming
FROM h a JOIN h b ON a.media_id < b.media_id
WHERE bit_count(xor(a.b0, b.b0)) + bit_count(xor(a.b1, b.b1))
    + bit_count(xor(a.b2, b.b2)) + bit_count(xor(a.b3, b.b3)) <= 3
ORDER BY id_a, id_b
""",
)


# q262/q263 twins: q253's feature CTEs (portable-md5 signed hashing)
# + the 2-round softmax trajectory unrolled. Round 1 collapses in
# closed form (w=0 → p = 1/K exactly — both engines compute the same
# 1.0/K double); round 2 rebuilds per-(doc, class) margins from w1,
# applies the max-shifted softmax (value-level max: exact comparisons,
# and only the VALUE enters p, so a drift-flipped argmax is harmless),
# and takes one more mean-gradient step. exp ulps are absorbed at the
# 9dp weight/probability rounding (the q253 sigmoid precedent).
_SOFTMAX_CTES = r"""
WITH tok AS (
  SELECT doc_id,
         unnest(string_split_regex(trim(lower(text)), '\s+')) AS tok
  FROM documents
),
e AS (
  SELECT doc_id,
         (CAST('0x' || substr(md5('tok=' || tok), 1, 15) AS BIGINT) // 2)
           % 64 AS fi,
         CASE WHEN CAST('0x' || substr(md5('tok=' || tok), 1, 15)
                       AS BIGINT) % 2 = 0
              THEN 1.0 ELSE -1.0 END AS s
  FROM tok WHERE tok IS NOT NULL AND tok <> ''
),
xr AS (SELECT doc_id, fi, SUM(s) AS v FROM e GROUP BY doc_id, fi),
xn AS (
  SELECT doc_id, sqrt(SUM(v * v)) AS nrm FROM xr GROUP BY doc_id
),
x AS (
  SELECT xr.doc_id, xr.fi, xr.v / xn.nrm AS v
  FROM xr JOIN xn USING (doc_id)
),
xb AS MATERIALIZED (
  SELECT doc_id, fi, v FROM x
  UNION ALL
  SELECT doc_id, CAST(-1 AS BIGINT) AS fi, 1.0 AS v FROM documents
),
classes AS MATERIALIZED (
  SELECT lang AS label,
         CAST(ROW_NUMBER() OVER (ORDER BY lang) - 1 AS INT) AS k
  FROM (SELECT DISTINCT lang FROM documents)
),
y AS MATERIALIZED (
  SELECT d.doc_id, c.k AS y
  FROM documents d JOIN classes c ON d.lang = c.label
),
n AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM documents),
r1 AS (
  SELECT y.doc_id, c.k,
         1.0 / (SELECT CAST(COUNT(*) AS DOUBLE) FROM classes)
           - CASE WHEN c.k = y.y THEN 1.0 ELSE 0.0 END AS r
  FROM y, classes c
),
w1 AS MATERIALIZED (
  SELECT r1.k, xb.fi,
         -0.5 * (SUM(xb.v * r1.r) / (SELECT n FROM n)) AS w
  FROM xb JOIN r1 USING (doc_id) GROUP BY r1.k, xb.fi
),
z2 AS MATERIALIZED (
  SELECT xb.doc_id, w1.k, SUM(xb.v * w1.w) AS z
  FROM xb JOIN w1 USING (fi) GROUP BY xb.doc_id, w1.k
),
zm2 AS (SELECT doc_id, MAX(z) AS zm FROM z2 GROUP BY doc_id),
e2 AS MATERIALIZED (
  SELECT z2.doc_id, z2.k, exp(z2.z - zm2.zm) AS e
  FROM z2 JOIN zm2 USING (doc_id)
),
es2 AS (SELECT doc_id, SUM(e) AS es FROM e2 GROUP BY doc_id),
r2 AS (
  SELECT e2.doc_id, e2.k,
         e2.e / es2.es
           - CASE WHEN e2.k = y.y THEN 1.0 ELSE 0.0 END AS r
  FROM e2 JOIN es2 USING (doc_id) JOIN y USING (doc_id)
),
g2 AS MATERIALIZED (
  SELECT r2.k, xb.fi, SUM(xb.v * r2.r) / (SELECT n FROM n) AS g
  FROM xb JOIN r2 USING (doc_id) GROUP BY r2.k, xb.fi
)
"""

_oracle(
    "q262_softmax_train",
    _SOFTMAX_CTES
    + r"""
SELECT w1.k AS class_index, w1.fi AS feature_index,
       ROUND(w1.w - 0.5 * g2.g, 9) AS weight
FROM w1 JOIN g2 ON w1.k = g2.k AND w1.fi = g2.fi
ORDER BY class_index, feature_index
""",
)

_oracle(
    "q263_softmax_language_id",
    _SOFTMAX_CTES
    + r""",
wf AS MATERIALIZED (
  SELECT w1.k, w1.fi, w1.w - 0.5 * g2.g AS w
  FROM w1 JOIN g2 ON w1.k = g2.k AND w1.fi = g2.fi
),
-- predict-side design matrix: softmax_predict consumes FEATURES ONLY
-- (classifier.py:501 builds bias rows from the feature relation's
-- distinct doc ids, the q258 precedent), so the scoring universe here
-- is x's docs, NOT documents — a zero-token doc must not appear.
xp AS MATERIALIZED (
  SELECT doc_id, fi, v FROM x
  UNION ALL
  SELECT DISTINCT doc_id, CAST(-1 AS BIGINT) AS fi, 1.0 AS v FROM x
),
z3 AS MATERIALIZED (
  SELECT xp.doc_id, wf.k, SUM(xp.v * wf.w) AS z
  FROM xp JOIN wf USING (fi) GROUP BY xp.doc_id, wf.k
),
zm3 AS (SELECT doc_id, MAX(z) AS zm FROM z3 GROUP BY doc_id),
e3 AS MATERIALIZED (
  SELECT z3.doc_id, z3.k, exp(z3.z - zm3.zm) AS e
  FROM z3 JOIN zm3 USING (doc_id)
),
es3 AS (SELECT doc_id, SUM(e) AS es FROM e3 GROUP BY doc_id),
p3 AS (
  SELECT e3.doc_id, e3.k, ROUND(e3.e / es3.es, 9) AS p
  FROM e3 JOIN es3 USING (doc_id)
),
best AS (
  SELECT doc_id, MAX([p, -CAST(k AS DOUBLE)]) AS b
  FROM p3 GROUP BY doc_id
)
SELECT b.doc_id, c.label, b.b[1] AS prob
FROM best b JOIN classes c ON CAST(-b.b[2] AS INT) = c.k
""",
)

_oracle(
    "q261_kn_perplexity",
    _KN_CTES
    + f""",
kn_inst AS MATERIALIZED (
  SELECT g.doc_id, {_KN_P} AS p
  FROM kn_tg g
  LEFT JOIN kn_c3 t ON g.w1 = t.w1 AND g.w2 = t.w2 AND g.w3 = t.w3
  LEFT JOIN kn_c2 c2 ON g.w1 = c2.w1 AND g.w2 = c2.w2
  LEFT JOIN kn_cc cc ON g.w2 = cc.w2 AND g.w3 = cc.w3
  LEFT JOIN kn_mid mid ON g.w2 = mid.w2
  LEFT JOIN kn_n1 n1 ON g.w3 = n1.w3
)
SELECT doc_id, COUNT(*) AS n_tokens,
       ROUND(exp(-SUM(ln(p)) / COUNT(*)), 6) AS ppl
FROM kn_inst GROUP BY doc_id
""",
)

# q269 twin: the q261 per-doc ppl CTE continued with value-banding —
# cumulative count over the DISTINCT rounded-ppl relation, band =
# 1 + floor(3·lo/n) capped at 3 (ties share a band; in-domain
# training keeps every p > 0, so no NULL-ppl branch is exercised —
# the engine flags such docs with band NULL).
_oracle(
    "q269_ppl_quality_bands",
    _KN_CTES
    + f""",
kn_inst AS MATERIALIZED (
  SELECT g.doc_id, {_KN_P} AS p
  FROM kn_tg g
  LEFT JOIN kn_c3 t ON g.w1 = t.w1 AND g.w2 = t.w2 AND g.w3 = t.w3
  LEFT JOIN kn_c2 c2 ON g.w1 = c2.w1 AND g.w2 = c2.w2
  LEFT JOIN kn_cc cc ON g.w2 = cc.w2 AND g.w3 = cc.w3
  LEFT JOIN kn_mid mid ON g.w2 = mid.w2
  LEFT JOIN kn_n1 n1 ON g.w3 = n1.w3
),
kn_ppl AS MATERIALIZED (
  SELECT doc_id, COUNT(*) AS n_tokens,
         ROUND(exp(-SUM(ln(p)) / COUNT(*)), 6) AS ppl
  FROM kn_inst GROUP BY doc_id
),
kn_dist AS (
  SELECT ppl, COUNT(*) AS c FROM kn_ppl GROUP BY ppl
),
kn_cum AS (
  SELECT ppl,
         COALESCE(SUM(c) OVER (
           ORDER BY ppl
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
         ), 0) AS lo
  FROM kn_dist
),
kn_tot AS (SELECT COUNT(*) AS n FROM kn_ppl)
SELECT p.doc_id, p.n_tokens, p.ppl,
       CAST(LEAST(3, 1 + FLOOR(3 * c.lo / (SELECT n FROM kn_tot)))
            AS INT) AS band
FROM kn_ppl p JOIN kn_cum c ON p.ppl = c.ppl
""",
)
