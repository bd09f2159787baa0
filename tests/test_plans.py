"""Physical-plan assertions: the optimizations must actually be in the plan.

Guards the scale story: broadcasts chosen for small dimensions, column
pruning reaching the parquet scan, top-k compiling to
TakeOrderedAndProject (no global sort), partial aggregation before
shuffles, and no accidental cartesian products.
"""

from __future__ import annotations

import os

from pagerank_spark.graph.loop import Pins
from tests.test_oracle_parity import ENTRY, plan

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


def test_q12_broadcasts_dimensions(spark):
    p = plan(ENTRY.queries()["q12_customer_nation_region"](spark, SF_DIR))
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p


def test_q03_topk_is_take_ordered(spark):
    p = plan(ENTRY.queries()["q03_out_degree_top20"](spark, SF_DIR))
    assert "TakeOrderedAndProject" in p


def test_edge_scan_prunes_columns(spark):
    # The derived edge table must read ONLY the two key columns of
    # lineitem — an 11-column scan for a 2-column projection is wrong.
    p = plan(ENTRY.queries()["q01_edge_scan"](spark, SF_DIR))
    assert "l_orderkey" in p and "l_partkey" in p
    assert "l_extendedprice" not in p and "l_shipdate" not in p


def test_q11_partial_aggregation(spark):
    # Hash aggregate must run map-side (partial) before the exchange.
    p = plan(ENTRY.queries()["q11_lineitem_agg"](spark, SF_DIR))
    assert p.count("HashAggregate") >= 2
    assert "Exchange" in p


def test_q11_pushes_column_pruning(spark):
    p = plan(ENTRY.queries()["q11_lineitem_agg"](spark, SF_DIR))
    assert "l_orderkey" not in p.split("ReadSchema")[-1]


def test_q28_broadcasts_query_side(spark):
    # ANN brute force: the (small) query set is broadcast, the corpus
    # streams — a BroadcastNestedLoopJoin, never a shuffled cartesian.
    p = plan(ENTRY.queries()["q28_ann_bruteforce"](spark, SF_DIR))
    assert "BroadcastNestedLoopJoin" in p
    assert "CartesianProduct" not in p


def test_q27_no_cartesian_anywhere(spark):
    # MinHash LSH candidate generation must join on (band, sig) buckets.
    p = plan(ENTRY.queries()["q27_minhash_lsh"](spark, SF_DIR))
    assert "CartesianProduct" not in p


def test_q08_semi_joins(spark):
    p = plan(ENTRY.queries()["q08_induced_subgraph"](spark, SF_DIR))
    assert "LeftSemi" in p
    assert "CartesianProduct" not in p


def test_bucketed_join_avoids_shuffle(spark, tmp_path):
    # Two tables bucketed on the join key: the join plan must contain NO
    # shuffle exchange — bucketing pre-paid it at write time.
    from pagerank_spark.io import write_bucketed

    e = spark.range(0, 1000).selectExpr("id AS k", "id * 2 AS a")
    d = spark.range(0, 100).selectExpr("id AS k", "id * 3 AS b")
    write_bucketed(e, "bkt_left", str(tmp_path / "l"), ["k"], n_buckets=8)
    write_bucketed(d, "bkt_right", str(tmp_path / "r"), ["k"], n_buckets=8)
    try:
        joined = (
            spark.table("bkt_left")
            .hint("merge")  # force SMJ so broadcast doesn't mask the test
            .join(spark.table("bkt_right"), on="k")
        )
        p = plan(joined)
        assert "Exchange hashpartitioning" not in p
        assert joined.count() == 100
    finally:
        spark.sql("DROP TABLE IF EXISTS bkt_left")
        spark.sql("DROP TABLE IF EXISTS bkt_right")


def test_partitioned_write_prunes_at_scan(spark, tmp_path):
    # A filter on the partition column must prune directories at planning
    # time (PartitionFilters), not scan-and-discard.
    from pagerank_spark.io import load_table, write_parquet

    ev = load_table(spark, SF_DIR, "events")
    out = str(tmp_path / "events_parted")
    write_parquet(ev, out, partition_by=["event_type"])
    back = spark.read.parquet(out).where("event_type = 'purchase'")
    p = plan(back)
    seg = p.split("PartitionFilters")[-1]
    assert "event_type" in seg.split("PushedFilters")[0]
    assert back.count() > 0


def test_whole_stage_codegen_active(spark):
    # AQE finalizes the plan at execution — run the query, then check the
    # executed plan runs inside whole-stage-codegen spans (no Python).
    df = ENTRY.queries()["q21_fingerprint"](spark, SF_DIR)
    df.collect()
    executed = df._jdf.queryExecution().executedPlan().toString()
    assert "*(" in executed  # '*(n)' = whole-stage-codegen span markers
    assert "partial_bit_xor" in executed  # map-side combine before shuffle
    assert "BatchEvalPython" not in executed  # no row-at-a-time Python


def test_q49_broadcasts_customer_and_pushes_filters(spark):
    # TPC-H Q3 shape: the segment-filtered customer dim must broadcast,
    # and the shipdate cutoff must reach the lineitem parquet scan.
    p = plan(ENTRY.queries()["q49_tpch_q3"](spark, SF_DIR))
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p
    assert "PushedFilters" in p and "l_shipdate" in p
    assert "TakeOrderedAndProject" in p


def test_q44_anti_join_no_nested_loop(spark):
    p = plan(ENTRY.queries()["q44_customers_without_orders"](spark, SF_DIR))
    assert "LeftAnti" in p
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_q09_bounds_before_global_window(spark):
    # TakeOrdered-then-number: the physical plan must bound the input
    # with TakeOrderedAndProject BEFORE the single-partition row_number
    # window — never globally sort the full degree table.
    p = plan(ENTRY.queries()["q09_positions"](spark, SF_DIR))
    assert "TakeOrderedAndProject" in p
    # The only Sort nodes allowed are the window's local sort of the
    # bounded 50-row input (after the TakeOrdered), not a global
    # Exchange rangepartitioning sort of the full table.
    assert "rangepartitioning" not in p


def test_q10_bounds_before_global_window(spark):
    p = plan(ENTRY.queries()["q10_positional_join"](spark, SF_DIR))
    assert "TakeOrderedAndProject" in p
    assert "rangepartitioning" not in p


def test_q29_lsh_path_no_cartesian(spark):
    # The declared embedding-near-dup query must run the bucketed LSH
    # plan: equi-join on (band, bucket), no crossJoin anywhere.
    p = plan(ENTRY.queries()["q29_embedding_neardup"](spark, SF_DIR))
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_q56_ann_lsh_no_cartesian(spark):
    p = plan(ENTRY.queries()["q56_ann_lsh"](spark, SF_DIR))
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_q48_pivot_no_distinct_job_no_join(spark):
    # Explicit pivot values → a two-stage aggregate (group-by, then
    # pivotfirst) with no distinct-values job and no join; both
    # exchanges carry already-reduced rows.
    p = plan(ENTRY.queries()["q48_pivot_status"](spark, SF_DIR))
    assert "pivotfirst" in p
    assert "Join" not in p
    assert p.count("Arguments: hashpartitioning") == 2


def test_q59_interval_join_equi_plan(spark):
    # The time-bounded correlation must be a bucketed EQUI-join, not a
    # nested-loop range join.
    p = plan(ENTRY.queries()["q59_interval_join"](spark, SF_DIR))
    assert "BroadcastNestedLoopJoin" not in p
    assert "CartesianProduct" not in p


def test_q62_broadcasts_dimensions(spark):
    p = plan(ENTRY.queries()["q62_tpch_q7_volume"](spark, SF_DIR))
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p


def test_q74_aggregates_before_join_and_bounds_sort(spark):
    """Q18 shape: the HAVING aggregate must run on the pruned fact scan
    (2 columns) BEFORE the dimension joins, and the final order-by-100
    must compile to TakeOrderedAndProject, not a global sort."""
    p = plan(ENTRY.queries()["q74_tpch_q18"](spark, SF_DIR))
    assert "TakeOrderedAndProject" in p
    assert "struct<l_orderkey:bigint,l_quantity:double>" in p
    assert "CartesianProduct" not in p


def test_q75_semi_anti_hash_joins(spark):
    """Q21's EXISTS/NOT EXISTS must compile to hash semi/anti joins —
    a BroadcastNestedLoopJoin here would be quadratic in the fact."""
    p = plan(ENTRY.queries()["q75_tpch_q21"](spark, SF_DIR))
    assert "LeftSemi" in p
    assert "LeftAnti" in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "CartesianProduct" not in p


def test_q79_single_shuffle_shared_window(spark):
    """Both trailing aggregates share one window spec: ONE exchange
    (the events scan feeds a single partition-by-type sort), and the
    deterministic user-subset filter reaches the scan."""
    p = plan(ENTRY.queries()["q79_range_moving_window"](spark, SF_DIR))
    assert p.count("Arguments: hashpartitioning") == 1
    assert p.count("Window") >= 1
    assert "(user_id#" in p and "% 20)" in p  # filter at/near the scan


def test_q82_salt_replicates_not_cartesian(spark):
    """The salted join must stay an equi hash join on (key, salt) with
    the small side replicated via explode — never a cartesian."""
    p = plan(ENTRY.queries()["q82_salted_skew_join"](spark, SF_DIR))
    assert "explode" in p
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_q95_single_fused_scan(spark):
    """language_id + quality_score compose column-wise: ONE documents
    scan, one aggregation exchange, no join anywhere."""
    import re

    p = plan(ENTRY.queries()["q95_curation_pipeline"](spark, SF_DIR))
    # formatted explain prints each node twice (tree + details); the
    # numbered detail header appears once per physical node.
    assert len(re.findall(r"\(\d+\) Scan parquet", p)) == 1
    assert "Join" not in p
    assert p.count("Arguments: hashpartitioning") == 1


def test_q97_gapfill_no_cartesian(spark):
    """The hour grid explodes per-type spans — never a calendar cross
    join."""
    p = plan(ENTRY.queries()["q97_resample_gapfill"](spark, SF_DIR))
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "Generate" in p  # the sequence() explode


def test_q100_histogram_partial_aggregates(spark):
    """width_bucket histogram: partial agg before the single shuffle,
    2-column pruned scan."""
    p = plan(ENTRY.queries()["q100_width_bucket_histogram"](spark, SF_DIR))
    assert "partial_count" in p
    assert p.count("Arguments: hashpartitioning") == 1


def test_q107_gopher_single_fused_scan(spark):
    # All structure features + the gate must fuse into ONE projection
    # over one scan — no Python eval, no join, no extra exchange beyond
    # the per-source aggregation.
    p = plan(ENTRY.queries()["q107_gopher_quality"](spark, SF_DIR))
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    assert "Join" not in p
    # one scan node = two mentions (tree line + detail section)
    assert p.count("Scan parquet") == 2


def test_q108_pii_no_python_single_scan(spark):
    p = plan(ENTRY.queries()["q108_pii_redact"](spark, SF_DIR))
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    assert p.count("Scan parquet") == 2  # one node: tree + detail
    assert "Exchange" not in p  # pure row-local projection


def test_q109_mix_broadcasts_plan_table(spark):
    # The per-group sampling plan is group-cardinality-sized and must
    # broadcast back onto the corpus — never a shuffle join, never a
    # cartesian beyond the scalar-T attachment.
    p = plan(ENTRY.queries()["q109_sample_to_mix"](spark, SF_DIR))
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p
    assert "CartesianProduct" not in p


def test_q110_decontamination_broadcasts_benchmark(spark):
    # The eval-set shingles broadcast; the corpus side never shuffles
    # for the overlap join.
    p = plan(ENTRY.queries()["q110_decontamination"](spark, SF_DIR))
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p
    assert "BatchEvalPython" not in p


def test_q111_boilerplate_no_window(spark):
    # Order-stable reassembly must come from sort_array inside the
    # aggregate, not a window (a window would add a full sort per doc
    # partition on top of the agg exchange).
    p = plan(ENTRY.queries()["q111_boilerplate_lines"](spark, SF_DIR))
    assert "Window" not in p
    assert "BatchEvalPython" not in p


def test_q117_bloom_bits_broadcast(spark):
    # The set-bit relation is bounded by k*|eval shingles| and must
    # reach the corpus probes as a broadcast join — a shuffle here
    # would defeat the whole point of the filter.
    p = plan(ENTRY.queries()["q117_bloom_decontaminate"](spark, SF_DIR))
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p
    assert "BatchEvalPython" not in p


def test_q118_pack_no_global_single_partition_window(spark):
    # The token offsets must come from the two-level prefix sum: the
    # only SinglePartition exchange allowed is the block-totals table
    # (bounded by the block count), never the data-sized window.
    p = plan(ENTRY.queries()["q118_pack_sequences"](spark, SF_DIR))
    assert "Window" in p  # per-block local cumsum + tiny offsets window
    # the data-sized side partitions by block, so a hash exchange must
    # exist alongside the bounded SinglePartition one
    assert "hashpartitioning(__blk" in p
    assert "BatchEvalPython" not in p


def test_q192_sorted_neighborhood_rank_partitioned(spark):
    # The global lexicographic rank must come from the two-level
    # prefix sum (per-prefix-block row_number + bounded offsets
    # window), never an unpartitioned row_number over the whole
    # distinct-name relation — that degenerates to a single-partition
    # sort of the value space, corpus-sized for free-text columns.
    p = plan(ENTRY.queries()["q192_sorted_neighborhood"](spark, SF_DIR))
    assert "hashpartitioning(__blk" in p
    assert "row_number" in p
    assert "BatchEvalPython" not in p
    assert "CartesianProduct" not in p


def test_q127_chunking_is_shuffle_free(spark):
    # Chunking is a per-row explode: any exchange in this plan is a
    # regression (it would serialize an embarrassingly parallel op).
    p = plan(ENTRY.queries()["q127_chunk_documents"](spark, SF_DIR))
    assert "Exchange" not in p
    assert "BatchEvalPython" not in p


def test_q122_adamic_adar_no_cartesian(spark):
    # Pair enumeration must route through the shared-neighbor equi-join
    # (hub-capped), never a cross product; top-k must be TakeOrdered.
    p = plan(ENTRY.queries()["q122_adamic_adar"](spark, SF_DIR))
    assert "CartesianProduct" not in p
    assert "TakeOrderedAndProject" in p


def test_q132_hll_fuses_to_bounded_aggregate(spark):
    # The register build is one partial-combined aggregation; no
    # Python, no cartesian beyond the scalar estimate attachment.
    p = plan(ENTRY.queries()["q132_portable_hll"](spark, SF_DIR))
    assert "BatchEvalPython" not in p
    assert p.count("HashAggregate") >= 2  # partial + final register agg


def test_q84_declared_engine_is_catalyst_window(spark):
    # The driver-hashed q84 path must be the scale-default Catalyst
    # window engine: exactly one hash exchange (on the group key) and
    # no Arrow/Python evaluation anywhere in the plan. The Arrow
    # applyInPandas engine is covered by the engines-agree pytest.
    p = plan(ENTRY.queries()["q84_groupwise_zscore"](spark, SF_DIR))
    assert "ArrowEvalPython" not in p and "FlatMapGroupsInPandas" not in p
    assert "BatchEvalPython" not in p
    assert "Window" in p
    # one exchange for the window partitioning; formatted explain
    # prints each node in tree + details, so count node ids instead.
    import re

    n_exchanges = len(re.findall(r"\(\d+\) Exchange", p))
    assert n_exchanges == 1, p


def test_q186_declared_engine_is_catalyst_regr(spark):
    # The driver-hashed q186 path must be the scale-default sql moment
    # engine (q84 precedent, AB_BENCH_r10.json adjudication): one
    # partial-combined regr_* hash aggregation — exactly one exchange,
    # two HashAggregate nodes, no Arrow/Python evaluation. The Arrow
    # applyInPandas engine is covered by the engines-agree pytest.
    p = plan(ENTRY.queries()["q186_groupwise_ols"](spark, SF_DIR))
    assert "ArrowEvalPython" not in p and "FlatMapGroupsInPandas" not in p
    assert "BatchEvalPython" not in p
    import re

    n_exchanges = len(re.findall(r"\(\d+\) Exchange", p))
    assert n_exchanges == 1, p
    assert p.count("HashAggregate") >= 2  # partial + final moment agg


def test_q140_repetition_two_shuffles_no_python(spark):
    # one tokenize feeding both n-gram sizes, two partial-combined
    # aggregations, nothing Python in the plan
    import re

    p = plan(ENTRY.queries()["q140_repetition_filters"](spark, SF_DIR))
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    assert "CartesianProduct" not in p
    n_exchanges = len(re.findall(r"\(\d+\) Exchange", p))
    assert n_exchanges == 2, p
    # partial aggregation before each exchange
    assert p.count("HashAggregate") >= 4


def test_q145_dup_spans_no_cartesian_no_python(spark):
    # inverted-index shape: gram aggregation + join back, per-doc
    # aggs — never an all-pairs product, nothing Python
    p = plan(ENTRY.queries()["q145_dup_span_coverage"](spark, SF_DIR))
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    # the duplicated-gram filter is a partial-aggregated HAVING
    assert p.count("HashAggregate") >= 2
    # single-distinct aggregation: dup_starts comes from count(*)/n,
    # so no multi-distinct Expand doubles the exploded span relation
    assert "Expand" not in p


def test_q146_quantization_is_literal_folded_map(spark):
    # after the collected grid stats, the declared coding query is a
    # pure projection over the scan: ZERO exchanges, nothing Python
    import re

    p = plan(ENTRY.queries()["q146_quantize_embeddings"](spark, SF_DIR))
    assert len(re.findall(r"\(\d+\) Exchange", p)) == 0, p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


def test_q147_quantized_ann_broadcasts_queries(spark):
    # same rank shape as the exact baseline: query side broadcast,
    # corpus one pass, per-query window rank — nothing Python
    p = plan(ENTRY.queries()["q147_quantized_ann"](spark, SF_DIR))
    assert "BroadcastNestedLoopJoin" in p  # the declared scan shape
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


def test_q149_rewrite_no_cartesian_no_window(spark):
    # covered positions anti-joined out; reassembly is sort_array over
    # collect_list structs — no Window operator, no Python
    p = plan(ENTRY.queries()["q149_remove_dup_spans"](spark, SF_DIR))
    assert "CartesianProduct" not in p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    assert "Window" not in p


def test_q152_tpch_q5_broadcasts_all_dimensions(spark):
    # only the fact⋈fact join may shuffle; every dimension broadcasts
    p = plan(ENTRY.queries()["q152_tpch_q5"](spark, SF_DIR))
    assert p.count("BroadcastHashJoin") >= 3
    assert "CartesianProduct" not in p


def test_q153_tpch_q10_takeordered_and_broadcasts(spark):
    p = plan(ENTRY.queries()["q153_tpch_q10"](spark, SF_DIR))
    assert "TakeOrderedAndProject" in p
    assert p.count("BroadcastHashJoin") >= 2
    # the returnflag filter must push to the lineitem scan
    assert "l_returnflag" in p


def test_q174_scd2_single_exchange(spark):
    # All four (user, ...) windows must sit behind ONE hash exchange:
    # HashPartitioning(user_id) satisfies every window's clustering,
    # so only local sorts may separate them. A second exchange means
    # the (user, event_type) window re-shuffled the fact.
    df = ENTRY.queries()["q174_scd2_dimension"](spark, SF_DIR)
    executed = df._jdf.queryExecution().executedPlan().toString()
    assert executed.count("Exchange") == 1
    assert "BatchEvalPython" not in executed


def test_q171_bm25_no_cartesian_no_python(spark):
    p = plan(ENTRY.queries()["q171_bm25_search"](spark, SF_DIR))
    assert "CartesianProduct" not in p
    assert "BatchEvalPython" not in p
    # df(t)/N/avgdl must ride broadcasts, not shuffled joins.
    assert "BroadcastExchange" in p


def test_q171_bm25_topk_bounded_before_rank_window(spark):
    """Round-6 verdict #6: InferWindowGroupLimit does NOT fire for
    empty-partition windows on Spark 4.x, so the top-k must be a
    TakeOrderedAndProject with the rank window running AFTER the
    limit (over <= top_k rows) — never a row_number over the full
    scored corpus in one partition."""
    p = plan(ENTRY.queries()["q171_bm25_search"](spark, SF_DIR))
    assert "TakeOrderedAndProject" in p
    # the single-partition sort feeding the window sits above the
    # bounded limit, so no global Sort node over the scored relation
    take_pos = p.find("TakeOrderedAndProject")
    win_pos = p.find("Window")
    assert win_pos != -1 and take_pos != -1
    # formatted plans list downstream operators first: the Window
    # (consumer of the bounded rows) prints before the TakeOrdered
    assert win_pos < take_pos


def test_negative_samples_bucket_equi_join_no_vocab_bnl(spark):
    """Round-6 verdict #3: the draws↔CDF lookup must be a
    BroadcastHashJoin on the fixed-width bucket key (range check as
    residual), NOT a range-containment BroadcastNestedLoopJoin over
    the vocabulary — that was O(draws × vocab). The only BNLs allowed
    are the two one-row scalar (total, width) cross joins, whose
    build sides are global HashAggregates with keys=[]."""
    from pagerank_spark.graph.walks import negative_samples

    pairs = spark.createDataFrame(
        [(1, 2, 3), (2, 3, 1), (3, 1, 2), (1, 3, 5)],
        "center int, context int, cnt long",
    )
    out = negative_samples(pairs, k=2)
    simple = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin [bkt" in simple
    # every BNL in the plan is a Cross build of a 1-row global agg —
    # the vocabulary relation (keys=[context]) never feeds one
    import re

    bnl_lines = [
        ln for ln in simple.splitlines() if "BroadcastNestedLoopJoin" in ln
    ]
    assert len(bnl_lines) <= 2
    for ln in bnl_lines:
        assert "Cross" in ln


def test_q180_tpch_q22_anti_join_scalar_broadcast(spark):
    # Q22's two decorrelations: the global-avg filter is a one-row
    # broadcast (BNL against a scalar agg), never a per-row subquery,
    # and NOT EXISTS is a hash anti join, never a nested loop over
    # orders.
    p = plan(ENTRY.queries()["q180_tpch_q22"](spark, SF_DIR))
    assert "LeftAnti" in p
    assert "CartesianProduct" not in p


def test_q181_tpch_q15_scalar_max_pushdown(spark):
    p = plan(ENTRY.queries()["q181_tpch_q15"](spark, SF_DIR))
    # the shipdate window reaches the lineitem scan
    assert "PushedFilters" in p and "l_shipdate" in p
    assert "CartesianProduct" not in p


def test_q177_er_resolve_no_cartesian(spark):
    p = plan(ENTRY.queries()["q177_er_resolve"](spark, SF_DIR))
    assert "CartesianProduct" not in p
    assert "BatchEvalPython" not in p


def test_q178_novelty_no_window_no_python(spark):
    p = plan(ENTRY.queries()["q178_ngram_novelty"](spark, SF_DIR))
    assert "Window" not in p  # inverted-index min, not a window
    assert "BatchEvalPython" not in p
    assert "CartesianProduct" not in p


def test_q186_ols_single_shuffle_arrow_path(spark):
    # the arrow ENGINE (no longer the declared q186 plan — see
    # test_q186_declared_engine_is_catalyst_regr) remains the
    # legitimate Arrow shape: ONE exchange on the group key feeding
    # FlatMapGroupsInPandas — and never a row-at-a-time
    # BatchEvalPython.
    from pagerank_spark.operators.analytics import groupwise_ols

    li = spark.read.parquet(SF_DIR + "/lineitem.parquet")
    df = groupwise_ols(
        li,
        ["l_returnflag", "l_linestatus"],
        "l_quantity",
        "l_extendedprice",
        engine="arrow",
    )
    p = plan(df)
    assert "FlatMapGroupsInPandas" in p
    assert "BatchEvalPython" not in p
    # the formatted plan names each node twice (tree + detail): one
    # Exchange node == one "Exchange (" tree entry
    assert p.count("Exchange (") == 1


def test_q187_containment_no_cartesian(spark):
    p = plan(ENTRY.queries()["q187_containment_pairs"](spark, SF_DIR))
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_q190_partitioned_window_group_limit_fires(spark):
    # The PARTITIONED rank window must get the rank-limit pushdown
    # (WindowGroupLimit: partial per-partition top-k BEFORE the
    # exchange) — the complement of q171's empty-partition lesson.
    p = plan(ENTRY.queries()["q190_daily_top_events"](spark, SF_DIR))
    assert "WindowGroupLimit" in p
    assert "BatchEvalPython" not in p


def test_q194_corr_matrix_single_scan(spark):
    # k^2 corr cells, ONE scan + ONE aggregation: the stack unpivot
    # must not replay the aggregate per cell.
    import re

    p = plan(ENTRY.queries()["q194_corr_matrix"](spark, SF_DIR))
    # formatted plans name each node in the tree AND the detail
    # section — count detail entries
    assert len(re.findall(r"\(\d+\) Scan parquet", p)) == 1
    assert "Generate" in p  # the stack unpivot, not a union replay


def test_stats_tier_single_scan_no_python(spark):
    # Every stats operator collapses the corpus in ONE pruned scan —
    # a second scan means the tiny-relation arithmetic re-read the
    # fact table; Python eval means the statistic left codegen.
    import re

    for q in (
        "q196_lang_source_mi",
        "q197_markov_transitions",
        "q198_welch_ttest",
        "q200_ab_assign_srm",
        "q201_jackknife_ci",
    ):
        p = plan(ENTRY.queries()[q](spark, SF_DIR))
        assert len(re.findall(r"\(\d+\) Scan parquet", p)) == 1, q
        assert "BatchEvalPython" not in p, q
        assert "ArrowEvalPython" not in p, q


def test_q198_welch_one_pass_conditional_agg(spark):
    # six per-arm aggregates as ONE HashAggregate pass, never a scan
    # (or aggregate) per arm
    p = plan(ENTRY.queries()["q198_welch_ttest"](spark, SF_DIR))
    assert "Union" not in p


def test_stats_batch2_single_scan_no_python(spark):
    import re

    for q in (
        "q204_benford_audit",
        "q205_source_concentration",
        "q206_k_anonymity",
        "q207_cusum_changepoint",
    ):
        p = plan(ENTRY.queries()[q](spark, SF_DIR))
        assert len(re.findall(r"\(\d+\) Scan parquet", p)) == 1, q
        assert "BatchEvalPython" not in p, q
        assert "ArrowEvalPython" not in p, q


def test_q202_q203_runtime_exchange_reuse(spark):
    # spearman/chi2 reference the joint-count relation from several
    # branches; the static plan shows one scan per branch but the
    # identical exchange must be computed ONCE at runtime — a missing
    # ReusedExchange means the corpus is actually scanned per branch.
    import re

    for q in ("q202_spearman_corr", "q203_chi2_independence"):
        df = ENTRY.queries()[q](spark, SF_DIR)
        df.collect()
        p = plan(df)
        n_scans = len(re.findall(r"\(\d+\) Scan parquet", p))
        n_reused = len(re.findall(r"ReusedExchange", p))
        assert n_reused >= n_scans - 1, (q, n_scans, n_reused)


def test_q216_q7_date_band_pushed_and_dims_broadcast(spark):
    # The two-year ship-date band must reach the lineitem scan; the
    # nation-annotated supplier dim must come in as a broadcast.
    p = plan(ENTRY.queries()["q216_tpch_q7"](spark, SF_DIR))
    assert "PushedFilters" in p
    assert "l_shipdate" in p.split("PushedFilters")[1][:600]
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p


def test_q221_ahash_pairs_banded_not_allpairs(spark):
    # Candidate generation must be the (band, value) equi-join — a
    # cartesian/nested-loop over images is the all-pairs scan the
    # banding exists to avoid.
    p = plan(ENTRY.queries()["q221_image_ahash_neardup"](spark, SF_DIR))
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_q219_stratified_window_is_partitioned(spark):
    # The rank window must be PARTITIONED BY the strata — never a
    # global single-partition row_number over the corpus.
    p = plan(ENTRY.queries()["q219_stratified_sample"](spark, SF_DIR))
    assert "row_number" in p
    assert "hashpartitioning(lang" in p
    assert "SinglePartition" not in p


def test_q224_percentile_rank_partitioned_no_python(spark):
    # Continuous column: the midranks must come from the blocked
    # two-level prefix sum (hash exchange on __blk), never a
    # SinglePartition sort of the corpus-sized distinct relation; the
    # only SinglePartition exchange allowed is the block-totals table.
    p = plan(ENTRY.queries()["q224_percentile_rank"](spark, SF_DIR))
    assert "hashpartitioning(__blk" in p
    assert "BatchEvalPython" not in p


def test_q222_pmi_single_corpus_exchange(spark):
    # One tokenization + one per-doc lead() window: every consumer
    # (unigrams, pairs, scalars) must reuse that exchange at runtime —
    # a missing ReusedExchange means the corpus is re-tokenized.
    import re

    df = ENTRY.queries()["q222_word_pmi"](spark, SF_DIR)
    df.collect()
    p = plan(df)
    assert "CartesianProduct" not in p
    assert "BatchEvalPython" not in p
    n_scans = len(re.findall(r"\(\d+\) Scan parquet", p))
    n_reused = len(re.findall(r"ReusedExchange", p))
    assert n_reused >= n_scans - 1, (n_scans, n_reused)


def test_q209_filters_pushed_to_scan(spark):
    p = plan(ENTRY.queries()["q209_tpch_q6"](spark, SF_DIR))
    # quantity/discount bands must reach the parquet reader
    assert "PushedFilters" in p
    assert "l_quantity" in p.split("PushedFilters")[1][:400]
    assert "Exchange" in p  # only the scalar combine
    assert "Join" not in p


def test_q212_disjunctive_brackets_stay_hash_join(spark):
    # the OR-of-brackets residual must NOT demote the partkey
    # equi-join to a nested loop
    p = plan(ENTRY.queries()["q212_tpch_q19"](spark, SF_DIR))
    assert "BroadcastHashJoin" in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "CartesianProduct" not in p


def test_q213_dimensions_broadcast(spark):
    p = plan(ENTRY.queries()["q213_tpch_q8"](spark, SF_DIR))
    assert p.count("BroadcastHashJoin") >= 3
    assert "CartesianProduct" not in p


def test_q214_semi_join_with_range_residual(spark):
    # mixed equi + non-equi EXISTS: still a hash/merge semi join on
    # orderkey, never a nested loop over the fact pair
    p = plan(ENTRY.queries()["q214_tpch_q4"](spark, SF_DIR))
    assert "LeftSemi" in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "CartesianProduct" not in p


def test_q184_equidepth_uses_sketch_not_exact_percentile(spark):
    # cutpoints must come from the mergeable GK sketch
    # (approx_percentile), never the exact `percentile` whose
    # aggregation buffer holds EVERY value — the 100 TB killer this
    # operator used to carry. Bucket assignment stays a scan-side
    # fold over the broadcast one-row cutpoint relation.
    p = plan(ENTRY.queries()["q184_equidepth_hist"](spark, SF_DIR))
    assert "approx_percentile" in p
    assert "percentile(" not in p.replace("approx_percentile(", "")
    assert "BroadcastExchange" in p
    assert "Window" not in p  # never ntile over a global window
    assert "BatchEvalPython" not in p


def test_q215_kaplan_meier_windows_over_times_not_units(spark):
    # at-risk counts and the survival product are windows over the
    # DISTINCT EVENT TIME relation (post-aggregation), so the single
    # unpartitioned window sorts dozens of rows, not the corpus; the
    # corpus-side work is plain hash aggregation.
    p = plan(ENTRY.queries()["q215_kaplan_meier"](spark, SF_DIR))
    assert "Window" in p
    assert "BatchEvalPython" not in p
    assert "CartesianProduct" not in p


def test_q236_q237_media_walks_zero_shuffle_arrow_only(spark):
    # Container-metadata walks are pure per-row Arrow compute: the
    # plan must carry NO exchange at all (partition-parallel over the
    # payload column) and exactly the MapInPandas surface — never a
    # row-at-a-time BatchEvalPython.
    import re

    for q in ("q236_mp4_container_meta", "q237_mp3_frame_walk"):
        p = plan(ENTRY.queries()[q](spark, SF_DIR))
        assert len(re.findall(r"\(\d+\) Exchange", p)) == 0, q
        assert "MapInPandas" in p, q
        assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


def test_q238_session_window_single_shuffle_no_python(spark):
    # The native merging-window aggregation: ONE exchange on the
    # session key feeding the SessionWindow physical operator, all
    # JVM-side.
    import re

    p = plan(ENTRY.queries()["q238_session_window_native"](spark, SF_DIR))
    assert len(re.findall(r"\(\d+\) Exchange", p)) == 1, p
    assert "session_window" in p or "SessionWindow" in p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


def test_q240_training_order_no_global_sort(spark):
    # The distributed rank must never range-partition the data for a
    # global sort or single-partition window: one hash exchange on the
    # block key plus the broadcast offset join; the only
    # single-partition window runs over the blocks-row offsets
    # relation (an aggregate, not the data).
    p = plan(ENTRY.queries()["q240_training_order"](spark, SF_DIR))
    assert "rangepartitioning" not in p
    assert "BroadcastHashJoin" in p  # offsets relation broadcast back
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


def test_logreg_training_round_plan(spark):
    """The q253 trainer's per-round gradient plan (the plan the blanket
    gate cannot see — the query's returned weights are a LocalRelation
    built AFTER training): the weight join must be a BroadcastHashJoin,
    the margin/residual joins must reuse the cached id partitioning
    (SortMergeJoin or co-partitioned hash, never a new exchange of the
    big feature relation beyond the one up-front repartition), and no
    cartesian / row-Python anywhere."""
    import re

    from pyspark.sql import functions as F

    from pagerank_spark.operators.classifier import hashed_token_features

    docs = spark.read.parquet(os.path.join(SF_DIR, "documents.parquet"))
    feats = hashed_token_features(docs, n_features=64)
    labels = docs.select(
        "doc_id", (F.col("lang") == "en").cast("double").alias("y")
    )
    # replicate one mid-training round's plan exactly as logreg_train
    # builds it (broadcast weights literal relation, cached xb/lab)
    xb = feats.select(
        "doc_id",
        F.col("feature_index").cast("long").alias("feature_index"),
        F.col("feature_value").cast("double").alias("feature_value"),
    ).unionByName(
        labels.select(
            "doc_id",
            F.lit(-1).cast("long").alias("feature_index"),
            F.lit(1.0).alias("feature_value"),
        )
    ).repartition(32, "doc_id").persist()
    lab = labels.select(
        "doc_id", F.col("y").alias("__y")
    ).repartition(32, "doc_id").persist()
    try:
        xb.count()
        lab.count()
        wdf = spark.createDataFrame(
            [(i, 0.01 * i) for i in range(-1, 64)],
            "feature_index long, __w double",
        )
        margins = (
            xb.join(F.broadcast(wdf), on="feature_index")
            .groupBy("doc_id")
            .agg(F.sum(F.col("feature_value") * F.col("__w")).alias("__m"))
        )
        scored = lab.join(margins, on="doc_id", how="left").select(
            "doc_id",
            (
                F.lit(1.0)
                / (F.lit(1.0) + F.exp(-F.coalesce(F.col("__m"), F.lit(0.0))))
                - F.col("__y")
            ).alias("__r"),
        )
        grad = (
            xb.join(scored, on="doc_id")
            .groupBy("feature_index")
            .agg(
                (F.sum(F.col("feature_value") * F.col("__r")) / 500.0).alias(
                    "__g"
                )
            )
        )
        p = plan(grad)
        assert "BroadcastHashJoin" in p  # the weight join
        assert "CartesianProduct" not in p
        assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
        # partial (map-side) aggregation before the feature_index shuffle
        assert "partial_sum" in p or "HashAggregate" in p
        # the only NEW exchanges allowed in a round: the broadcast
        # exchange for the weights and the tiny feature_index-keyed
        # aggregation exchange — the big relation's id partitioning
        # comes from the cache, not a fresh shuffle per round
        exchanges = re.findall(r"Exchange (\w+)", p)
        hash_exchanges = [
            e for e in exchanges if e.startswith("hashpartitioning")
        ]
        assert len(hash_exchanges) <= 1, exchanges
    finally:
        Pins().release(xb, lab)
