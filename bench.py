#!/usr/bin/env python
"""Headline benchmark: runs the flagship queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric": ..., "value": N, "unit": "sec", "queries": {...},
"sf": ...}.

Query selection covers each engine tier:
- pagerank_full  — the end-to-end iterative loop on the derived graph
  (plus WikiData when the reference dataset is readable): the
  reference's own benchmark shape (BASELINE.md).
- q11/q12/q18    — relational star-schema aggregation + multi-join.
- q03/q08/q16    — graph relational ops (top-k, induced subgraph,
  adjacency collect).
- q21/q22        — text tier at full table scale.
- q27/q28        — dedup + ANN tiers.

Each timing is wall-clock around a full action (collect of a bounded
result); Spark/JVM startup is excluded (session built first).
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)


def infer_round(repo: str = REPO) -> int:
    """Round number for the BENCH_LOCAL artifact when SPARK_GRAFT_ROUND
    is unset: the newest committed ``PARITY_r*.json`` round. Parity
    artifacts are committed exactly once per round at close and are
    monotonic, so ANY bench run between round-N close and round-N+1
    close labels itself rN — in particular the driver's post-close run,
    which the old ``max(CORRECTNESS_r*)+1`` inference mislabeled as
    rN+1 twice (BENCH_LOCAL_r12.json in round 11, the r9 ADVICE item
    before that). Falls back to the CORRECTNESS inference only when no
    parity artifact exists (round 1)."""
    import glob
    import re

    parity = [
        int(m.group(1))
        for p in glob.glob(os.path.join(repo, "PARITY_r*.json"))
        if (m := re.search(r"PARITY_r(\d+)\.json$", p))
    ]
    if parity:
        return max(parity)
    corr = [
        int(m.group(1))
        for p in glob.glob(os.path.join(repo, "CORRECTNESS_r*.json"))
        if (m := re.search(r"CORRECTNESS_r(\d+)\.json$", p))
    ]
    return (max(corr) + 1) if corr else 0

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
WIKIDATA = "/root/reference/WikiData.txt"

# Best observed per-query seconds on the CURRENT host window — the
# regression baseline. Round 14 regenerated the whole table under the
# protocol below (the r12 2-pass in-process protocol no longer fits
# the wall cap, so minima come from the five solo r13 close-window
# runs + the driver's run, folded into the historical minima — the
# per-seed adjudication history lives in git blame of this block).
# Any query >1.5x its current-window baseline gets a stderr warning
# so a real plan regression can't land silently. Only meaningful at
# sf0.1. HOST_BASELINE_PROTOCOL is recorded in every BENCH_LOCAL
# artifact so a future round can tell which protocol seeded the
# guard it is comparing against.
HOST_BASELINE_PROTOCOL = (
    "min over r13 close-window runs BENCH_LOCAL_r13{,B,C,D,E} + the "
    "driver's BENCH_r13, folded into the historical per-query minima "
    "(each solo single-pass on this host; the r12 2-pass in-process "
    "protocol no longer fits the wall cap)"
)
HOST_BASELINE = {
    "hits_loop_k10": 7.136,
    "pagerank_full": 2.68,
    "pagerank_wikidata": 3.718,
    "q03_out_degree_top20": 0.257,
    "q08_induced_subgraph": 0.567,
    "q107_gopher_quality": 0.433,
    "q109_sample_to_mix": 0.598,
    "q110_decontamination": 1.134,
    "q112_tfidf_top_terms": 0.962,
    "q117_bloom_decontaminate": 1.681,
    "q118_pack_sequences": 0.558,
    "q119_unigram_logprob": 0.59,
    "q11_lineitem_agg": 0.373,
    "q121_cms_heavy_hitters": 1.402,
    "q122_adamic_adar": 0.903,
    "q124_hits": 2.326,
    "q125_katz_centrality": 1.162,
    "q12_customer_nation_region": 0.387,
    "q140_repetition_filters": 0.862,
    "q145_dup_span_coverage": 2.537,
    "q146_quantize_embeddings": 0.544,
    "q147_quantized_ann": 1.177,
    "q150_bpe_train": 1.814,
    "q159_random_walks": 1.35,
    "q16_adjacency_lists": 0.372,
    "q171_bm25_search": 0.712,
    "q175_fuzzy_pairs": 0.333,
    "q176_profile_columns": 0.867,
    "q184_equidepth_hist": 1.882,
    "q186_groupwise_ols": 0.489,
    "q187_containment_pairs": 2.194,
    "q18_top_customers": 0.476,
    "q191_pq_ann": 2.099,
    "q192_sorted_neighborhood": 0.68,
    "q193_event_type_cooccurrence": 0.428,
    "q194_corr_matrix": 0.389,
    "q195_readability": 0.282,
    "q196_lang_source_mi": 0.328,
    "q197_markov_transitions": 0.567,
    "q198_welch_ttest": 0.277,
    "q199_mad_outliers": 1.225,
    "q200_ab_assign_srm": 0.378,
    "q201_jackknife_ci": 0.601,
    "q202_spearman_corr": 3.186,
    "q203_chi2_independence": 0.649,
    "q204_benford_audit": 0.372,
    "q205_source_concentration": 0.287,
    "q206_k_anonymity": 0.267,
    "q207_cusum_changepoint": 0.426,
    "q208_rfm_segments": 0.689,
    "q209_tpch_q6": 0.246,
    "q210_tpch_q14": 0.355,
    "q211_tpch_q17": 0.432,
    "q212_tpch_q19": 0.482,
    "q213_tpch_q8": 0.962,
    "q214_tpch_q4": 0.666,
    "q215_kaplan_meier": 0.711,
    "q216_tpch_q7": 0.891,
    "q217_tpch_q9": 0.894,
    "q218_tpch_q13": 0.561,
    "q219_stratified_sample": 0.352,
    "q21_fingerprint": 0.617,
    "q220_event_acf": 0.733,
    "q221_image_ahash_neardup": 1.411,
    "q222_word_pmi": 1.248,
    "q223_feature_hash": 0.375,
    "q224_percentile_rank": 2.367,
    "q225_funnel_times": 0.661,
    "q226_cuped": 0.338,
    "q227_ab_ztest": 0.342,
    "q228_weighted_sample": 0.289,
    "q229_seasonal_decompose": 0.577,
    "q22_language_id": 0.394,
    "q230_groupwise_gini": 0.668,
    "q232_seasonal_naive_backtest": 0.326,
    "q233_calibration_report": 1.075,
    "q234_ivf_build": 5.986,
    "q234_ivf_serve": 0.91,
    "q235_image_resize": 0.648,
    "q236_mp4_container_meta": 0.315,
    "q237_mp3_frame_walk": 0.329,
    "q238_session_window_native": 0.657,
    "q239_merge_schema_evolution": 1.356,
    "q240_training_order": 0.417,
    "q241_mixture_order": 1.173,
    "q242_gif_decode": 1.562,
    "q243_betweenness_centrality": 2.545,
    "q244_curation_provenance": 1.177,
    "q245_tiff_decode": 1.315,
    "q246_hybrid_retrieval": 0.981,
    "q247_hll_rollup": 0.803,
    "q248_bottomk_sample": 0.235,
    "q249_weighted_bottomk": 0.5,
    "q250_retention_cohorts": 0.619,
    "q251_progressive_jpeg": 4.692,
    "q252_interlaced_palette_png": 0.551,
    "q253_logreg_train": 3.151,
    "q254_unigram_lm_train": 3.642,
    "q255_flac_decode": 9.91,
    "q256_node2vec_walks": 7.59,
    "q257_unigram_segment_stats": 5.446,
    "q258_logreg_score_corpus": 4.295,
    "q259_ppmi_svd_embeddings": 20.705,
    "q260_kn_lm_train": 1.669,
    "q261_kn_perplexity": 2.811,
    "q262_softmax_train": 5.836,
    "q263_softmax_language_id": 7.595,
    "q264_audio_neardup": 0.945,
    "q27_minhash_lsh": 1.3,
    "q28_ann_bruteforce": 0.897,
    "q30_tumbling_window": 0.311,
    "q35_sessionize": 0.527,
    "q39_revenue_per_nation": 0.87,
    "q43_asof_join": 0.367,
    "q49_tpch_q3": 0.671,
    "q52_shortest_paths": 2.543,
    "q56_ann_lsh": 2.315,
    "q57_label_propagation": 3.474,
    "q59_interval_join": 0.577,
    "q63_weighted_sssp": 1.448,
    "q74_tpch_q18": 0.662,
    "q75_tpch_q21": 1.688,
    "q77_stats_agg": 0.345,
    "q84_groupwise_zscore": 0.23,
    "q85_sketch_quantiles": 0.565,
    "q90_neardup_clusters": 3.701,
    "q95_curation_pipeline": 0.646,
}
REGRESSION_FACTOR = 1.5


def main() -> None:
    import __spark_entry__ as entry_mod
    from pagerank_spark.graph.loop import Pins
    from pagerank_spark.graph.pagerank import pagerank, top_k
    from pagerank_spark.io import read_edge_list
    from pagerank_spark.session import get_spark

    spark = get_spark(app_name="pagerank_spark-bench")
    spark.sparkContext.setLogLevel("ERROR")

    queries = entry_mod.queries()
    bench_queries = [
        "q03_out_degree_top20",
        "q08_induced_subgraph",
        "q11_lineitem_agg",
        "q12_customer_nation_region",
        "q16_adjacency_lists",
        "q18_top_customers",
        "q21_fingerprint",
        "q22_language_id",
        "q27_minhash_lsh",
        "q28_ann_bruteforce",
        "q30_tumbling_window",
        "q35_sessionize",
        "q39_revenue_per_nation",
        "q43_asof_join",
        "q49_tpch_q3",
        "q52_shortest_paths",
        # round-3 tiers:
        "q56_ann_lsh",
        "q57_label_propagation",
        "q59_interval_join",
        "q63_weighted_sssp",
        # round-3b tiers (no prior baseline — these SET the baseline):
        "q74_tpch_q18",
        "q75_tpch_q21",
        "q77_stats_agg",
        "q84_groupwise_zscore",
        "q85_sketch_quantiles",
        "q90_neardup_clusters",
        "q95_curation_pipeline",
        # round-5 curation tier (no prior baseline — these SET it):
        "q107_gopher_quality",
        "q109_sample_to_mix",
        "q110_decontamination",
        "q112_tfidf_top_terms",
        # round-5b tiers (no prior baseline — these SET it):
        "q117_bloom_decontaminate",
        "q118_pack_sequences",
        "q119_unigram_logprob",
        "q121_cms_heavy_hitters",
        "q122_adamic_adar",
        "q124_hits",
        "q125_katz_centrality",
        # round-6 tier (no prior baseline — these SET it):
        "q140_repetition_filters",
        # round-6b tier (no prior baseline — these SET it):
        "q145_dup_span_coverage",
        "q146_quantize_embeddings",
        "q147_quantized_ann",
        "q150_bpe_train",
        "q159_random_walks",
        # round-6c tier (no prior baseline — these SET it):
        "q171_bm25_search",
        # round-7 tier (no prior baseline — these SET it):
        "q175_fuzzy_pairs",
        "q176_profile_columns",
        "q184_equidepth_hist",
        "q186_groupwise_ols",
        "q187_containment_pairs",
        "q191_pq_ann",
        "q197_markov_transitions",
        "q199_mad_outliers",
        "q201_jackknife_ci",
        "q202_spearman_corr",
        "q208_rfm_segments",
        "q209_tpch_q6",
        "q213_tpch_q8",
        # round-8 tail (no prior baseline — these SET it): the rest of
        # the round-7 declarations, regression-tracked per VERDICT r7 #4.
        "q192_sorted_neighborhood",
        "q193_event_type_cooccurrence",
        "q194_corr_matrix",
        "q195_readability",
        "q196_lang_source_mi",
        "q198_welch_ttest",
        "q200_ab_assign_srm",
        "q203_chi2_independence",
        "q204_benford_audit",
        "q205_source_concentration",
        "q206_k_anonymity",
        "q207_cusum_changepoint",
        "q210_tpch_q14",
        "q211_tpch_q17",
        "q212_tpch_q19",
        "q214_tpch_q4",
        "q215_kaplan_meier",
        # round-8 tier (no prior baseline — these SET it):
        "q216_tpch_q7",
        "q217_tpch_q9",
        "q218_tpch_q13",
        "q219_stratified_sample",
        "q220_event_acf",
        "q221_image_ahash_neardup",
        "q222_word_pmi",
        "q223_feature_hash",
        "q224_percentile_rank",
        "q225_funnel_times",
        "q226_cuped",
        "q227_ab_ztest",
        "q228_weighted_sample",
        "q229_seasonal_decompose",
        "q230_groupwise_gini",
        "q232_seasonal_naive_backtest",
        "q233_calibration_report",
        # round-10 tier (no prior baseline — these SET it): the r9/r10
        # declarations with a latency story worth tracking (media
        # walks, native session windows, evolve-MERGE). q234's
        # lifecycle entry moved to the dedicated build/serve phase
        # section below (round-10 verdict #4).
        "q235_image_resize",
        "q236_mp4_container_meta",
        "q237_mp3_frame_walk",
        "q238_session_window_native",
        "q239_merge_schema_evolution",
        "q240_training_order",
        "q241_mixture_order",
        # round-11 tier (no prior baseline — these SET it):
        "q242_gif_decode",
        "q243_betweenness_centrality",
        "q244_curation_provenance",
        "q245_tiff_decode",
        "q246_hybrid_retrieval",
        "q247_hll_rollup",
        "q248_bottomk_sample",
        "q249_weighted_bottomk",
        "q250_retention_cohorts",
        "q251_progressive_jpeg",
        "q252_interlaced_palette_png",
        # round-12 tier (no prior baseline — these SET it):
        "q253_logreg_train",
        "q254_unigram_lm_train",
        "q255_flac_decode",
        "q256_node2vec_walks",
        "q257_unigram_segment_stats",
        "q258_logreg_score_corpus",
        # round-13 tier (no prior baseline — these SET it). q265 is
        # deliberately NOT timed: it re-runs q259's entire SVD and
        # adds only a cheap bounded cosine top-k, so benching it would
        # double-count the round's heaviest entry for no new signal.
        "q259_ppmi_svd_embeddings",
        "q260_kn_lm_train",
        "q261_kn_perplexity",
        "q262_softmax_train",
        "q263_softmax_language_id",
        "q264_audio_neardup",
        # round-14 tier (no prior baseline — these SET it). q267 is
        # deliberately NOT timed for the q265 reason: it re-runs
        # q259's entire SVD and adds only the q234-shaped index
        # build/serve on the trained vectors. q268 IS timed despite
        # containing SGNS training: its word-pair corpus is a
        # different (document-text) workload from q266's walk pairs.
        # q269 is NOT timed for the q265/q267 reason: it re-runs
        # q260/q261's KN training+scoring and adds only the
        # distinct-value banding.
        "q266_sgns_train",
        "q268_word_sgns_semantic_ann",
    ]

    timings: dict[str, float] = {}

    def release_session_state() -> None:
        # Iterative/dedup queries leave persisted state behind
        # (localCheckpoint pair lists, component tables) — legitimate
        # inside one pipeline, but across 29 timed queries the leftover
        # blocks tax every LATER query's GC and storage memory; the
        # flagship loop at the end measured 1.3-1.5x slower inside the
        # bench session than standalone until this was released.
        # Blocking unpersist: cleanup cost lands HERE, between timings,
        # instead of racing the next query's first stages.
        spark.catalog.clearCache()
        jmap = spark.sparkContext._jsc.getPersistentRDDs()
        for jrdd in jmap.values():
            jrdd.unpersist(True)

    # Warm the JVM + parquet footers with one cheap action so the first
    # timed query doesn't absorb one-time codegen/scan setup.
    queries["q01_edge_scan"](spark, SF_DIR).collect()

    # Best-of-2 passes per query (min), like the wikidata headline:
    # single-shot local[32] timings swing 30%+ with host noise, and the
    # second pass also runs against a fully warmed JVM.
    passes = int(os.environ.get("SPARK_GRAFT_BENCH_QUERY_PASSES", "2"))
    for _ in range(max(passes, 1)):
        for name in bench_queries:
            t0 = time.perf_counter()
            df = queries[name](spark, SF_DIR)
            # noop sink: materializes EVERY output column (count() would
            # let Catalyst prune computed projections) without driver
            # transfer.
            df.write.format("noop").mode("overwrite").save()
            elapsed = round(time.perf_counter() - t0, 3)
            timings[name] = min(timings.get(name, elapsed), elapsed)
            release_session_state()

    # Flagship: full PageRank loop on the derived sf graph (best-of-2,
    # same rationale).
    for _ in range(max(passes, 1)):
        t0 = time.perf_counter()
        res = pagerank(entry_mod._edges(spark, SF_DIR))
        top = top_k(res.ranks, 100).collect()
        elapsed = round(time.perf_counter() - t0, 3)
        timings["pagerank_full"] = min(
            timings.get("pagerank_full", elapsed), elapsed
        )
        Pins().release(res.ranks)
        assert len(top) > 0
        release_session_state()

    # Convergence-loop HITS at k=10 — an unrolled DAG DNFs here
    # (>560s single run, GRAPH_LOOP_AB.json); this entry tracks the
    # loop engine at a k no declared query runs (q124, k=2, keeps the
    # oracle row through its unrolled SQL twin).
    from pagerank_spark.graph.pagerank import hits as _hits

    for _ in range(max(passes, 1)):
        t0 = time.perf_counter()
        hdf = _hits(entry_mod._edges(spark, SF_DIR), iterations=10)
        hdf.write.format("noop").mode("overwrite").save()
        elapsed = round(time.perf_counter() - t0, 3)
        timings["hits_loop_k10"] = min(
            timings.get("hits_loop_k10", elapsed), elapsed
        )
        Pins().release(hdf)
        release_session_state()

    # q234 split into build vs serve (round-10 verdict #4): the old
    # lifecycle entry conflated index CONSTRUCTION (dynamic-partition
    # write shuffled by cid — amortized once per corpus snapshot) with
    # query SERVING (partition-pruned 3/16 list scan — the latency a
    # 100 TB user pays per query batch). Build happens once per pass
    # into a fresh scratch root; the serve timing reuses that committed
    # index, the build-once/query-many reality the persisted index
    # exists for.
    from pyspark.sql import functions as F

    from pagerank_spark.operators.similarity import (
        ann_ivf_persisted,
        build_ivf_index,
        index_scratch_root,
        remove_index,
    )

    emb = spark.read.parquet(os.path.join(SF_DIR, "embeddings.parquet"))
    qvecs = emb.where(F.col("vec_id") % 40 == 0)
    for _ in range(max(passes, 1)):
        root = index_scratch_root(spark, prefix="bench_q234_")
        try:
            t0 = time.perf_counter()
            build_ivf_index(emb, root, n_centroids=16, refine=0)
            el = round(time.perf_counter() - t0, 3)
            timings["q234_ivf_build"] = min(
                timings.get("q234_ivf_build", el), el
            )
            t0 = time.perf_counter()
            served = ann_ivf_persisted(spark, root, qvecs, k=5, n_probe=3)
            served.write.format("noop").mode("overwrite").save()
            el = round(time.perf_counter() - t0, 3)
            timings["q234_ivf_serve"] = min(
                timings.get("q234_ivf_serve", el), el
            )
            Pins().release(served)
        finally:
            remove_index(spark, root)
        release_session_state()

    # Reference dataset end-to-end (BASELINE.md: 6.349s single-node).
    # Best-of-N (default 2): this is the one number compared against the
    # reference baseline, and single-shot local[32] timings swing ±30%
    # with machine noise — report the min, the standard practice for
    # latency benchmarks. Without the dataset the entry is named in the
    # record's "omitted" map rather than silently left out of the total.
    omitted = {}
    if not os.path.exists(WIKIDATA):
        omitted["pagerank_wikidata"] = "reference dataset absent"
    else:
        repeats = int(os.environ.get("SPARK_GRAFT_BENCH_REPEAT", "3"))
        best = None
        for _ in range(max(repeats, 1)):
            t0 = time.perf_counter()
            # The edge list is loop-invariant input scanned three times
            # during setup (degrees, vertices, counts) — persist the one
            # text scan.
            edges = read_edge_list(spark, WIKIDATA).persist()
            res = pagerank(edges)
            top = top_k(res.ranks, 100).collect()
            elapsed = round(time.perf_counter() - t0, 3)
            Pins().release(res.ranks)
            edges.unpersist()
            best = elapsed if best is None else min(best, elapsed)
        timings["pagerank_wikidata"] = best

    if SF_DIR.rstrip("/").endswith("sf0.1"):
        for name, secs in timings.items():
            base = HOST_BASELINE.get(name)
            if base and secs > REGRESSION_FACTOR * base:
                print(
                    f"REGRESSION WARNING: {name} {secs:.3f}s > "
                    f"{REGRESSION_FACTOR}x host baseline {base:.3f}s",
                    file=sys.stderr,
                )

    total = round(sum(timings.values()), 3)
    # r15 (round-14 verdict #2): record the honored core-count contract
    # IN the bench output — the env value AND the session's effective
    # parallelism — so a scaling run (SPARK_GRAFT_CPUS=8 vs 32) is
    # distinguishable from an ignored env var when totals land close
    # (at sf0.1 the per-job scheduler floor legitimately dominates).
    cpus_env = os.environ.get("SPARK_GRAFT_CPUS")
    record = {
        "metric": "bench_total_wall",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "omitted": omitted,
        "sf": SF_DIR.rstrip("/").rsplit("sf", 1)[-1],
        "cpus": int(cpus_env) if cpus_env else None,
        "default_parallelism": spark.sparkContext.defaultParallelism,
        "spark_master": spark.sparkContext.master,
        "host_baseline_protocol": HOST_BASELINE_PROTOCOL,
    }
    # Committed artifact (round-8 verdict process defect: the driver
    # captures only a bounded stdout TAIL, and BENCH_r08.json lost the
    # per-query dict's head to truncation — "parsed": null). Writing
    # the same record to BENCH_LOCAL_r{N}.json from inside the bench
    # makes the full per-query history durable in-repo regardless of
    # how much stdout the driver keeps. The stdout line below stays
    # for the driver.
    if os.environ.get("SPARK_GRAFT_BENCH_NO_ARTIFACT") != "1":
        # Round number: explicit SPARK_GRAFT_ROUND wins (r9 ADVICE: the
        # max(CORRECTNESS_r*)+1 inference mislabels a bench run that
        # happens AFTER the round's correctness artifact lands, and two
        # concurrent runs clobber one file) — `make close-round` passes
        # it; the inference remains the unset fallback.
        rnd_env = os.environ.get("SPARK_GRAFT_ROUND")
        if rnd_env is not None:
            rnd = int(rnd_env)
            out_path = os.path.join(REPO, f"BENCH_LOCAL_r{rnd:02d}.json")
        else:
            rnd = infer_round()
            out_path = os.path.join(REPO, f"BENCH_LOCAL_r{rnd:02d}.json")
            # Inferred names never clobber an existing (typically
            # committed) artifact — a second same-round run suffixes
            # B, C, … so the builder's quiet-host close record and a
            # later driver run both survive. Explicit SPARK_GRAFT_ROUND
            # keeps overwrite semantics (close-round re-runs).
            suffix = ord("B")
            while os.path.exists(out_path):
                out_path = os.path.join(
                    REPO, f"BENCH_LOCAL_r{rnd:02d}{chr(suffix)}.json"
                )
                suffix += 1
        with open(out_path, "w") as f:
            json.dump(record, f, indent=1, sort_keys=True)
            f.write("\n")
        print(f"wrote {out_path}", file=sys.stderr)
    # Full record first (any consumer keeping full stdout still gets it),
    # then a COMPACT summary as the FINAL stdout line (round-10 verdict
    # #2: the driver records only a ~2000-char stdout TAIL, and with
    # 100+ per-query entries the full record's minified line exceeds
    # that — BENCH_r08 and BENCH_r10 both arrived "parsed": null because
    # the tail cut the head of the one long line). The compact line
    # shortens query keys to their qNN stem and rounds to 2dp so the
    # whole line stays under ~1900 chars and ANY >=2000-char tail parses;
    # BENCH_LOCAL_r{N}.json remains the full durable copy.
    print(json.dumps(record))
    import re as _re

    def _stem(name: str) -> str:
        m = _re.match(r"^(q\d+)_", name)
        return m.group(1) if m else name

    compact_q = {_stem(k): round(v, 2) for k, v in timings.items()}
    compact = {
        "metric": record["metric"],
        "value": total,
        "unit": "sec",
        "queries": compact_q,
        "omitted": omitted,
        "sf": record["sf"],
        "cpus": record["cpus"],
        "default_parallelism": record["default_parallelism"],
    }
    line = json.dumps(compact, separators=(",", ":"))
    if len(line) > 1900:  # belt-and-braces: keep the slowest entries
        top = dict(
            sorted(compact_q.items(), key=lambda kv: -kv[1])[:40]
        )
        compact["queries"] = top
        compact["queries_truncated"] = True
        line = json.dumps(compact, separators=(",", ":"))
    print(line)
    spark.stop()


if __name__ == "__main__":
    main()
