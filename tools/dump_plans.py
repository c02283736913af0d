"""Regenerate PLANS.md: formatted physical plans of the headline and
scale-critical queries, so plan shapes (pushdown, broadcast,
TakeOrderedAndProject, bucket scans) are reviewable without running
Spark.  Run after changing any of the listed operators:

    python tools/dump_plans.py
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SHOWCASE = [
    ("agg_hash_group", "partial+final hash agg, pushdown, integer cents"),
    ("join_broadcast", "explicit dimension broadcast"),
    ("join_shuffle_equi", "shuffle join left to AQE"),
    ("join_bucketed_colocated", "zero shuffle exchange via bucketBy"),
    ("topk_global", "TakeOrderedAndProject partial top-k"),
    ("vec_cosine_topk", "JVM-side cosine, no Python in hot path"),
    ("vec_matryoshka_topk", "two-phase kNN funnel, both phases TakeOrdered"),
    ("join_asof_last_event", "as-of via union-sort merge, single exchange"),
    ("maintenance_zorder_cluster", "Morton key as codegen'd integer math"),
    ("win_rank_topk_per_group", "partitioned window"),
    ("sink_partitioned_pruning", "PartitionFilters on hive layout"),
    ("text_chunk_fixed_overlap", "pure-SQL chunker (Generate)"),
    ("sql_q5_local_supplier", "six-table join via the SQL front-end"),
    ("sql_q6_forecast_revenue", "all predicates pushed to the scan"),
    ("sql_q18_large_orders", "HAVING rollup below the joins"),
    ("pipeline_event_funnel", "funnel in one conditional-agg shuffle"),
    ("rag_bm25_topk", "broadcast corpus stats, TakeOrdered top-10, no UDF"),
    ("agg_grouping_sets", "4 grouping sets in one Expand pass"),
    ("pipeline_pack_sequences", "per-lang packing, single hash exchange"),
    ("text_domain_mix_sample", "broadcast rate table, row-local sample"),
    ("vec_signbit_hamming_topk", "packed XOR+popcount ranking, query sigs broadcast"),
    ("text_heavy_hitters", "MG candidates broadcast into exact recount, TakeOrdered"),
    ("agg_bitmap_distinct", "exact distinct via bitmap words, two-level hash agg"),
    ("text_cdc_chunking", "rolling-hash boundaries, map-side Generate only"),
    ("join_asof_nearest", "both as-of directions on one exchange+sort"),
    ("win_sequence_match_funnel", "cubic nested-EXISTS as two linear windows"),
    ("agg_exact_quantile_2pass", "exact p99 with no global sort"),
    ("win_running_distinct", "running count-distinct via first-occurrence flag"),
    # round-5 additions
    ("join_asof_tolerance", "LEFT as-of + attribution window, tolerance as residual predicate"),
    ("win_rolling_median", "exact frame median via sorted-array middle pick, one exchange"),
    ("dedup_containment_ngram", "prefix-index candidates + no-collect containment verify"),
    ("text_chunk_recursive", "reference-boundary recursive chunker, map-side Python stage"),
    # round-6 additions
    ("dedup_ngram_jaccard", "inverted rare-shingle prefix-filter candidate join"),
    ("vec_radius_search", "pre-joined norms, single dot eval, codegen intact"),
    ("join_interval_overlap", "interval join via bucket replication equi-join"),
    ("agg_count_min_sketch", "additive 4x64 sketch + broadcast probe, in-plan guarantee"),
    ("sample_weighted_reservoir", "A-Res weighted sample as distributed top-k"),
    ("win_rolling_slope", "rolling OLS slope from five frame sums, one exchange"),
    # round-6 second wave
    ("vec_kmeans_lloyd", "Lloyd iterations as broadcast-centroid scans, decimal-exact means"),
    ("text_pmi_collocations", "vocab-sized aggregates, unigram broadcasts, TakeOrdered"),
    ("win_mad_outlier", "two exact order-stat medians on one user_id exchange"),
    ("rag_hybrid_weighted_fusion", "min-max bounds via broadcast aggregate, no global window"),
    # round-6 third wave
    ("text_gopher_rules", "five quality metrics in one shuffle-free HOF map pass"),
    ("dedup_span_ngram", "strided span fingerprints, hash agg + co-partitioned join-back"),
    ("graph_triangle_cosupply", "degree-oriented wedge join + semi-join closure over checkpointed edges"),
    ("rag_rrf_fusion", "top-N candidate gates (TakeOrdered) before window ranks, full-outer fuse"),
    ("win_running_total_range", "day-level pre-agg window + broadcast join back, no fact-table sort"),
    ("pipeline_shard_assign", "two-pass value-domain rank, partitioned within-bucket window"),
    ("vec_lsh_ann", "session-cached pair index (_lsh_pairs ckpt: bucket equi-join materialized once), recall assert in-plan"),
    ("win_drawdown", "two same-key windows + aggregate on one user_id exchange"),
    ("graph_clustering_coefficient", "triangle listing composed with degree agg, top-20 TakeOrdered"),
    ("multimodal_phash_neardup", "banded fingerprint equi-join, XOR/popcount verify"),
    ("agg_bootstrap_ci", "32 bootstrap replicas in one conditional-aggregate scan"),
    ("text_ccnet_ppl_bucket", "per-lang LM broadcast, decimal NLL sums, tercile window"),
    ("agg_mann_whitney_u", "rank-sum over distinct-value groups, integer 2x-rank algebra"),
    ("pipeline_curation_funnel", "three curation stages folded to one 4-counter aggregate"),
    # round-7 fifth wave
    ("agg_ols_regression", "one moment scan + constant-time Cramer solve projection"),
    ("agg_autocorr_daily", "day-domain collapse, broadcast lag join, no window"),
    ("graph_adamic_adar", "wedge join over checkpointed edges, anti-join non-edges, TakeOrdered top-20"),
    ("win_token_bucket", "rank window + BIGINT HOF fold on one user_id exchange"),
    ("pipeline_pareto_frontier", "value-domain skyline: per-length max agg + domain window + broadcast join back"),
    ("agg_breusch_pagan", "checkpointed 1-row beta broadcast into the residual moment pass"),
    ("agg_kaplan_meier", "sessionize exchange -> checkpointed duration domain -> broadcast fold join"),
    ("graph_kcore", "peeling loop output reads only the converged checkpointed edge list"),
    ("graph_core_number", "h-index fixpoint labels over checkpointed edges, keyed rounds"),
    ("pipeline_curriculum_order", "two-pass value-domain rank over the round(6) score grid"),
    ("text_rake_keywords", "per-doc segmentation window, word/phrase hash aggs, TakeOrdered top-20"),
    ("agg_jarque_bera", "count + 4 exact power sums per type in one aggregate pass"),
    # round-8 additions
    ("win_spc_western_electric", "4 run rules on one user exchange, decimal control limits"),
    ("pipeline_token_budget_select", "quality-domain running totals, broadcast side tables, no global sort"),
    ("agg_tail_index_hill", "global top-(m+1) as TakeOrderedAndProject, bounded rank window"),
    ("pipeline_blocklist_filter", "broadcast LEFT-join gate, kept+dropped audit in one scan"),
    ("agg_anova_oneway", "k-group F from one partial-agg moment scan, no mean join-back"),
    ("graph_modularity_partition", "endpoint-label broadcast joins over checkpointed edges"),
    ("vec_topk_margin_stats", "broadcast query set, bounded top-10 window, decimal mean"),
    # round-8 third session
    ("agg_kruskal_wallis", "ranks reconstructed on the checkpointed value domain, no row-level sort"),
    ("agg_mood_median_test", "broadcast exact median, both fact passes eager at checkpoints"),
    ("win_changepoint_pelt_1d", "O(T^2) DP grid checkpointed once, exact decimal argmin levels"),
    ("graph_rich_club", "one degree-domain cumsum answers every threshold, zero rescans"),
    ("agg_jonckheere_terpstra", "densified type x value grid, pairwise U as one equi-join"),
    # round-8 fourth session
    ("agg_median_polish_grid", "12 integer-exact median sweeps over a checkpointed 150-cell grid"),
    ("graph_katz_centrality", "6-iteration walk unroll on checkpointed edges, TakeOrdered top-20"),
    ("win_holt_winters_seasonal", "9-field named_struct fold over one day-ordered bounded array"),
    ("agg_beta_binomial_shrinkage", "1-row prior broadcast back over the per-user aggregate, TakeOrdered top-10"),
    ("agg_anderson_darling_2samp", "value-domain midrank cumulatives + O(N) harmonic prefix sums"),
    ("win_matrix_profile_1d", "bounded subsequence pair grid, exact decimal dot products, per-window argmin"),
    ("agg_dtw_band_distance", "banded DP as a 5-cell anti-band struct fold, no loop"),
    # round-10 additions
    ("stream_psi_drift_live", "frozen day-1 decile edges, keyed per-bin state, PSI terms over full-outer bin join"),
    ("agg_did_estimator", "one user collapse + one conditional-moments aggregate, constant assembly"),
    ("agg_qini_uplift_curve", "score-domain CDF deciles (broadcast join back), 10-row cumulative Qini"),
    ("agg_shapley_attribution", "16-mask densified game (ckpt), constant-size subset joins, 24-denominator exact weights"),
    ("agg_rfm_segments", "ckpt customer base + three value-domain rank offsets, partitioned tie-break windows"),
    ("maintenance_constraint_audit", "per-table conditional sums eager at ckpt, zero rescans in the 7-row union"),
    ("agg_laspeyres_paasche_index", "fact-fact orderkey join, part-grain collapse, quantized cross-term sums"),
    ("graph_local_bridges", "wedge-closing join + left-anti complement over checkpointed edges"),
    ("sample_neyman_allocation", "broadcast dim join, 25-row stratum moments, Hamilton top-up window"),
    ("agg_hoeffding_d_independence", "checkpointed 30-row domain, 900-row pair grid, one exact reduction"),
    ("vec_ann_latency_recall_pareto", "session-cached scored candidate frames, per-point filter+top-k timed plans"),
    ("agg_wasserstein_distance", "exact-integer |F1-F2| integral on the value domain"),
    ("agg_association_rules", "order-blocked pair join, broadcast singles, TakeOrdered by lift"),
    ("agg_logrank_test", "sessionize exchange -> duration-domain suffix cumulatives"),
    # round-13 additions
    ("graph_triangle_wedge_cap", "ckpt'd oriented edges (zero rescans), partitioned rank, capped wedge join + LeftSemi closure"),
    ("vec_topk_scatter_gather", "per-shard partitioned top-3, bounded gather window, broadcast query panel"),
    ("rag_multi_vector_maxsim", "aliased sub-norms, 16 unrolled sub-cosines in one codegen projection, top-5 per query"),
    ("vec_ann_prefilter_vs_postfilter", "session-cached LSH pair index, fid-explode fan-out, ckpt'd 90-row ground truth"),
    ("agg_theta_sketch_distinct_union", "per-set partitioned bottom-K windows, <=2K-row union merge, broadcast exact twins"),
]


def main() -> None:
    from vectordb_agentic_rag_spark import QUERIES, load_all_operators
    from vectordb_agentic_rag_spark.session import get_spark

    load_all_operators()
    spark = get_spark("plans")
    spark.sparkContext.setLogLevel("ERROR")
    sf_dir = "/root/testdata/sf0.01"

    out = [
        "# Physical plans (generated by tools/dump_plans.py at sf0.01)",
        "",
        "Each plan is the shape `tests/test_plans.py` pins. Regenerate after",
        "touching any listed operator.",
        "",
    ]
    for name, why in SHOWCASE:
        df = QUERIES[name](spark, sf_dir)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        out += [f"## {name}", "", f"*{why}*", "", "```", plan.rstrip(), "```", ""]

    with open(os.path.join(REPO, "PLANS.md"), "w") as f:
        f.write("\n".join(out))
    print(f"wrote PLANS.md with {len(SHOWCASE)} plans")


if __name__ == "__main__":
    main()
