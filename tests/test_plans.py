"""Physical-plan audit: the plans Catalyst picks must be the plans we
designed for 100 TB (SURVEY.md §4).  A correctness-green operator whose
plan degrades (lost pushdown, accidental cartesian, broadcast missing)
is a scale regression even when sf0.001 results still match — these
tests pin the plan shape itself.
"""

from __future__ import annotations

import pytest

from vectordb_agentic_rag_spark import QUERIES, load_all_operators

load_all_operators()


def plan_of(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


@pytest.fixture(scope="module", autouse=True)
def _ops():
    load_all_operators()


def test_scan_pushdown_reaches_parquet(spark, sf_dir):
    plan = plan_of(QUERIES["scan_projection_pushdown"](spark, sf_dir))
    assert "PushedFilters: [IsNotNull(l_quantity), GreaterThanOrEqual(l_quantity,45.0)]" in plan
    # column pruning: ReadSchema carries exactly the 3 projected columns
    # (integer widths differ between scale factors — match names only)
    import re

    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m, plan
    cols = [c.split(":")[0] for c in m.group(1).split(",")]
    assert cols == ["l_orderkey", "l_linenumber", "l_quantity"]


def test_filter_pred_pushdown(spark, sf_dir):
    plan = plan_of(QUERIES["filter_pred"](spark, sf_dir))
    assert "PushedFilters" in plan
    for f in ("GreaterThan(o_totalprice,150000", "In(o_orderstatus"):
        assert f in plan, f"missing pushed filter {f}"


def test_join_broadcast_is_broadcast_hash(spark, sf_dir):
    plan = plan_of(QUERIES["join_broadcast"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_topk_is_take_ordered(spark, sf_dir):
    plan = plan_of(QUERIES["topk_global"](spark, sf_dir))
    # ORDER BY + LIMIT must plan as per-partition partial top-k, not a
    # global sort (a global sort of 100 TB for a top-20 is the classic
    # scale bug).
    assert "TakeOrderedAndProject" in plan
    assert "Exchange rangepartitioning" not in plan


def test_agg_is_partial_plus_final(spark, sf_dir):
    plan = plan_of(QUERIES["agg_hash_group"](spark, sf_dir))
    assert plan.count("HashAggregate") >= 2  # partial (map-side) + final
    assert "partial_sum" in plan
    # group-key exchange only — no wide row shuffle before partial agg
    assert plan.index("HashAggregate") < plan.index("Exchange")


def test_semi_anti_stay_joins(spark, sf_dir):
    for op, kind in (("join_semi", "LeftSemi"), ("join_anti", "LeftAnti")):
        plan = plan_of(QUERIES[op](spark, sf_dir))
        assert kind in plan, f"{op} lost its {kind} join type"


def test_vec_topk_no_python_udf(spark, sf_dir):
    # cosine top-k must stay JVM-side: higher-order functions, then
    # TakeOrderedAndProject. Python/Pandas UDFs here would put an Arrow
    # exchange in the per-row hot path.
    plan = plan_of(QUERIES["vec_cosine_topk"](spark, sf_dir))
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan
    assert "TakeOrderedAndProject" in plan


def test_similarity_theta_join_prefilters_norms(spark, sf_dir):
    # the exact similarity self-join must at minimum prune columns to
    # (id, embedding)-shaped inputs before the quadratic stage
    plan = plan_of(QUERIES["join_similarity_theta"](spark, sf_dir))
    assert "ReadSchema: struct<vec_id:bigint,embedding:array<float>>" in plan


def test_window_topk_partitions_by_group(spark, sf_dir):
    plan = plan_of(QUERIES["win_rank_topk_per_group"](spark, sf_dir))
    # partitioned window — a global (unpartitioned) window would move
    # all 100 TB to one task
    assert "Window" in plan
    assert "hashpartitioning(user_id" in plan


def test_bucketed_join_has_no_exchange(spark, sf_dir):
    plan = plan_of(QUERIES["join_bucketed_colocated"](spark, sf_dir))
    # the whole point of bucketing: the fact-side aggregation + join run
    # on the write-time layout with zero SHUFFLE exchange (a broadcast
    # of the small side is fine — that's the optimal plan, not a
    # fact-table shuffle)
    assert "Exchange hashpartitioning" not in plan, plan
    assert "Bucketed: true" in plan


def test_salted_join_spreads_key(spark, sf_dir):
    plan = plan_of(QUERIES["join_skew_salted"](spark, sf_dir))
    # join condition must include the salt so partitioning uses it
    assert "salt" in plan


def test_partitioned_read_prunes(spark, sf_dir):
    plan = plan_of(QUERIES["sink_partitioned_pruning"](spark, sf_dir))
    # the event_type predicate must become a PartitionFilter on the
    # directory layout, not a row-level Filter over a full scan
    import re

    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m, plan
    assert re.search(r"event_type#\d+ = click", m.group(1))


def test_compaction_reduces_file_count(spark, sf_dir):
    import glob

    from vectordb_agentic_rag_spark.tables import SCRATCH, sf_tag

    QUERIES["maintenance_compact_small_files"](spark, sf_dir).collect()
    tag = sf_tag(sf_dir)
    frag = glob.glob(
        f"{SCRATCH}/sources/docs_fragmented_{tag}.parquet/part-*"
    )
    compact = glob.glob(
        f"{SCRATCH}/sources/docs_compacted_{tag}.parquet/part-*"
    )
    assert len(frag) == 64
    assert len(compact) <= 4


def test_chunker_stays_sql(spark, sf_dir):
    plan = plan_of(QUERIES["text_chunk_fixed_overlap"](spark, sf_dir))
    assert "Generate" in plan  # codegen'd explode of the chunk windows
    assert "BatchEvalPython" not in plan


def test_q6_filters_reach_scan(spark, sf_dir):
    # Q6 is the canonical pushdown query: date bounds, discount band,
    # and quantity cap must all reach the parquet reader — a residual
    # row-level Filter over a full scan reads 100 TB to sum a slice.
    plan = plan_of(QUERIES["sql_q6_forecast_revenue"](spark, sf_dir))
    for f in (
        "GreaterThanOrEqual(l_shipdate,",
        "LessThan(l_shipdate,",
        "GreaterThanOrEqual(l_discount,0.05)",
        "LessThanOrEqual(l_discount,0.07)",
        "LessThan(l_quantity,24.0)",
    ):
        assert f in plan, f"missing pushed filter {f}"


def test_q18_aggregates_below_join(spark, sf_dir):
    # the per-order quantity rollup (+ HAVING) must run BEFORE the
    # joins to orders/customer: the join probe side is |qualifying
    # orders|, not |lineitem|. If the aggregate floats above a join,
    # the full fact table rides the shuffle.
    plan = plan_of(QUERIES["sql_q18_large_orders"](spark, sf_dir))
    # lineitem's scan feeds the rollup directly: exactly the two agg
    # columns are read (no order/customer columns below the agg;
    # integer widths differ between scale factors — match names only)
    import re

    m = re.search(r"ReadSchema: struct<l_orderkey:[^,]+,l_quantity:[^>]+>", plan)
    assert m, plan
    # ... the partial agg is map-side on those columns ...
    assert "partial_sum(cast(l_quantity" in plan
    # ... and the HAVING cut runs as a post-agg filter, so only
    # qualifying orders reach the joins.
    assert "> 180" in plan


def test_q19_disjunction_splits_and_pushes(spark, sf_dir):
    # The OR-of-ANDs must not block pushdown: Catalyst extracts the
    # per-table conjunct hulls, so BOTH scans carry the (OR-merged)
    # disjunction as a pushed filter and the join stays broadcast.
    # If the disjunction were evaluated only as a join residual, the
    # lineitem scan would read every row at 100 TB.
    plan = plan_of(QUERIES["sql_q19_disjunctive_revenue"](spark, sf_dir))
    assert "GreaterThanOrEqual(l_quantity,1.0)" in plan  # quantity hull pushed
    assert "EqualTo(p_brand,Brand#12)" in plan  # part disjuncts pushed
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_q20_semi_join_over_aggregate(spark, sf_dir):
    # The IN (SELECT ... GROUP BY ... HAVING) subquery must plan as a
    # LeftSemi join against the *aggregated* supplier list — the semi
    # probe side is |suppliers over threshold|, never raw lineitem.
    plan = plan_of(QUERIES["sql_q20_volume_suppliers"](spark, sf_dir))
    assert "LeftSemi" in plan
    assert "CartesianProduct" not in plan
    # the HAVING threshold runs below the semi join as a post-agg filter
    assert "> 50" in plan


def test_q21_exists_pair_plans_semi_anti(spark, sf_dir):
    # The correlated EXISTS / NOT EXISTS pair must become a LeftSemi
    # then LeftAnti join on orderkey (never a per-row subquery or a
    # cartesian): three passes over lineitem share the orderkey
    # co-partitioning, so the whole query is joins + one final agg.
    plan = plan_of(QUERIES["sql_q21_waiting_supplier"](spark, sf_dir))
    assert "LeftSemi" in plan
    assert "LeftAnti" in plan
    assert "CartesianProduct" not in plan
    assert "TakeOrderedAndProject" in plan  # ORDER BY+LIMIT 100 stays partial


def test_q13_aggregates_stack_without_extra_shuffle(spark, sf_dir):
    # The orders-per-customer rollup reuses the join's output
    # partitioning where possible and the second (histogram) aggregate
    # is the only extra exchange: 2 shuffles total for a two-level
    # aggregation over a LEFT OUTER join.
    plan = plan_of(QUERIES["sql_q13_customer_distribution"](spark, sf_dir))
    assert plan.count("Exchange") - plan.count("BroadcastExchange") <= 2 * 2
    assert "LeftOuter" in plan


def test_stratified_sample_pushes_to_scan(spark, sf_dir):
    # the per-stratum CASE predicate is row-local: it must not add a
    # shuffle, and the scan must read only the two projected columns
    plan = plan_of(QUERIES["sample_stratified_hash"](spark, sf_dir))
    assert "Exchange" not in plan
    import re

    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    cols = [c.split(":")[0] for c in m.group(1).split(",")]
    assert cols == ["doc_id", "lang"]


def test_zorder_key_stays_codegen_takeordered(spark, sf_dir):
    # bit-interleave is pure integer expression work: single
    # TakeOrderedAndProject, no shuffle, no Python
    plan = plan_of(QUERIES["maintenance_zorder_cluster"](spark, sf_dir))
    assert "TakeOrderedAndProject" in plan
    assert "Exchange" not in plan
    assert "Python" not in plan


def test_matryoshka_both_phases_take_ordered(spark, sf_dir):
    # phase 1 (16-dim prefilter over the corpus) and phase 2 (full-dim
    # rescore over <=50 rows) must each plan as TakeOrderedAndProject;
    # a global sort of the corpus defeats the funnel
    # formatted explain lists each node in the tree AND the detail
    # section -> 2 plan nodes appear as 4 mentions
    plan = plan_of(QUERIES["vec_matryoshka_topk"](spark, sf_dir))
    assert plan.count("TakeOrderedAndProject") >= 2
    assert "Exchange" not in plan
    assert "Python" not in plan


def test_hll_sketches_partial_merge(spark, sf_dir):
    # sketch agg must run partial (map-side) before the day shuffle —
    # the whole point of mergeable sketches
    plan = plan_of(QUERIES["agg_hll_sketch_merge"](spark, sf_dir))
    assert "partial_hll_sketch_agg" in plan or "HashAggregate" in plan
    assert "Python" not in plan


def test_bm25_topk_plan(spark, sf_dir):
    # stats row must broadcast; top-10 must be partial top-k; scoring
    # must stay JVM-side (no Python in the per-row path)
    plan = plan_of(QUERIES["rag_bm25_topk"](spark, sf_dir))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "TakeOrderedAndProject" in plan
    assert "BatchEvalPython" not in plan


def test_grouping_sets_single_expand(spark, sf_dir):
    # 4 grouping sets = ONE Expand + one aggregate pass, with each of
    # the 4 input tables scanned exactly once (not once per set)
    import re

    plan = plan_of(QUERIES["agg_grouping_sets"](spark, sf_dir))
    assert len(re.findall(r"\(\d+\) Expand", plan)) == 1
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) <= 4


def test_domain_mix_broadcasts_rates(spark, sf_dir):
    # the 5-row per-lang rate table joins broadcast; the corpus scan is
    # the only big side and the sample predicate is row-local
    plan = plan_of(QUERIES["text_domain_mix_sample"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_pack_sequences_one_exchange(spark, sf_dir):
    # per-lang packing: exactly one hash exchange (on lang), no global
    # range sort
    import re

    plan = plan_of(QUERIES["pipeline_pack_sequences"](spark, sf_dir))
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1
    assert "hashpartitioning(lang" in plan
    assert "rangepartitioning" not in plan


def test_scd2_merge_single_shuffle_join(spark, sf_dir):
    # the merge key join + history union must not multiply scans of the
    # dimension: customer is scanned once per branch at most, and the
    # union is projection-only (no extra exchanges beyond the joins)
    plan = plan_of(QUERIES["sink_merge_upsert_scd2"](spark, sf_dir))
    assert "Union" in plan
    assert "BatchEvalPython" not in plan


def test_signbit_hamming_broadcasts_queries_only(spark, sf_dir):
    plan = plan_of(QUERIES["vec_signbit_hamming_topk"](spark, sf_dir))
    # query signatures broadcast; the corpus never shuffles before the
    # slim (query_id, neighbor_id, hamming) projection feeds the
    # per-query top-k window
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    assert "bit_count" in plan  # packed XOR+popcount, not per-dim math
    # the only hashpartitioning exchange is the window's query_id one
    import re

    exchanges = re.findall(r"Exchange hashpartitioning\(([a-z_]+)", plan)
    assert all(e.startswith("query_id") for e in exchanges), exchanges


def test_heavy_hitters_recount_broadcasts_candidates(spark, sf_dir):
    plan = plan_of(QUERIES["text_heavy_hitters"](spark, sf_dir))
    # the exact recount joins the token stream against the (tiny)
    # Misra-Gries candidate set: must be a broadcast hash join, and the
    # final top-10 a TakeOrderedAndProject — never a global sort
    assert "BroadcastHashJoin" in plan
    assert "TakeOrderedAndProject" in plan
    assert "Exchange rangepartitioning" not in plan


def test_unigram_logprob_broadcasts_lm(spark, sf_dir):
    plan = plan_of(QUERIES["text_unigram_logprob"](spark, sf_dir))
    # the token->logprob join must broadcast the vocabulary-sized LM,
    # never shuffle the token stream by token
    assert "BroadcastHashJoin" in plan
    import re

    exchanges = re.findall(r"Exchange hashpartitioning\(([a-z_]+)", plan)
    assert all(e.startswith(("doc_id", "tok")) for e in exchanges), exchanges


def test_incremental_ingest_probe_is_hash_join(spark, sf_dir):
    plan = plan_of(QUERIES["pipeline_incremental_ingest"](spark, sf_dir))
    # content-hash dedup probe stays an equi hash join (broadcast or
    # shuffled both fine — the index outgrows broadcast at scale);
    # never a nested-loop
    assert "HashJoin" in plan
    assert "CartesianProduct" not in plan


def test_asof_nearest_single_exchange_two_windows(spark, sf_dir):
    plan = plan_of(QUERIES["join_asof_nearest"](spark, sf_dir))
    # both directions ride ONE shuffle + ONE sort (two Window nodes over
    # the same exchange) — the linear as-of shape, never pair fan-out
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1
    assert len(re.findall(r"\(\d+\) Sort", plan)) == 1
    # both frames over the one sort; Spark may fuse them into a single
    # Window node or keep two — either way no extra exchange/sort
    assert 1 <= len(re.findall(r"\(\d+\) Window", plan)) <= 2
    assert "In(event_type, [click,purchase])" in plan  # pushed to scan
    assert "Join" not in plan  # no actual join operator at all


import re  # noqa: E402  (used by the pin above; kept local to the tail)


def test_sequence_funnel_one_exchange(spark, sf_dir):
    plan = plan_of(QUERIES["win_sequence_match_funnel"](spark, sf_dir))
    # the cubic nested-EXISTS runs as chained running-flag windows over
    # ONE user shuffle; the only other exchange is the final 1-row agg
    assert len(re.findall(r"\(\d+\) Exchange", plan)) <= 2
    assert len(re.findall(r"\(\d+\) Sort", plan)) == 1
    assert "Join" not in plan
    assert "In(event_type, [click,purchase,view])" in plan


def test_exact_quantile_never_sorts_raw_values(spark, sf_dir):
    plan = plan_of(QUERIES["agg_exact_quantile_2pass"](spark, sf_dir))
    # the whole point: exact order statistics WITHOUT a global sort of
    # the raw values — no range partitioning anywhere; the only sorts
    # are the window sorts over (histogram rows / one target bucket)
    assert "Exchange rangepartitioning" not in plan
    assert "BroadcastHashJoin" in plan  # stats + bucket-locator joins


def test_filtered_knn_pushes_label_predicate(spark, sf_dir):
    plan = plan_of(QUERIES["vec_filtered_knn"](spark, sf_dir))
    # the metadata filter must reach the parquet scan BEFORE any vector
    # math — filtered exact search reads only qualifying rows
    assert "In(label, [1,2])" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_asof_tolerance_single_exchange_no_join(spark, sf_dir):
    plan = plan_of(QUERIES["join_asof_tolerance"](spark, sf_dir))
    # same linear union-sort-merge shape as join_asof_last_event: the
    # tolerance is a residual predicate, never a second shuffle or a
    # per-user pair join
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1
    assert len(re.findall(r"\(\d+\) Sort", plan)) == 1
    assert "Join" not in plan
    assert "In(event_type, [click,purchase])" in plan  # pushed to scan


def test_rolling_median_one_window_exchange(spark, sf_dir):
    plan = plan_of(QUERIES["win_rolling_median"](spark, sf_dir))
    # one hash-partition shuffle on user_id; the frame sort-and-pick is
    # per-row expression work, not an extra exchange or global sort
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1
    assert len(re.findall(r"\(\d+\) Window", plan)) == 1


def test_shingle_dedup_candidates_join_on_shingle_code(spark, sf_dir):
    # the prefix-filter candidate stage: the candidate join must be
    # keyed on the exploded shingle code `s` (inverted index), with the
    # block predicate folded in — never an all-pairs join whose only
    # keys are the (lang[, len_bucket]) block columns, which is
    # block-quadratic at scale
    for name in ("dedup_containment_ngram", "dedup_ngram_jaccard"):
        plan = plan_of(QUERIES[name](spark, sf_dir))
        assert "CartesianProduct" not in plan, name
        assert re.search(r"Right keys \[\d+\]: \[s_b#", plan), name
        # rarity ranking present: one document-frequency aggregate and
        # one per-doc window feed the prefix
        assert "row_number" in plan, name
        assert "count(1)" in plan, name


def test_recursive_chunker_single_shuffle(spark, sf_dir):
    plan = plan_of(QUERIES["text_chunk_recursive"](spark, sf_dir))
    # one groupBy shuffle builds the long docs; chunking itself is the
    # trailing map-side Python stage (no second exchange)
    assert len(re.findall(r"\(\d+\) Exchange", plan)) <= 2  # partial+final agg
    assert "MapInPandas" in plan or "PythonMapInArrow" in plan or "ArrowEvalPython" in plan


def test_bigram_logprob_broadcasts_lm(spark, sf_dir):
    plan = plan_of(QUERIES["text_bigram_logprob"](spark, sf_dir))
    # the bigram LM (vocabulary^2-bounded) broadcasts onto the scoring
    # stream; the corpus is never shuffled by bigram for scoring
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_bm25_batch_filters_tokens_and_broadcasts(spark, sf_dir):
    plan = plan_of(QUERIES["rag_bm25_batch_queries"](spark, sf_dir))
    # only query-term tokens survive into the shuffle, and the query
    # table / df / stats all ride broadcasts
    assert plan.count("BroadcastHashJoin") >= 2
    assert "CartesianProduct" not in plan
    assert "tok" in plan


def test_pagerank_single_lazy_plan_no_cartesian(spark, sf_dir):
    df = QUERIES["graph_pagerank_neardup"](spark, sf_dir)
    plan = plan_of(df)
    # ten unrolled iterations stay ONE lazy plan: joins on real keys
    # (doc_a / doc_id), scalar count broadcast, no cartesian blowup
    assert "CartesianProduct" not in plan
    # the damped-update round-trip appears once per iteration
    assert plan.count("round(") >= 10


def test_ohlc_windows_and_groupby_share_one_exchange(spark, sf_dir):
    plan = plan_of(QUERIES["agg_ohlc_resample"](spark, sf_dir))
    # both direction windows and the final aggregate ride the SAME
    # (event_type, bucket) hash partitioning — one exchange, one sort
    # family, no re-shuffle for the groupBy
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1


def test_interval_overlap_is_bucketed_equi_join(spark, sf_dir):
    plan = plan_of(QUERIES["join_interval_overlap"](spark, sf_dir))
    # the overlap join must be keyed on (event_type, time-bucket tag) —
    # an equi-join over the bucket replication, never a per-type theta
    # join (quadratic) or cartesian
    assert "CartesianProduct" not in plan
    assert re.search(r"Right keys \[\d+\]: \[et_b#\S+, tag_b#", plan), plan[:2000]


def test_weighted_reservoir_is_take_ordered(spark, sf_dir):
    plan = plan_of(QUERIES["sample_weighted_reservoir"](spark, sf_dir))
    # the global top-k by key must plan as TakeOrderedAndProject
    # (per-partition partial top-k); only the 50 survivors see a window
    assert "TakeOrderedAndProject" in plan
    assert "Exchange rangepartitioning" not in plan


def test_cms_probes_are_take_ordered(spark, sf_dir):
    plan = plan_of(QUERIES["agg_count_min_sketch"](spark, sf_dir))
    # the top-20 probe selection must not global-sort the vocabulary
    assert "TakeOrderedAndProject" in plan
    assert "Exchange rangepartitioning" not in plan


def test_sessionize_single_exchange(spark, sf_dir):
    plan = plan_of(QUERIES["agg_sessionize_batch"](spark, sf_dir))
    # lag window + running sum + (user_id, sess_no) aggregate must all
    # ride the ONE user_id hash exchange: HashPartitioning(user_id)
    # satisfies the clustered distribution of the superset grouping key
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1, plan[:1500]
    assert "hashpartitioning(user_id" in plan


def test_rrf_fusion_gates_each_side_take_ordered(spark, sf_dir):
    plan = plan_of(QUERIES["rag_rrf_fusion"](spark, sf_dir))
    # each retriever side must gate to its top-N candidates via
    # orderBy+limit (TakeOrderedAndProject) BEFORE any partition-less
    # window ranks the survivors; the final top-10 is a third
    # TakeOrderedAndProject. A global rangepartitioning sort of the
    # corpus is the banned anti-pattern (round-6 rule).
    assert plan.count("TakeOrderedAndProject") >= 3, plan[:2000]
    assert "Exchange rangepartitioning" not in plan


def test_running_total_windows_days_not_rows(spark, sf_dir):
    plan = plan_of(QUERIES["win_running_total_range"](spark, sf_dir))
    # the cumulative window must run over the per-day AGGREGATE (tiny
    # domain), broadcast-joined back to orders — never a global RANGE
    # window over the fact rows
    assert "BroadcastHashJoin" in plan
    assert "partial_sum" in plan  # map-side day pre-aggregation
    assert "Exchange rangepartitioning" not in plan


def test_shard_assign_two_pass_rank_no_global_row_sort(spark, sf_dir):
    plan = plan_of(QUERIES["pipeline_shard_assign"](spark, sf_dir))
    # two-pass rank: doc-level window must be PARTITIONED by n_tokens;
    # the only single-partition sort is over the value-domain counts
    # (post-HashAggregate), proven by the partial_count partial agg
    assert "hashpartitioning(n_tokens" in plan
    assert "partial_count" in plan
    assert "Exchange rangepartitioning" not in plan


def test_dim_rank_windows_scan_only_dim_columns(spark, sf_dir):
    # win_ntile_rank_dense / win_percent_rank_cume_dist use global
    # windows by CONTRACT: their input is the bounded `part` dimension
    # and the scan must read only the 2 rank-key columns (so the
    # single-partition sort carries a dim-sized, 2-column payload).
    import re

    for op, cols in [
        ("win_ntile_rank_dense", {"p_partkey", "p_size"}),
        ("win_percent_rank_cume_dist", {"p_partkey", "p_retailprice"}),
    ]:
        plan = plan_of(QUERIES[op](spark, sf_dir))
        m = re.search(r"ReadSchema: struct<([^>]+)>", plan)
        assert m, plan[:1500]
        read = {c.split(":")[0] for c in m.group(1).split(",")}
        assert read == cols, (op, read)
        assert "part.parquet" in plan


def test_drawdown_windows_share_one_user_exchange(spark, sf_dir):
    plan = plan_of(QUERIES["win_drawdown"](spark, sf_dir))
    # cumulative window, peak window, and the per-user aggregate must
    # all ride ONE user_id hash exchange
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1, plan[:1500]
    assert "hashpartitioning(user_id" in plan


def test_bollinger_single_partitioned_exchange(spark, sf_dir):
    plan = plan_of(QUERIES["win_bollinger_bands"](spark, sf_dir))
    # rank + moment windows are all partitioned by user_id on one
    # exchange; no global window anywhere
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1, plan[:1500]
    assert "hashpartitioning(user_id" in plan
    assert "SinglePartition" not in plan


def test_clustering_coef_composes_triangle_shape(spark, sf_dir):
    # the wedge-mass pass runs once per session at cache-build time
    # (round-14: _tri_per_node is checkpointed, shared with
    # graph_triangle_cosupply); its semi-join closure shape is pinned
    # on the LAZY derivation
    from vectordb_agentic_rag_spark.operators.graph import _tri_per_node_plan

    tri_plan = plan_of(_tri_per_node_plan(spark, sf_dir))
    assert "LeftSemi" in tri_plan
    plan = plan_of(QUERIES["graph_clustering_coefficient"](spark, sf_dir))
    # top-20 is TakeOrdered; the supplier dim joins broadcast
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastHashJoin" in plan


def test_phash_neardup_banded_equi_join(spark, sf_dir):
    plan = plan_of(QUERIES["multimodal_phash_neardup"](spark, sf_dir))
    # candidates come from the (band, band_value) equi-join — never a
    # cartesian or an all-pairs theta join
    assert "CartesianProduct" not in plan
    assert re.search(r"Left keys \[2\]: \[b#\S+, bv#", plan), plan[:2000]


def test_bootstrap_ci_single_pass_no_explode(spark, sf_dir):
    plan = plan_of(QUERIES["agg_bootstrap_ci"](spark, sf_dir))
    # 32 replica means ride ONE conditional-aggregate scan: no
    # Generate (explode), exactly one exchange (partial -> final agg)
    assert "Generate" not in plan
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1, plan[:1500]


def test_cos_hist_panel_is_take_ordered(spark, sf_dir):
    plan = plan_of(QUERIES["vec_pairwise_cos_hist"](spark, sf_dir))
    # the probe panel is a fixed-size orderBy+limit, and the vector
    # math stays JVM-side
    assert "TakeOrderedAndProject" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_covariance_matrix_one_exchange(spark, sf_dir):
    plan = plan_of(QUERIES["agg_covariance_matrix"](spark, sf_dir))
    # 44 moment sums in one partial+final aggregate pass
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1, plan[:1500]


# ------------------------------------------------------- round-7 wave 5


def test_ols_single_moment_aggregate(spark, sf_dir):
    plan = plan_of(QUERIES["agg_ols_regression"](spark, sf_dir))
    # count + 9 moment sums ride ONE partial+final aggregate pass; the
    # Cramer solve is projection arithmetic on the single result row
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1, plan[:1500]
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_autocorr_collapses_to_day_domain(spark, sf_dir):
    plan = plan_of(QUERIES["agg_autocorr_daily"](spark, sf_dir))
    # no window at all — the lag pairing is a day-domain equi-join on
    # the pre-aggregate, never a per-row ordered window over the facts
    assert "Window" not in plan
    assert "SinglePartition" not in plan


def test_adamic_adar_materialized_edges_take_ordered(spark, sf_dir):
    plan = plan_of(QUERIES["graph_adamic_adar"](spark, sf_dir))
    # edge list is checkpointed (ExistingRDD), referenced three times
    # without re-deriving the support join; top-20 is TakeOrdered
    assert "Scan ExistingRDD" in plan
    assert "Scan parquet" not in plan
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan


def test_map_window_partitioned_by_query(spark, sf_dir):
    plan = plan_of(QUERIES["rag_eval_map"](spark, sf_dir))
    # the running-hit window is bounded per query key (10 rows each)
    assert "hashpartitioning(query_id" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_token_bucket_single_user_exchange(spark, sf_dir):
    plan = plan_of(QUERIES["win_token_bucket"](spark, sf_dir))
    # rank window + collect/fold aggregate share ONE user_id exchange;
    # the fold itself is a JVM higher-order function, not Python
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1, plan[:1500]
    assert "hashpartitioning(user_id" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_benford_total_joins_broadcast(spark, sf_dir):
    plan = plan_of(QUERIES["agg_benford_deviation"](spark, sf_dir))
    # the 1-row total reaches the 9-row digit histogram as a broadcast
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_interpolate_windows_partitioned_by_user(spark, sf_dir):
    plan = plan_of(QUERIES["win_interpolate_linear"](spark, sf_dir))
    # spine generation + both anchor windows stay per-user partitioned
    assert "hashpartitioning(user_id" in plan
    assert "SinglePartition" not in plan


def test_pareto_domain_window_broadcast_join_back(spark, sf_dir):
    plan = plan_of(QUERIES["pipeline_pareto_frontier"](spark, sf_dir))
    # the running-max window runs over the grouped n_chars DOMAIN
    # (post-aggregate), and the domain frontier joins back broadcast
    assert "BroadcastHashJoin" in plan
    # window input is the aggregate, not the raw docs: the running max
    # is computed over the aggregated per-length maximum column `my`
    assert re.search(r"max\(my#\d+", plan), plan[:1500]


def test_breusch_pagan_single_residual_scan(spark, sf_dir):
    plan = plan_of(QUERIES["agg_breusch_pagan"](spark, sf_dir))
    # the checkpointed 1-row moment/beta result reaches the residual
    # pass as a broadcast; the naive plan re-derived the moment pass
    # from parquet on every reference (measured: 6 fact scans)
    assert plan.count("Scan parquet") <= 2, plan[:1500]
    assert "Scan ExistingRDD" in plan
    assert "BroadcastNestedLoopJoin" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_kaplan_meier_domain_fold_from_checkpoint(spark, sf_dir):
    plan = plan_of(QUERIES["agg_kaplan_meier"](spark, sf_dir))
    # the duration-domain table is materialized once; the product fold
    # and the final join both read it (no sessionize re-derivation),
    # and the fold result joins back broadcast
    assert plan.count("Scan parquet") == 0, plan[:1500]
    assert "Scan ExistingRDD" in plan
    assert "BroadcastHashJoin" in plan


def test_kcore_runs_on_checkpointed_edges_only(spark, sf_dir):
    plan = plan_of(QUERIES["graph_kcore"](spark, sf_dir))
    # the returned degrees read ONLY the converged checkpointed edge
    # list — the peeling loop never re-touches the fact table
    assert "Scan parquet" not in plan
    assert "Scan ExistingRDD" in plan
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1, plan[:1500]


def test_rake_doc_window_and_take_ordered(spark, sf_dir):
    plan = plan_of(QUERIES["text_rake_keywords"](spark, sf_dir))
    # phrase segmentation is a per-doc window; top-20 is TakeOrdered;
    # everything stays JVM-side
    assert "hashpartitioning(doc_id" in plan
    assert "TakeOrderedAndProject" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_jarque_bera_one_moment_pass(spark, sf_dir):
    plan = plan_of(QUERIES["agg_jarque_bera"](spark, sf_dir))
    # count + 4 power sums per type in one partial+final aggregate
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1, plan[:1500]
    assert "partial_" in plan


def test_durbin_watson_day_domain_no_window(spark, sf_dir):
    plan = plan_of(QUERIES["agg_durbin_watson_daily"](spark, sf_dir))
    # like agg_autocorr_daily: lag pairing is a domain equi-join —
    # no per-row ordered window over the fact table
    assert "Window" not in plan
    assert "SinglePartition" not in plan


def test_payload_entropy_keyed_aggregates(spark, sf_dir):
    plan = plan_of(QUERIES["multimodal_payload_entropy"](spark, sf_dir))
    # byte histogram + per-doc assembly are keyed hash aggregates with
    # map-side partials; no windows, no Python
    assert "hashpartitioning(doc_id" in plan
    assert "Window" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_rolling_p90_single_user_window(spark, sf_dir):
    plan = plan_of(QUERIES["win_rolling_p90"](spark, sf_dir))
    assert "hashpartitioning(user_id" in plan
    assert "SinglePartition" not in plan


def test_grubbs_theil_one_moment_pass(spark, sf_dir):
    for op in ("agg_grubbs_test", "agg_theil_index"):
        plan = plan_of(QUERIES[op](spark, sf_dir))
        assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1, (op, plan[:800])
        assert "partial_" in plan


def test_core_number_loop_on_checkpointed_labels(spark, sf_dir):
    plan = plan_of(QUERIES["graph_core_number"](spark, sf_dir))
    # the converged label table is a checkpointed RDD; the fact table
    # never appears in the returned plan
    assert "Scan parquet" not in plan
    assert "Scan ExistingRDD" in plan


def test_mann_kendall_day_domain_self_join(spark, sf_dir):
    plan = plan_of(QUERIES["agg_mann_kendall_trend"](spark, sf_dir))
    # the O(d^2) pair sum runs on the checkpointed day DOMAIN —
    # no fact-table scan in the pair stage, no global window
    assert "Window" not in plan
    assert "SinglePartition" not in plan
    assert "Scan parquet" not in plan  # domain is checkpointed once


def test_time_to_convert_filters_pushed(spark, sf_dir):
    plan = plan_of(QUERIES["agg_time_to_convert"](spark, sf_dir))
    # both event_type filters reach the parquet scans
    assert plan.count("EqualTo(event_type,view)") >= 1
    assert plan.count("EqualTo(event_type,purchase)") >= 1


def test_cohort_overlap_counts_broadcast_back(spark, sf_dir):
    plan = plan_of(QUERIES["agg_cohort_overlap"](spark, sf_dir))
    # type-level counts reach the pair rows as broadcasts; the pair
    # join is an equi-join (keyed on user_id at scale; auto-broadcast
    # at toy sf) — never a cartesian
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_leakage_pairs_take_ordered(spark, sf_dir):
    plan = plan_of(QUERIES["pipeline_split_leakage_pairs"](spark, sf_dir))
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan


def test_mattr_doc_window_no_python(spark, sf_dir):
    plan = plan_of(QUERIES["text_mattr_diversity"](spark, sf_dir))
    assert "hashpartitioning(doc_id" in plan
    assert "SinglePartition" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_bounce_rate_single_user_exchange(spark, sf_dir):
    plan = plan_of(QUERIES["agg_bounce_rate"](spark, sf_dir))
    # sessionize windows + both rollups on ONE user_id exchange
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1, plan[:1500]
    assert "hashpartitioning(user_id" in plan


def test_page_hinkley_single_user_exchange(spark, sf_dir):
    plan = plan_of(QUERIES["win_page_hinkley"](spark, sf_dir))
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1, plan[:1500]
    assert "hashpartitioning(user_id" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_curriculum_two_pass_value_domain_rank(spark, sf_dir):
    plan = plan_of(QUERIES["pipeline_curriculum_order"](spark, sf_dir))
    # the only unpartitioned sort is the score DOMAIN cumulative; the
    # per-row rank window is PARTITIONED by score bucket and offsets
    # join back broadcast
    assert "hashpartitioning(quality" in plan
    assert "BroadcastHashJoin" in plan


def test_weighted_jaccard_weights_join_by_key(spark, sf_dir):
    plan = plan_of(QUERIES["dedup_weighted_jaccard_rescore"](spark, sf_dir))
    # top-50 via TakeOrdered; no cartesian anywhere
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan


def test_truss_loop_on_checkpointed_edges(spark, sf_dir):
    plan = plan_of(QUERIES["graph_truss_decomposition"](spark, sf_dir))
    # the returned support table reads only the converged checkpointed
    # edge list — the peeling never re-touches the fact table
    assert "Scan parquet" not in plan
    assert "Scan ExistingRDD" in plan


def test_spc_western_electric_single_exchange(spark, sf_dir):
    # the control-limit window and the three trailing run frames share
    # one user_id hash partitioning and one (ts, event_id) sort: exactly
    # one exchange, no Python in the flag logic
    import re

    plan = plan_of(QUERIES["win_spc_western_electric"](spark, sf_dir))
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1
    assert "hashpartitioning(user_id" in plan
    assert "rangepartitioning" not in plan
    assert "BatchEvalPython" not in plan


def test_hill_tail_global_topk_is_take_ordered(spark, sf_dir):
    # the only data-sized stage is the global top-(m+1): must plan as
    # TakeOrderedAndProject (per-partition heaps), never a global sort
    # of the events; the rank window runs on the bounded 101-row set
    plan = plan_of(QUERIES["agg_tail_index_hill"](spark, sf_dir))
    assert "TakeOrderedAndProject" in plan
    assert "rangepartitioning" not in plan
    assert "BatchEvalPython" not in plan


def test_token_budget_select_no_per_source_global_sort(spark, sf_dir):
    # the per-source running token total decomposes over the quality
    # domain: no range partitioning anywhere, both side tables broadcast
    plan = plan_of(QUERIES["pipeline_token_budget_select"](spark, sf_dir))
    assert "rangepartitioning" not in plan
    assert "BroadcastExchange" in plan
    assert "BatchEvalPython" not in plan


def test_blocklist_filter_broadcast_left_join(spark, sf_dir):
    # the blocklist is the broadcast side of a LEFT OUTER join — the
    # corpus never shuffles for the gate, and kept/dropped audit columns
    # come from the same single pass (no anti-join second scan)
    plan = plan_of(QUERIES["pipeline_blocklist_filter"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan and "LeftOuter" in plan
    assert plan.count("Location: InMemoryFileIndex") == 1
    assert "BatchEvalPython" not in plan


def test_anova_single_fact_scan_partial_agg(spark, sf_dir):
    # one grouped moment pass: a single events scan feeding a partial
    # (map-side) HashAggregate; no window, no join back of group means
    plan = plan_of(QUERIES["agg_anova_oneway"](spark, sf_dir))
    assert plan.count("Location: InMemoryFileIndex") == 1
    assert "partial_" in plan
    assert "Window" not in plan
    assert "BatchEvalPython" not in plan


def test_modularity_brands_ride_broadcast(spark, sf_dir):
    # edges come from the checkpointed co-purchase list (no lineitem
    # re-derivation); both brand lookups are broadcast joins of the part
    # dimension; no shuffle join anywhere
    plan = plan_of(QUERIES["graph_modularity_partition"](spark, sf_dir))
    assert "Scan parquet" not in plan or "lineitem" not in plan
    assert plan.count("BroadcastHashJoin") >= 2
    assert "SortMergeJoin" not in plan
    assert "BatchEvalPython" not in plan


def test_topk_margin_query_side_broadcast(spark, sf_dir):
    # corpus streams through one codegen cosine stage against the
    # broadcast query set; the only exchange partitions by query_id for
    # the bounded top-10 window
    plan = plan_of(QUERIES["vec_topk_margin_stats"](spark, sf_dir))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "hashpartitioning(query_id" in plan
    assert "BatchEvalPython" not in plan


def test_mood_median_broadcast_median_no_row_sort(spark, sf_dir):
    # both fact passes (domain collapse, classification against the
    # broadcast median) ran eagerly at their localCheckpoints; the
    # final plan works entirely on the bounded checkpointed frames —
    # no parquet re-scan, no row-level Sort, no Python
    plan = plan_of(QUERIES["agg_mood_median_test"](spark, sf_dir))
    assert plan.count("Location: InMemoryFileIndex") == 0
    assert "BatchEvalPython" not in plan


def test_kruskal_ranks_live_on_value_domain(spark, sf_dir):
    # ranks never exist per row: the single fact scan collapsed to the
    # checkpointed (cents, type) domain frame; the ordered cumsum, the
    # rank-sum join, and the moments all run on that bounded frame
    plan = plan_of(QUERIES["agg_kruskal_wallis"](spark, sf_dir))
    assert plan.count("Location: InMemoryFileIndex") == 0
    assert "partial_" in plan
    assert "BatchEvalPython" not in plan


def test_rich_club_runs_on_checkpointed_edges(spark, sf_dir):
    # the spectrum derives entirely from the checkpointed co-purchase
    # edge list — no parquet re-scan, no Python, and the only window
    # is the bounded degree-domain cumsum
    plan = plan_of(QUERIES["graph_rich_club"](spark, sf_dir))
    assert plan.count("Location: InMemoryFileIndex") == 0
    assert "BatchEvalPython" not in plan


def test_vocab_estimate_single_token_shuffle(spark, sf_dir):
    # one scan -> explode -> vocabulary hash aggregate (map-side
    # combined) -> 1-row reduction; no join, no window
    plan = plan_of(QUERIES["agg_unseen_vocab_estimate"](spark, sf_dir))
    assert plan.count("Location: InMemoryFileIndex") == 1
    assert "partial_" in plan
    assert "Window" not in plan
    assert "BatchEvalPython" not in plan


def test_capture_recapture_bounds_broadcast(spark, sf_dir):
    # the 1-row time-range bounds broadcast into the occupancy pass;
    # two fact scans total, both two-column projections
    plan = plan_of(QUERIES["agg_capture_recapture"](spark, sf_dir))
    assert "BroadcastNestedLoopJoin" in plan
    assert plan.count("Location: InMemoryFileIndex") == 2
    assert "BatchEvalPython" not in plan


def test_katz_topk_is_take_ordered_on_edges_only(spark, sf_dir):
    # the 6-iteration walk unroll lives on the checkpointed edge list
    # (no parquet re-scan); the top-20 is TakeOrderedAndProject, never
    # a global-sort window
    plan = plan_of(QUERIES["graph_katz_centrality"](spark, sf_dir))
    assert plan.count("Location: InMemoryFileIndex") == 0
    assert "TakeOrderedAndProject" in plan
    assert "Exchange rangepartitioning" not in plan
    assert "BatchEvalPython" not in plan


def test_beta_binomial_topk_take_ordered_single_source(spark, sf_dir):
    # two passes over the per-user aggregate of ONE fact source (the
    # prior moments and the scoring), top-10 via TakeOrderedAndProject
    plan = plan_of(QUERIES["agg_beta_binomial_shrinkage"](spark, sf_dir))
    assert "TakeOrderedAndProject" in plan
    assert "Exchange rangepartitioning" not in plan
    assert "partial_" in plan
    assert "BatchEvalPython" not in plan


def test_process_capability_one_grouped_scan(spark, sf_dir):
    # the cheapest shape there is: one scan, map-side partial agg,
    # no join, no window
    plan = plan_of(QUERIES["agg_process_capability"](spark, sf_dir))
    assert plan.count("Location: InMemoryFileIndex") == 1
    assert "partial_" in plan
    assert "Window" not in plan
    assert "Join" not in plan


def test_lognormal_fit_one_grouped_scan_pushed_filter(spark, sf_dir):
    # value > 0 reaches the parquet scan; one grouped pass after it
    plan = plan_of(QUERIES["agg_lognormal_fit"](spark, sf_dir))
    assert plan.count("Location: InMemoryFileIndex") == 1
    assert "GreaterThan(value,0.0)" in plan
    assert "partial_" in plan
    assert "Join" not in plan


def test_anderson_darling_value_domain_windows(spark, sf_dir):
    # the fact table collapses to the distinct-cents domain in ONE
    # scan; h/g harmonic sums live on an in-plan integer sequence
    plan = plan_of(QUERIES["agg_anderson_darling_2samp"](spark, sf_dir))
    assert plan.count("Location: InMemoryFileIndex") == 0  # checkpointed
    assert "BatchEvalPython" not in plan


def test_closeness_seeds_no_fact_rescan(spark, sf_dir):
    # BFS ran at build time over checkpoints; the final plan reads
    # only checkpointed frames
    plan = plan_of(QUERIES["graph_closeness_seeds"](spark, sf_dir))
    assert plan.count("Location: InMemoryFileIndex") == 0
    assert "BatchEvalPython" not in plan


def test_conformal_interval_exact_integer_plan(spark, sf_dir):
    # day-domain work only: one fact scan feeds the daily totals; the
    # rank pick and interval arithmetic are join/window on checkpoints
    plan = plan_of(QUERIES["win_conformal_interval_daily"](spark, sf_dir))
    assert plan.count("Location: InMemoryFileIndex") == 0
    assert "BatchEvalPython" not in plan


def test_discount_elasticity_bounded_domain_agg(spark, sf_dir):
    # one grouped scan to the 11-level discount domain; the fit is a
    # broadcast of a 1-row frame back onto that domain
    plan = plan_of(QUERIES["agg_discount_elasticity"](spark, sf_dir))
    assert "BroadcastExchange" in plan
    assert "partial_" in plan
    assert "BatchEvalPython" not in plan


def test_lmoments_value_domain_no_row_sort(spark, sf_dir):
    # order statistics WITHOUT a global sort: one grouped scan to the
    # value domain, windows over it, closed-form combinatorial weights
    plan = plan_of(QUERIES["agg_lmoments_suite"](spark, sf_dir))
    assert plan.count("Location: InMemoryFileIndex") == 1
    assert "Exchange rangepartitioning" not in plan or "Window" in plan
    assert "BatchEvalPython" not in plan


def test_sprt_first_day_scope_is_bounded(spark, sf_dir):
    # the replay reads only checkpointed day-1 frames — the unbounded
    # fact scan happened once at build time behind the min-date gate
    plan = plan_of(QUERIES["agg_sprt_ab_replay"](spark, sf_dir))
    assert plan.count("Location: InMemoryFileIndex") == 0
    assert "BatchEvalPython" not in plan


def test_association_rules_topk_take_ordered(spark, sf_dir):
    # order-key-blocked pair join, broadcast singles, TakeOrdered top-10
    plan = plan_of(QUERIES["agg_association_rules"](spark, sf_dir))
    assert "TakeOrderedAndProject" in plan
    assert "Exchange rangepartitioning" not in plan
    assert "BroadcastExchange" in plan
    assert "BatchEvalPython" not in plan


def test_wasserstein_energy_value_domain_single_scan(spark, sf_dir):
    # both distribution distances collapse to the checkpointed value
    # domain: no fact re-scan, windows over the bounded domain only
    for op in ("agg_wasserstein_distance", "agg_energy_distance"):
        plan = plan_of(QUERIES[op](spark, sf_dir))
        assert plan.count("Location: InMemoryFileIndex") == 0, op
        assert "BatchEvalPython" not in plan, op


def test_referential_integrity_broadcast_anti_joins(spark, sf_dir):
    # dimension parents broadcast into LEFT ANTI probes; counts are
    # map-side combinable
    plan = plan_of(QUERIES["maintenance_referential_integrity"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan
    assert "BatchEvalPython" not in plan


def test_influence_dedup_order_no_global_candidate_sort(spark, sf_dir):
    # the greedy running purged-token total decomposes over the quality
    # domain (offset broadcast back + per-cell window): no range
    # partitioning of candidates, no Python in the plan
    plan = plan_of(QUERIES["pipeline_influence_dedup_order"](spark, sf_dir))
    assert "rangepartitioning" not in plan
    assert "BroadcastExchange" in plan
    assert "BatchEvalPython" not in plan


def test_hits_topk_take_ordered_no_fact_rescan(spark, sf_dir):
    # both top-10 cuts plan as TakeOrderedAndProject (never a global
    # row_number sort), and the 4 power iterations run off the ONE
    # checkpointed edge list — orders/lineitem are never re-scanned
    plan = plan_of(QUERIES["graph_hits_bipartite"](spark, sf_dir))
    assert plan.count("TakeOrderedAndProject") >= 2
    assert plan.count("Location: InMemoryFileIndex") == 0
    assert "BatchEvalPython" not in plan


def test_lorenz_deciles_value_domain_no_row_sort(spark, sf_dir):
    # customers collapse to the distinct-revenue value domain before
    # the cumulative window; the decile probe joins a 10-row broadcast
    # domain — no global sort of customers anywhere
    plan = plan_of(QUERIES["agg_lorenz_curve_deciles"](spark, sf_dir))
    assert "rangepartitioning" not in plan
    assert "TakeOrderedAndProject" not in plan  # not even a topk cut
    assert "BatchEvalPython" not in plan


def test_cvm_single_scan_value_domain(spark, sf_dir):
    # the CvM closed forms run over the bounded cents domain: the
    # events fact is scanned zero times in the final plan (the block
    # table is checkpointed) and no Python appears
    plan = plan_of(QUERIES["agg_cramer_von_mises_2samp"](spark, sf_dir))
    assert plan.count("Location: InMemoryFileIndex") == 0
    assert "BatchEvalPython" not in plan


def test_chow_one_conditional_moment_scan(spark, sf_dir):
    # all 18 segment moments come from ONE events scan with partial
    # aggregation; no join, no window
    plan = plan_of(QUERIES["agg_chow_test"](spark, sf_dir))
    assert plan.count("Location: InMemoryFileIndex") == 1
    assert "partial_" in plan
    assert "Window" not in plan
    assert "SortMergeJoin" not in plan

def test_column_profile_two_pass_hash_agg(spark, sf_dir):
    # r15 split: the six distinct aggregates still compile to ONE
    # Expand-based multi-distinct pass (never one scan per column),
    # now HASH-aggregated — the string min/max buffers that used to
    # force the whole expanded pass through SortAggregate run in
    # their own ungrouped (sort-free) second pass. Two scans total.
    plan = plan_of(QUERIES["maintenance_column_profile"](spark, sf_dir))
    assert plan.count("Location: InMemoryFileIndex") == 2
    assert "Expand" in plan
    assert "HashAggregate" in plan
    # the only Sort node left is the final 6-row orderBy(col_name) —
    # the formatted plan lists every node twice (tree + detail), so
    # one real Sort = 2 matches; the old combined form sorted the
    # expanded fact rows twice more (6 matches)
    assert len(re.findall(r"\(\d+\) Sort\b", plan)) <= 2
    assert "BatchEvalPython" not in plan


def test_brunner_munzel_checkpointed_value_domain(spark, sf_dir):
    # both rank passes run over the checkpointed cents-domain block
    # table: zero fact scans in the final plan, totals joined by
    # broadcast, no Python
    plan = plan_of(QUERIES["agg_brunner_munzel"](spark, sf_dir))
    assert plan.count("Location: InMemoryFileIndex") == 0
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "BatchEvalPython" not in plan


def test_fisher_exact_bounded_explode_from_day_domain(spark, sf_dir):
    # the 30-day count frame is checkpointed (it feeds both the
    # median and the flag pass — the bounded-intermediate rule), so
    # the final plan has ZERO fact scans; the hypergeometric support
    # is a <=61-row broadcast range, and only broadcast joins appear
    plan = plan_of(QUERIES["agg_fisher_exact"](spark, sf_dir))
    assert plan.count("Location: InMemoryFileIndex") == 0
    assert "SortMergeJoin" not in plan
    assert "BatchEvalPython" not in plan


def test_day_domain_wave_ops_zero_fact_rescans(spark, sf_dir):
    # every wave-4/6 day-domain op checkpoints its 30-row frame when
    # it is referenced more than once: no events rescans downstream
    for op in (
        "agg_runs_test",
        "agg_durbin_watson",
        "agg_dow_anova",
        "agg_grubbs_outlier",
        "agg_hodges_lehmann_paired",
    ):
        plan = plan_of(QUERIES[op](spark, sf_dir))
        assert plan.count("Location: InMemoryFileIndex") == 0, op
        assert "BatchEvalPython" not in plan, op


def test_srm_check_single_scan_no_shuffle_ops(spark, sf_dir):
    # the chi^2 SRM gate is ONE conditional-moment scan of events with
    # partial aggregation — no join, no window, no Python
    plan = plan_of(QUERIES["agg_ab_srm_check"](spark, sf_dir))
    assert plan.count("Location: InMemoryFileIndex") == 1
    assert "partial_" in plan
    assert "Window" not in plan
    assert "Join" not in plan
    assert "BatchEvalPython" not in plan


def test_cuped_one_moments_pass(spark, sf_dir):
    # theta/rho^2 come from n-scaled integer moments gathered in ONE
    # events pass (per-user pre/post sums then one global aggregate):
    # a single scan, partial aggregation, no window
    plan = plan_of(QUERIES["agg_cuped_adjustment"](spark, sf_dir))
    assert plan.count("Location: InMemoryFileIndex") == 1
    assert "partial_" in plan
    assert "Window" not in plan
    assert "BatchEvalPython" not in plan


def test_constraint_audit_zero_rescans(spark, sf_dir):
    # each audited table is scanned ONCE at checkpoint time (all of a
    # table's checks ride one conditional-sum pass); the 7-row union of
    # 1-row frames must not re-derive any table scan
    plan = plan_of(QUERIES["maintenance_constraint_audit"](spark, sf_dir))
    assert plan.count("Location: InMemoryFileIndex") == 0
    assert "BatchEvalPython" not in plan


def test_rfm_segments_no_fact_rescans_no_python(spark, sf_dir):
    # the customer-grain base is checkpointed (referenced 5x) and the
    # three quintile ranks are value-domain offsets + PARTITIONED
    # row_number — zero orders rescans, no cartesian, no Python; the
    # only single-partition sorts left are the 2-column value domains
    plan = plan_of(QUERIES["agg_rfm_segments"](spark, sf_dir))
    assert plan.count("Location: InMemoryFileIndex") == 0
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan
    assert "Window" in plan


def test_hhi_broadcast_dims_one_fact_scan(spark, sf_dir):
    # lineitem scanned once, supplier and nation broadcast (dims are
    # always the small side), shares aggregated map-side — no
    # sort-merge join, no window
    plan = plan_of(QUERIES["agg_hhi_concentration"](spark, sf_dir))
    assert plan.count("Location: InMemoryFileIndex") == 3
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "Window" not in plan
    assert "BatchEvalPython" not in plan


def test_round10_ops_scan_budgets(spark, sf_dir):
    # one-scan / zero-rescan pins for the round-10 wave: DiD is a
    # single conditional-moments pass; qini and neyman checkpoint
    # their multi-referenced frames (user-grain and 25-row moments);
    # shapley, hoeffding, and local bridges run entirely on
    # checkpointed bounded frames; laspeyres scans each fact once
    for op, want in (
        ("agg_did_estimator", 1),
        ("agg_qini_uplift_curve", 0),
        ("sample_neyman_allocation", 0),
        ("agg_shapley_attribution", 0),
        ("agg_hoeffding_d_independence", 0),
        ("graph_local_bridges", 0),
        ("agg_laspeyres_paasche_index", 2),
    ):
        plan = plan_of(QUERIES[op](spark, sf_dir))
        assert plan.count("Location: InMemoryFileIndex") == want, op
        assert "BatchEvalPython" not in plan, op
        assert "CartesianProduct" not in plan, op


def test_qini_score_domain_cumsum_partitioned(spark, sf_dir):
    # the score domain is USER-grain (a per-user cent total), so its
    # exclusive prefix sum must never be an unpartitioned window
    # (round-10 verdict finding): the two-level decomposition range-
    # buckets the domain and cumulates WITHIN pid; the only window
    # specs without a partition column are the <=16-row bucket-offset
    # frame (pid-ordered) and the 10-row decile rollup (decile-ordered)
    import re

    plan = plan_of(QUERIES["agg_qini_uplift_curve"](spark, sf_dir))
    assert plan.count("Location: InMemoryFileIndex") == 0
    assert "BatchEvalPython" not in plan
    assert "CartesianProduct" not in plan
    # every window spec that orders by the score column carries pid
    # as its partition spec (windowspecdefinition lists partition
    # columns FIRST — a spec starting at score is unpartitioned)
    assert not re.search(r"windowspecdefinition\(score#\d+", plan)
    assert re.search(
        r"windowspecdefinition\(_pid#\d+, score#\d+", plan
    ), "score-domain cumulative lost its _pid partitioning"


def test_fact_scaled_domains_never_unpartitioned_windows(spark, sf_dir):
    # round-11 window sweep: every op whose ordered cumulative runs
    # over a FACT-KEY-grain domain (per-user cents, per-customer
    # revenue, per-part revenue/price) uses the distributed two-level
    # prefix sum (functions/domain.py) — a windowspecdefinition whose
    # partition spec is empty lists its order column FIRST, so the
    # fact-scaled column must never open a spec
    import re

    for op, col in (
        ("agg_woe_information_value", "score"),
        ("agg_lorenz_curve_deciles", "rev"),
        ("agg_abc_pareto_class", "r"),
        ("agg_rfm_segments", "mon"),
        ("agg_spearman_corr", "l_extendedprice"),
    ):
        plan = plan_of(QUERIES[op](spark, sf_dir))
        # an ASC/DESC marker directly on the FIRST spec element means
        # the partition list is empty and the spec ORDERS by col; a
        # bare first element (e.g. rfm's partitionBy(mon) rank window)
        # is a partition key and is fine
        assert not re.search(
            rf"windowspecdefinition\({col}#\d+L? (ASC|DESC)", plan
        ), f"{op}: unpartitioned window over fact-scaled {col}"
        assert re.search(
            rf"windowspecdefinition\(_pid#\d+, {col}#\d+", plan
        ), f"{op}: {col} cumulative lost its _pid partitioning"


def test_tukey_m_frame_checkpointed_once(spark, sf_dir):
    # the 21 HSD pair branches all reference the pivoted 1-row moment
    # frame; without the localCheckpoint the lazy UNION re-derives the
    # events scan once per branch (measured 21 scans) — the bounded-
    # intermediate ckpt rule pins it at 0 scans in the final plan
    plan = plan_of(QUERIES["agg_tukey_hsd_qstat"](spark, sf_dir))
    assert plan.count("Location: InMemoryFileIndex") == 0
    assert "BatchEvalPython" not in plan


def test_ratio_metric_delta_ci_single_scan(spark, sf_dir):
    # the whole delta-method pass is user-aggregate -> arm-aggregate
    # over ONE events scan (the production experiment-pipeline shape)
    plan = plan_of(QUERIES["agg_ratio_metric_delta_ci"](spark, sf_dir))
    assert plan.count("Location: InMemoryFileIndex") == 1
    assert "BatchEvalPython" not in plan


def test_queue_r12_bounded_intermediates_checkpointed(spark, sf_dir):
    # agg_forecast_mase's lagged day frame and agg_dkw_cdf_bands'
    # cents-domain frame are each referenced twice — the ckpt rule
    # pins both plans at 0 parquet scans (derivation runs eagerly at
    # checkpoint time)
    from vectordb_agentic_rag_spark.operators.stats.distribution import (
        agg_dkw_cdf_bands,
    )
    from vectordb_agentic_rag_spark.operators.stats.timeseries import (
        agg_forecast_mase,
    )

    for fn in (agg_forecast_mase, agg_dkw_cdf_bands):
        plan = plan_of(fn(spark, sf_dir))
        assert plan.count("Location: InMemoryFileIndex") == 0, fn.__name__
        assert "BatchEvalPython" not in plan


def test_wedge_cap_checkpointed_edges_partitioned_rank(spark, sf_dir):
    # graph_triangle_wedge_cap: the oriented edge list er is
    # localCheckpointed (referenced by the rank window AND the closure
    # probe; _cosupply_edges is itself ckpt'd), so the final plan has
    # ZERO parquet scans; the per-pivot rank window must stay
    # PARTITIONED by the pivot (s) — an unpartitioned rank would sort
    # the world
    import re

    from vectordb_agentic_rag_spark.operators.graph import (
        graph_triangle_wedge_cap,
    )

    plan = plan_of(graph_triangle_wedge_cap(spark, sf_dir))
    assert plan.count("Location: InMemoryFileIndex") == 0
    assert "BatchEvalPython" not in plan
    # every windowspecdefinition lists a partition column first
    # (bare #id, no ASC/DESC) — the round-11 detector shape
    assert not re.search(
        r"windowspecdefinition\(\w+#\d+L? (ASC|DESC)", plan
    )


def test_scatter_gather_broadcast_queries_single_scan(spark, sf_dir):
    # vec_topk_scatter_gather: one corpus scan + one broadcast query
    # panel; both windows partitioned ((shard, query) then (query))
    plan = plan_of(QUERIES["vec_topk_scatter_gather"](spark, sf_dir))
    assert plan.count("Location: InMemoryFileIndex") == 2  # corpus + q
    assert "BroadcastExchange" in plan
    assert "BatchEvalPython" not in plan
