"""Plan-regression tests: the 100 TB posture, enforced.

These assert on the physical plan, not the result — a regression that
silently turns a broadcast join into a shuffle, or un-pushes a parquet
filter, fails here even though results stay correct.
"""

from __future__ import annotations

from data_ingestor_web_app_spark.registry import QUERIES


def plan(spark, name, sf):
    df = QUERIES[name](spark, sf)
    df.collect()  # materialize THIS plan so AQE finalizes it (count() would re-plan)
    return df._jdf.queryExecution().executedPlan().toString()


def test_scan_pruned_pushes_filters_and_prunes_columns(spark, sf_small):
    p = plan(spark, "scan_pruned", sf_small)
    assert "PushedFilters: [" in p
    assert "l_shipdate" in p.split("PushedFilters")[1].split("]")[0]
    # projection pruning: the parquet ReadSchema must not include unused cols
    read_schema = p.split("ReadSchema")[1]
    assert "l_comment" not in read_schema
    assert "l_returnflag" not in read_schema


def test_broadcast_joins_are_broadcast(spark, sf_small):
    for name in ["join_broadcast", "join_multiway", "sim_cosine_topk"]:
        p = plan(spark, name, sf_small)
        assert "BroadcastHashJoin" in p or "BroadcastNestedLoopJoin" in p, name
    # the dimension join must NOT shuffle both sides
    p = plan(spark, "join_broadcast", sf_small)
    assert "SortMergeJoin" not in p


def test_limit_topk_uses_heap_not_global_sort(spark, sf_small):
    p = plan(spark, "limit_topk", sf_small)
    assert "TakeOrderedAndProject" in p


def test_topk_per_group_pushes_window_limit(spark, sf_small):
    p = plan(spark, "topk_per_group", sf_small)
    assert "WindowGroupLimit" in p  # rn <= 3 evaluated during the sort, not after


def test_aggregates_are_partial_final(spark, sf_small):
    p = plan(spark, "agg_groupby", sf_small)
    assert p.count("HashAggregate") >= 2  # map-side partial + final


def test_dedup_near_has_no_cartesian(spark, sf_small):
    p = plan(spark, "dedup_near", sf_small)
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_whole_stage_codegen_in_hot_paths(spark, sf_small):
    # codegen stages print as "*(n) Operator" in the physical plan string
    for name in ["project_compute", "agg_groupby", "fn_math"]:
        p = plan(spark, name, sf_small)
        assert "*(1)" in p, f"{name}: no whole-stage-codegen span in plan"


def test_events_reader_converts_ns_timestamps(spark, sf_small):
    from data_ingestor_web_app_spark.io import table

    schema = dict(table(spark, sf_small, "events").dtypes)
    assert schema["ts"] == "timestamp"


def test_wordcount_topk_uses_heap_not_global_sort(spark, sf_small):
    # top-50 must compile to TakeOrderedAndProject; the only Window allowed
    # is the rank derivation over the 50 survivors (bounded at k rows)
    p = plan(spark, "text_tokenize_wordcount", sf_small)
    assert "TakeOrderedAndProject" in p


def test_pipeline_corpus_never_broadcasts_dedup_keepset(spark, sf_small):
    # the dedup keep-set is O(#distinct docs) - unbounded at 100 TB, so the
    # query must not FORCE a broadcast via hint. The planner may still pick
    # broadcast from size estimates at tiny SF (and would correctly pick a
    # shuffle semi-join once estimates exceed autoBroadcastJoinThreshold),
    # so assert the optimized logical plan carries no broadcast hint and the
    # join is a semi-join.
    df = QUERIES["pipeline_training_corpus"](spark, sf_small)
    qe = df._jdf.queryExecution()
    optimized = qe.optimizedPlan().toString()
    assert "hint" not in optimized.lower(), optimized
    assert "LeftSemi" in optimized


def test_bucketed_join_has_no_exchange(spark, sf_small):
    p = plan(spark, "join_bucketed_colocated", sf_small)
    # the join's children must read bucketed files directly - no shuffle
    assert "Exchange hashpartitioning(o_orderkey" not in p
    assert "Exchange hashpartitioning(l_orderkey" not in p
    assert "SelectedBucketsCount" in p or "Bucketed: true" in p


def test_tpch_q5_broadcasts_dims_and_avoids_cartesian(spark, sf_small):
    p = plan(spark, "tpch_q5", sf_small)
    # region->nation->supplier chain must be broadcast; facts meet via shuffle
    assert p.count("BroadcastHashJoin") >= 2
    assert "CartesianProduct" not in p


def test_tpch_q19_pushes_single_table_residues(spark, sf_small):
    p = plan(spark, "tpch_q19", sf_small)
    assert "BroadcastHashJoin" in p  # part stays a broadcast dim
    # Catalyst must extract the l_quantity-only residue of the OR-of-ANDs
    # and push it into the lineitem parquet scan
    pushed = p.split("PushedFilters")[1].split("]")[0]
    assert "l_quantity" in pushed, pushed


def test_tpch_q22_anti_join_no_cartesian(spark, sf_small):
    p = plan(spark, "tpch_q22", sf_small)
    assert "LeftAnti" in p
    assert "CartesianProduct" not in p


def test_kmeans_assignment_broadcasts_codebook(spark, sf_small):
    # the codebook cross join must be a broadcast (tiny K x dim side), and
    # the corpus must never hit a cartesian/sort-merge product
    p = plan(spark, "sim_kmeans_iter", sf_small)
    assert "BroadcastNestedLoopJoin" in p
    assert "CartesianProduct" not in p


def test_dedup_embedding_blocks_not_all_pairs(spark, sf_small):
    p = plan(spark, "dedup_embedding", sf_small)
    assert "CartesianProduct" not in p  # pair join rides the c_label block key


def test_sort_multi_never_single_partition(spark, sf_small):
    # global row_number via range partition + offsets — no Exchange
    # SinglePartition anywhere in the plan
    p = plan(spark, "sort_multi", sf_small)
    assert "SinglePartition" not in p
    assert "rangepartitioning" in p


def test_q3_q10_aggregate_below_join(spark, sf_small):
    # eager aggregation pushdown: the lineitem HashAggregate must sit BELOW
    # the dim joins (plan strings print root-first, so the join's index is
    # smaller than the aggregate's)
    for name in ["tpch_q3", "tpch_q10"]:
        p = plan(spark, name, sf_small)
        assert "BroadcastHashJoin" in p and "HashAggregate" in p, name
        assert p.index("BroadcastHashJoin") < p.index("HashAggregate"), name


def test_salted_join_shuffles_on_salt(spark, sf_small):
    # the exchange key must include the salt — that IS the skew fix. At
    # fixture scale AQE broadcasts the whole fact side (correctly!), which
    # hides the shuffle posture, so force the at-scale shuffle path for the
    # assertion by disabling broadcast joins.
    import re

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        old_aqe = spark.conf.get("spark.sql.adaptive.autoBroadcastJoinThreshold")
    except Exception:
        old_aqe = None
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
        p = plan(spark, "join_salted_skew", sf_small)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        if old_aqe:
            spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", old_aqe)
        else:
            spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
    exchanges = re.findall(r"hashpartitioning\([^)]*\)", p)
    assert any("salt" in e for e in exchanges), exchanges


def test_tfidf_prunes_topk_during_sort(spark, sf_small):
    p = plan(spark, "text_tfidf_topk", sf_small)
    assert "WindowGroupLimit" in p
    # ranking is per-document — the window rides a doc_id hash partitioning
    # (the only SinglePartition exchange allowed is the one-row global-N
    # scalar aggregate)
    assert "hashpartitioning(doc_id" in p


def test_pattern_detect_single_user_shuffle(spark, sf_small):
    # CEP via window navigation: exactly one exchange, keyed on user_id
    import re
    p = plan(spark, "events_pattern_detect", sf_small)
    exchanges = re.findall(r"Exchange (\w+)\(([^,)]+)", p)
    shuffles = [(k, c) for k, c in exchanges if k == "hashpartitioning"]
    # AQE prints the plan twice (initial + final) — assert every shuffle is
    # the single user_id partitioning, none on anything else
    assert shuffles and all("user_id" in c for _, c in shuffles), exchanges
    assert "SinglePartition" not in p


def test_time_range_window_is_per_user(spark, sf_small):
    p = plan(spark, "win_time_range", sf_small)
    assert "hashpartitioning(user_id" in p
    assert "SinglePartition" not in p


def test_decontaminate_semi_join_no_cartesian(spark, sf_small):
    p = plan(spark, "pipeline_decontaminate", sf_small)
    assert "LeftSemi" in p, p[:1500]
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_chunk_dedup_keepset_never_nested_loop(spark, sf_small):
    p = plan(spark, "dedup_chunks", sf_small)
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    # keep-decision is a map-side-partial MIN aggregate
    assert p.count("HashAggregate") >= 2


def test_bitmap_rollup_reuses_day_partials(spark, sf_small):
    # daily counts and the ALL row must share ONE (d, bucket) aggregate
    # over raw events — via exchange/subplan reuse — not two raw scans
    p = plan(spark, "agg_bitmap_distinct", sf_small)
    import re
    raw_scans = len(re.findall(r"Scan parquet[^\n]*events", p))
    reused = ("ReusedExchange" in p) or ("InMemoryTableScan" in p)
    assert raw_scans <= 1 or reused, p[:2000]


def test_top_paths_heap_not_global_sort(spark, sf_small):
    p = plan(spark, "events_top_paths", sf_small)
    assert "TakeOrderedAndProject" in p


def test_equidepth_broadcasts_only_the_boundary_row(spark, sf_small):
    p = plan(spark, "agg_equidepth_histogram", sf_small)
    assert "BroadcastExchange" in p  # the 1-row quantile frame
    assert "Sort " not in p or "TakeOrdered" in p or "SortMergeJoin" in p


def test_attribution_aggregates_candidates_map_side(spark, sf_small):
    p = plan(spark, "events_attribution_last_touch", sf_small)
    # per-purchase winner via max(struct(...)): partial+final HashAggregate
    assert "max(struct" in p.lower() or "max(named_struct" in p.lower(), p[:1500]
    assert "CartesianProduct" not in p


def test_triangle_count_edge_joins_are_equi(spark, sf_small):
    p = plan(spark, "graph_triangle_count", sf_small)
    assert "CartesianProduct" not in p
    # the wedge-build and wedge-close joins must be hash/merge equi joins;
    # the only nested-loop allowed is the final 1-row x 1-row metric cross
    import re
    bnlj = re.findall(r"BroadcastNestedLoopJoin[^\n]*", p)
    assert all("Cross" in j for j in bnlj) and len(bnlj) <= 2, bnlj
    assert ("SortMergeJoin" in p) or ("BroadcastHashJoin" in p) or (
        "ShuffledHashJoin" in p
    ), p[:1500]


# --- round-3 plan postures ---


def test_knn_graph_is_grouped_pandas_not_nested_loop(spark, sf_small):
    p = plan(spark, "sim_knn_graph", sf_small)
    assert "FlatMapGroupsInPandas" in p  # block-pair GEMM kernel
    assert "BroadcastNestedLoopJoin" not in p
    assert "CartesianProduct" not in p


def test_interval_overlap_is_equi_join(spark, sf_small):
    p = plan(spark, "join_interval_overlap", sf_small)
    assert "BroadcastNestedLoopJoin" not in p  # grid bucketing, not range NLJ
    assert "CartesianProduct" not in p


def test_snapshot_diff_and_merge_have_no_nested_loop(spark, sf_small):
    for name in ["snapshot_diff", "upsert_merge_actions"]:
        p = plan(spark, name, sf_small)
        assert "BroadcastNestedLoopJoin" not in p, name
        assert "CartesianProduct" not in p, name


def test_gopher_rules_is_shuffle_free(spark, sf_small):
    p = plan(spark, "text_gopher_rules", sf_small)
    assert "Exchange" not in p  # one scan, pure projection


def test_scalar_families_are_shuffle_free(spark, sf_small):
    for name in ["fn_url_parse", "fn_datetime_extra"]:
        p = plan(spark, name, sf_small)
        assert "Exchange" not in p, name


def test_ks_and_mw_sweeps_are_bucket_partitioned(spark, sf_small):
    # the prefix-sum window must partition by the derived bucket — never a
    # global (empty-partition-spec) window over row data
    for name in ["agg_ks_test", "agg_mann_whitney"]:
        p = plan(spark, name, sf_small)
        assert "windowspecdefinition(__bkt" in p, name


def test_rfm_and_correlations_have_no_window_at_all(spark, sf_small):
    for name in ["agg_rfm_segments", "events_rolling_corr", "events_autocorrelation"]:
        p = plan(spark, name, sf_small)
        assert "Window" not in p, name  # boundaries/joins instead of sorts


def test_consistent_hash_router_assigns_without_shuffling_corpus(spark, sf_small):
    """Ownership is a literal-array lookup in the projection: the only
    exchange in the whole plan is the final single-partition aggregate."""
    p = plan(spark, "pipeline_consistent_hash_router", sf_small)
    import re

    exchanges = re.findall(r"Exchange \w+", p)
    assert all("SinglePartition" in e or "Exchange Single" in e for e in exchanges) or len(exchanges) <= 1, exchanges
    assert "SortMergeJoin" not in p and "CartesianProduct" not in p


def test_heavy_hitters_recount_is_semi_join(spark, sf_small):
    """The exact recount must touch only MG candidates (left_semi), never
    a full-cardinality groupBy of the gram stream."""
    p = plan(spark, "agg_heavy_hitters_mg", sf_small)
    assert "LeftSemi" in p


def test_wave123_dsir_broadcasts_delta_table(spark, sf_small):
    p = plan(spark, "pipeline_dsir_weights", sf_small)
    assert "BroadcastHashJoin" in p  # 1024-row delta side broadcast
    assert "CartesianProduct" not in p


def test_wave123_winnowing_is_pure_projection(spark, sf_small):
    # winnowing runs entirely in per-row higher-order functions: the only
    # allowed exchange is the parquet scan's output — no shuffle at all
    p = plan(spark, "text_winnowing_fingerprint", sf_small)
    assert "Exchange" not in p


def test_wave125_apriori_has_no_cartesian(spark, sf_small):
    p = plan(spark, "basket_apriori_itemsets", sf_small)
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_wave126_ql_broadcasts_query_terms(spark, sf_small):
    p = plan(spark, "text_query_likelihood_dirichlet", sf_small)
    assert "BroadcastHashJoin" in p or "BroadcastNestedLoopJoin" in p


def test_rate_limit_is_single_pass_mapinpandas(spark, sf_small):
    # partition-wide fold: one hash repartition + mapInPandas, and NOT the
    # per-group applyInPandas operator (FlatMapGroupsInPandas)
    p = plan(spark, "events_rate_limit", sf_small)
    assert "MapInPandas" in p
    assert "FlatMapGroupsInPandas" not in p


def test_round6_sketch_ops_plan_shapes(spark, sf_small):
    # KMV: the per-group top-K window must carry the rank-limit pushdown so
    # the shuffle moves K rows per (group, partition), not the whole key set
    p = plan(spark, "agg_kmv_distinct", sf_small)
    assert "WindowGroupLimit" in p
    # Bloom: the bit set is tiny and must broadcast; the probe side never
    # shuffles for the membership join
    p = plan(spark, "agg_bloom_membership", sf_small)
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p


def test_round6_link_prediction_no_cartesian(spark, sf_small):
    # wedge enumeration is an equi-join through the middle node; the
    # existing-edge subtraction is an anti join — never an all-pairs product
    for name in ["graph_common_neighbors", "graph_adamic_adar", "graph_jaccard_links"]:
        p = plan(spark, name, sf_small)
        assert "CartesianProduct" not in p, name
        # global top-25 must ride the distributed heap
        assert "TakeOrderedAndProject" in p, name


def test_round6_minhash_exact_band_join_is_equijoin(spark, sf_small):
    # band rows meet their bucket through a hash repartition on
    # (band, band signature) into the pair kernel; nothing may pair the
    # representatives through a product or a nested-loop join
    p = plan(spark, "dedup_minhash_lsh_exact", sf_small)
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_round6_quantile_normalization_interp_is_equijoin(spark, sf_small):
    # pooled-order-statistic interpolation joins on the floor index — an
    # equi-join, not a range/cross join
    p = plan(spark, "model_quantile_normalization", sf_small)
    assert "CartesianProduct" not in p


def test_wave192_systematic_sampler_prefix_sum_is_sharded(spark, sf_small):
    # the two-phase prefix sum must never run a global single-partition
    # window over the doc frame: every Window sorts within the bucket
    # hash partitioning or over the bounded 32-row offsets frame
    p = plan(spark, "sample_weighted_systematic", sf_small)
    assert "CartesianProduct" not in p
    # the bucket-partitioned window exists...
    assert "Window" in p
    # ...and the only Exchange feeding a window is hash (bucket) or the
    # bounded offsets single partition — no rangepartitioning over docs
    assert "rangepartitioning(doc_id" not in p.lower()


def test_wave194_silhouette_broadcasts_centroids(spark, sf_small):
    # per-point scoring joins a broadcast k*dim centroid table; the fact
    # table must never shuffle-join against itself
    p = plan(spark, "sim_silhouette_simplified", sf_small)
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p


def test_wave195_hopkins_probes_are_broadcast(spark, sf_small):
    # 2*M probes broadcast against the corpus: the NN scans must be
    # broadcast nested-loop (tiny side) or hash joins, never a shuffle
    # of corpus x corpus
    p = plan(spark, "sim_hopkins", sf_small)
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" in p or "BroadcastHashJoin" in p


def test_wave199_dupngram_windows_partition_by_doc(spark, sf_small):
    # every window in the span-union pass partitions by doc_id — a
    # global-ordered window here would serialize the corpus
    p = plan(spark, "pipeline_dupngram_char_coverage", sf_small)
    assert "Window" in p
    import re

    for m in re.finditer(r"windowspecdefinition\(([^)]*)\)", p.lower()):
        assert "doc_id" in m.group(1), m.group(0)


def test_wave200_lof_pairs_are_label_bucketed(spark, sf_small):
    # the LOF pair join must key on the label bucket (hash join),
    # never a cartesian corpus self-join
    p = plan(spark, "sim_lof_bucketed", sf_small)
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_wave196_target_encode_broadcasts_category_stats(spark, sf_small):
    p = plan(spark, "pipeline_target_encode", sf_small)
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p


def test_wave196_lag_features_windows_partition_by_user(spark, sf_small):
    p = plan(spark, "pipeline_lag_features", sf_small)
    import re

    for m in re.finditer(r"windowspecdefinition\(([^)]*)\)", p.lower()):
        assert "user_id" in m.group(1), m.group(0)


def test_wave197_mips_probes_are_broadcast(spark, sf_small):
    # MIPS probes scan the corpus via a broadcast probe table; the
    # corpus must never shuffle-join against itself
    p = plan(spark, "sim_mips_augmented", sf_small)
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" in p or "BroadcastHashJoin" in p


def test_wave206_item_cf_pairs_are_user_keyed(spark, sf_small):
    # co-rating pairs come from a user-keyed equi self-join — a
    # cartesian item x item product must never appear
    p = plan(spark, "model_item_cf_cosine", sf_small)
    assert "CartesianProduct" not in p


def test_wave208_ppr_rounds_are_hash_joins(spark, sf_small):
    # every push round joins mass to edges on the node id; the only
    # nested-loop allowed is the 1-row seed scalar attach (BuildRight
    # cross against a single-row frame), never a data-sized expansion
    p = plan(spark, "graph_ppr_unrolled", sf_small)
    assert "CartesianProduct" not in p
    assert "SortMergeJoin" not in p or "BroadcastHashJoin" in p


def test_wave216_shapley_is_token_keyed(spark, sf_small):
    # ownership joins back on the token key (hash join); the only
    # nested-loop is the 1-row vocab scalar attach
    p = plan(spark, "pipeline_shapley_coverage", sf_small)
    assert "CartesianProduct" not in p
    assert "BroadcastHashJoin" in p or "SortMergeJoin" in p


def test_wave219_offpolicy_models_broadcast(spark, sf_small):
    # propensity/best-action models are dim-sized and must broadcast
    # back onto the logged scan
    p = plan(spark, "events_offpolicy_ips", sf_small)
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p
