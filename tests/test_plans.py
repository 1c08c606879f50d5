"""Physical-plan quality gates: the properties that make these queries
scale are asserted, not assumed (SURVEY.md §4).  A regression that turns a
broadcast join into a sort-merge join, loses filter pushdown, or widens a
scan fails HERE, long before it shows up as an sf-dependent slowdown."""

from __future__ import annotations

import pytest

from tests.conftest import SF_ORACLE
from wsu_cpts_415_spark.registry import all_queries


@pytest.fixture(scope="module")
def qs():
    return all_queries()


def fmt_plan(df) -> str:
    qe = df._jdf.queryExecution()
    jvm = df.sparkSession._jvm
    return qe.explainString(
        jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )


def test_q6_filters_reach_the_scan(spark, qs):
    plan = fmt_plan(qs["q6_forecast_revenue"].fn(spark, SF_ORACLE))
    assert "PushedFilters: [" in plan
    assert "GreaterThanOrEqual(l_shipdate" in plan  # range predicate pushed
    assert "LessThan(l_quantity,24.0)" in plan
    # column pruning: the scan reads only the 4 needed of 11 columns
    read = next(l for l in plan.splitlines() if "ReadSchema" in l)
    assert read.count(":") - 1 == 4  # 4 fields in the struct


def test_flagship_broadcasts_dimension_and_takeordered(spark, qs):
    plan = fmt_plan(qs["flagship_top_customers"].fn(spark, SF_ORACLE))
    assert "BroadcastHashJoin" in plan, "customer dim must broadcast"
    assert "SortMergeJoin" not in plan
    assert "TakeOrderedAndProject" in plan, "top-k must not global-sort"


def test_star_join_broadcasts_all_dimensions(spark, qs):
    plan = fmt_plan(qs["join_star_revenue"].fn(spark, SF_ORACLE))
    # lineitem joins orders/customer/nation/region: every dim broadcast,
    # the fact table is never shuffled for a join
    assert plan.count("BroadcastHashJoin") >= 3
    assert "SortMergeJoin" not in plan


def test_q1_partial_aggregation(spark, qs):
    plan = fmt_plan(qs["q1_pricing_summary"].fn(spark, SF_ORACLE))
    assert "partial_sum" in plan, "map-side combine must run before shuffle"


def test_topk_global_is_takeordered(spark, qs):
    plan = fmt_plan(qs["top_k_global"].fn(spark, SF_ORACLE))
    assert "TakeOrderedAndProject" in plan
    assert "rangepartitioning(" not in plan, "no total sort for top-k"


def test_topn_per_group_pushes_rank_limit(spark, qs):
    plan = fmt_plan(qs["topn_per_group"].fn(spark, SF_ORACLE))
    assert "row_number" in plan
    # Spark's rank-limit pushdown: the per-group limit prunes rows BEFORE
    # and after the window shuffle instead of ranking everything
    assert "WindowGroupLimit" in plan


def test_whole_stage_codegen_on_hot_path(spark, qs):
    df = qs["q1_pricing_summary"].fn(spark, SF_ORACLE)
    qe = df._jdf.queryExecution()
    codegen = qe.explainString(
        df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "codegen"
        )
    )
    assert "WholeStageCodegen" in codegen, (
        "agg/filter/scan pipeline must be codegen'd"
    )


def test_events_scan_prunes_columns(spark, qs):
    plan = fmt_plan(qs["event_type_daily_rate"].fn(spark, SF_ORACLE))
    read = next(l for l in plan.splitlines() if "ReadSchema" in l)
    assert "props" not in read, "unused JSON blob column must not be read"


def test_videos_derivation_prunes_text_column(spark, qs):
    # the videos view derives every column from doc_id/n_chars/lang/source;
    # the 'text' blob must never reach the scan (nested-schema pruning)
    plan = fmt_plan(qs["ref_videos_flat"].fn(spark, SF_ORACLE))
    reads = [l for l in plan.splitlines() if "ReadSchema" in l]
    assert reads and all("text" not in r for r in reads), (
        "videos derivation must not drag document text along"
    )


def test_q21_decorrelates_without_nested_loop(spark, qs):
    # EXISTS / NOT EXISTS must become aggregates + joins, never a
    # per-row correlated scan
    plan = fmt_plan(qs["q21_suppliers_waiting"].fn(spark, SF_ORACLE))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_q17_correlated_avg_broadcasts(spark, qs):
    # the per-part average is |part|-sized and must broadcast back into
    # the fact scan, not shuffle the fact table
    plan = fmt_plan(qs["q17_small_quantity_revenue"].fn(spark, SF_ORACLE))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_simhash_pairs_are_equi_join_not_cross(spark, qs):
    # banding turns the O(n^2) pair problem into an equi-join on
    # (band, value); a cross-join regression would be quadratic
    plan = fmt_plan(qs["simhash_hamming_pairs"].fn(spark, SF_ORACLE))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_ivf_probe_prunes_before_distance_math(spark, qs):
    # the probed-cell filter must be a semi join on label (pruning),
    # and the query vector a broadcast, so the only full pass over the
    # embeddings is the centroid aggregate
    plan = fmt_plan(qs["ann_ivf_probe"].fn(spark, SF_ORACLE))
    assert "LeftSemi" in plan
    assert "CartesianProduct" not in plan


def test_grouping_sets_single_scan(spark, qs):
    # GROUPING SETS must Expand one scan, not union three scans
    plan = fmt_plan(qs["grouping_sets_agg"].fn(spark, SF_ORACLE))
    assert "Expand" in plan
    # formatted explain prints each scan once in the tree and once in the
    # details section; one physical scan => exactly one Location line
    assert plan.count("Location:") == 1


def test_contamination_broadcasts_eval_side(spark, qs):
    """The benchmark shingle set must broadcast: the corpus side of the
    contamination scan is never shuffled for the join."""
    plan = fmt_plan(qs["contamination_containment"].fn(spark, SF_ORACLE))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_repetition_filter_partial_aggregates(spark, qs):
    plan = fmt_plan(qs["repetition_filter"].fn(spark, SF_ORACLE))
    assert "partial_count" in plan or "partial_max" in plan, (
        "per-doc mode count must map-side combine"
    )


def test_bm25_broadcasts_stats_and_df(spark, qs):
    """The df/avgdl model tables are scalar-to-tiny; the posting-list side
    must stream through broadcast joins, never a sort-merge shuffle."""
    plan = fmt_plan(qs["bm25_rank"].fn(spark, SF_ORACLE))
    assert plan.count("BroadcastHashJoin") >= 1
    assert "SortMergeJoin" not in plan
    assert "TakeOrderedAndProject" in plan, "top-k must not global-sort"


def test_tfidf_window_pushes_rank_limit(spark, qs):
    plan = fmt_plan(qs["tfidf_top_terms"].fn(spark, SF_ORACLE))
    assert "WindowGroupLimit" in plan, "rank<=k must prune before the window"


def test_stratified_sample_is_scan_local(spark, qs):
    """Hash-bucket sampling is a pure row filter: the only exchange in the
    plan is the presentation sort, never a hash shuffle."""
    plan = fmt_plan(qs["stratified_sample_lang"].fn(spark, SF_ORACLE))
    assert "hashpartitioning(" not in plan
    assert "SortMergeJoin" not in plan and "BroadcastHashJoin" not in plan


def test_kmeans_assignment_is_shuffle_free(spark, qs):
    """Centroid argmin is row-local math against broadcast literals; the
    returned assignment plan may sort for presentation but must not
    shuffle or join."""
    plan = fmt_plan(qs["kmeans_lloyd"].fn(spark, SF_ORACLE))
    assert "hashpartitioning(" not in plan
    assert "Join" not in plan


def test_neardup_pair_graph_is_equi_join(spark, qs):
    """Candidate generation must stay a banded equi-join (no cross
    product) all the way through the clustering query."""
    plan = fmt_plan(qs["neardup_clusters"].fn(spark, SF_ORACLE))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_range_join_is_equi_on_user(spark, qs):
    """The attribution-window range join must hash on the user_id equi
    key with the time range as a residual condition -- never a nested
    loop over the cross product."""
    plan = fmt_plan(qs["range_join_events"].fn(spark, SF_ORACLE))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Join" in plan


def test_sequence_packing_window_is_sharded(spark, qs):
    """The packing offset window partitions by the source shard (never a
    global 'No Partition Defined' window), and the block aggregate rides
    the window's partitioning instead of re-shuffling documents."""
    plan = fmt_plan(qs["sequence_packing"].fn(spark, SF_ORACLE))
    assert "Window" in plan
    # one data exchange: the window's hashpartitioning(source); the only
    # other allowed exchange is the presentation-order range partitioning
    # (formatted mode puts the partitioning in an Arguments: line)
    assert plan.count("hashpartitioning(source") == 1
    assert plan.count("hashpartitioning(") == 1
    assert "partial_count" in plan or "partial_sum" in plan


def test_crossdoc_span_dedup_partial_aggregates(spark, qs):
    """Single-pass span dedup: one corpus scan (no self-join that would
    re-explode the corpus), document frequency carried by the inverted
    posting list, per-doc rollup map-side combined, and no sort anywhere
    before the presentation orderBy."""
    plan = fmt_plan(qs["crossdoc_span_dedup"].fn(spark, SF_ORACLE))
    # formatted mode prints each scan twice (tree node + details header)
    assert plan.count("Scan parquet") <= 2, "span DF must not rescan corpus"
    assert "Join" not in plan
    assert "partial_count" in plan


def test_triangle_enumeration_is_equi_joins(spark, qs):
    """Triangle enumeration must stay two equi-joins on vertex keys --
    no cross product, and map-side combine on the participation count."""
    plan = fmt_plan(qs["triangle_counts"].fn(spark, SF_ORACLE))
    assert "CartesianProduct" not in plan
    # wedge + closing-edge joins are hash equi joins (the only permitted
    # nested loop is the 1-row scalar count cross-join inside the staged
    # videos derivation); r12 allows shuffled-hash (preferSortMergeJoin
    # off), still an equi hash join
    assert (
        plan.count("BroadcastHashJoin")
        + plan.count("SortMergeJoin")
        + plan.count("ShuffledHashJoin")
        >= 2
    )
    assert "partial_count" in plan


def test_fk_orphan_audit_broadcasts_parents(spark, qs):
    """Every parent-key side must broadcast; the fact scans are never
    shuffled for the joins."""
    plan = fmt_plan(qs["fk_orphan_audit"].fn(spark, SF_ORACLE))
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan


def test_split_and_sharding_are_scan_local(spark, qs):
    """Hash-bucket split/shard assignment is a pure row-local expression:
    no join anywhere, and the only hash exchange is the final tiny
    per-group aggregate."""
    # shard stats pay one extra exchange for the two-phase count-distinct
    for name, max_ex in (("train_val_test_split", 1), ("shard_assignment_stats", 2)):
        plan = fmt_plan(qs[name].fn(spark, SF_ORACLE))
        assert "Join" not in plan, name
        assert plan.count("hashpartitioning(") <= max_ex, name
        assert "BatchEvalPython" not in plan, name


def test_pattern_scan_stays_in_codegen(spark, qs):
    """The regex scan must evaluate JVM-side (no Python eval) and shuffle
    only the per-source aggregate rows."""
    plan = fmt_plan(qs["pattern_scan_rollup"].fn(spark, SF_ORACLE))
    assert "BatchEvalPython" not in plan
    assert "Join" not in plan
    assert "partial_count" in plan, "rollup must map-side combine"


def test_doc_chunking_never_shuffles_documents(spark, qs):
    """Chunk explosion happens where the document lives: no hash exchange,
    no join -- the only exchange is the presentation range sort."""
    plan = fmt_plan(qs["doc_chunk_windows"].fn(spark, SF_ORACLE))
    assert "hashpartitioning(" not in plan
    assert "Join" not in plan
    assert "posexplode" in plan


def test_winsorized_stats_broadcasts_quantiles(spark, qs):
    """The per-group quantile table must broadcast back onto the event
    scan -- the big table is never shuffled for the join."""
    plan = fmt_plan(qs["winsorized_stats"].fn(spark, SF_ORACLE))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_label_propagation_rounds_are_equi_joins(spark, qs):
    """Each LPA round is an equi-join on the vertex id plus a partial
    aggregated label count and a per-vertex window argmax -- never a
    cross product.  Asserted on the round builder directly because the
    registered query checkpoints each round (lineage truncation), which
    hides the round shape from the final plan."""
    from pyspark.sql import functions as F

    from wsu_cpts_415_spark.queries.graph_ops import _und_edges, lpa_round

    und = _und_edges(spark, SF_ORACLE)
    bidir = und.select(F.col("a").alias("src"), F.col("b").alias("dst")).unionAll(
        und.select(F.col("b").alias("src"), F.col("a").alias("dst"))
    )
    verts = bidir.select(F.col("src").alias("node")).distinct()
    labels = verts.select("node", F.col("node").alias("label"))
    plan = fmt_plan(lpa_round(verts, bidir, labels))
    assert "CartesianProduct" not in plan
    # the only permitted nested loop is the 1-row scalar count cross-join
    # inside the staged videos derivation (same allowance as triangles)
    for line in plan.splitlines():
        if "BroadcastNestedLoopJoin" in line and "+-" in line:
            assert "Cross BuildRight" in line
    assert "partial_count" in plan
    assert "partial_min" in plan, "argmax must be a hash aggregate, not a window"


def test_interleave_broadcasts_source_dim(spark, qs):
    """The 20-row source dimension must broadcast onto the ranked scan;
    the corpus-side window is partitioned by source (never global)."""
    plan = fmt_plan(qs["interleave_sources"].fn(spark, SF_ORACLE))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_vocab_coverage_limits_before_window(spark, qs):
    """The top-k slice must come from TakeOrdered; the cumulative window
    runs on the k-row result, never the token stream."""
    plan = fmt_plan(qs["vocab_coverage_topk"].fn(spark, SF_ORACLE))
    assert "TakeOrderedAndProject" in plan
    assert "partial_count" in plan


def test_zorder_audit_is_scan_local_arithmetic(spark, qs):
    """Morton interleaving is pure integer arithmetic at the scan: no
    join, no Python, one aggregate exchange."""
    plan = fmt_plan(qs["zorder_layout_audit"].fn(spark, SF_ORACLE))
    assert "Join" not in plan
    assert "BatchEvalPython" not in plan
    assert plan.count("hashpartitioning(") <= 1


def test_plan_audit_reads_formatted_plans(spark, qs):
    """The audit module must parse formatted explain correctly: q1 reads 7
    lineitem columns behind pushed filters with exactly one hash
    exchange, and a scan-local query reports zero joins."""
    from wsu_cpts_415_spark.ops.plan_audit import audit

    a = audit("q1", qs["q1_pricing_summary"].fn(spark, SF_ORACLE))
    assert a.scans == 1 and a.read_cols == 7
    assert a.pushed_filters and a.hash_exchanges == 1
    b = audit("split", qs["train_val_test_split"].fn(spark, SF_ORACLE))
    assert b.bhj == b.smj == b.nlj == 0
    assert b.python_nodes == ""


def test_semdedup_pair_join_is_equi_on_cluster(spark, qs):
    """SemDeDup's quadratic stage must be keyed on the cluster id (hash
    partition per cluster), never an all-pairs product; assignment math
    stays out of Python."""
    plan = fmt_plan(qs["semdedup_prune"].fn(spark, SF_ORACLE))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BatchEvalPython" not in plan


def test_levenshtein_pairs_are_block_equi_join(spark, qs):
    """Edit-distance candidates must come from the (lang, blk) blocking
    equi-join; the id inequality and distance cut ride as residual
    predicates, not as a cross-join filter."""
    plan = fmt_plan(qs["levenshtein_blocked_pairs"].fn(spark, SF_ORACLE))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_heavy_hitters_topk_no_global_sort(spark, qs):
    """The skew audit is partial-combined aggregation + top-k: no
    range-partitioned total sort of the key space."""
    plan = fmt_plan(qs["heavy_hitters_skew"].fn(spark, SF_ORACLE))
    assert "partial_count" in plan
    assert "TakeOrderedAndProject" in plan


def test_hash_sample_pushes_group_limit(spark, qs):
    """The per-group hash sampler must keep only k rows per group
    pre-shuffle (WindowGroupLimit), not rank the whole corpus."""
    plan = fmt_plan(qs["hash_sample_per_group"].fn(spark, SF_ORACLE))
    assert "WindowGroupLimit" in plan


def test_unigram_scoring_broadcasts_vocab(spark, qs):
    """The vocabulary (bounded) broadcasts back onto the token stream;
    the corpus-side explode must never shuffle for the join."""
    plan = fmt_plan(qs["unigram_logprob_score"].fn(spark, SF_ORACLE))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_shuffle_hash_hint_is_honored(spark, qs):
    """The SHUFFLE_HASH hint must produce a ShuffledHashJoin -- not the
    broadcast the optimizer would pick, not a sort-merge."""
    plan = fmt_plan(qs["join_shuffle_hash_hint"].fn(spark, SF_ORACLE))
    assert "ShuffledHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_expectations_single_scan(spark, qs):
    """However many expectations are registered, the table is scanned
    once: one Location in the plan, no join, no union of re-scans."""
    plan = fmt_plan(qs["expectations_report"].fn(spark, SF_ORACLE))
    assert plan.count("Location:") == 1
    assert "Union" not in plan


def test_rfm_windows_run_on_user_table(spark, qs):
    """RFM's three NTILE windows sort the per-user aggregate, not raw
    events: the plan aggregates before any Window node."""
    plan = fmt_plan(qs["rfm_segmentation"].fn(spark, SF_ORACLE))
    assert "Window" in plan
    assert "partial_count" in plan or "partial_sum" in plan


def test_incremental_check_broadcasts_batch_bands(spark, qs):
    """The new-batch band table must broadcast against the corpus bands
    -- the asymmetry that keeps per-batch cost corpus-independent."""
    plan = fmt_plan(qs["incremental_neardup_check"].fn(spark, SF_ORACLE))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_er_scoring_topk_short_circuits(spark, qs):
    """Composite scoring ends in TakeOrderedAndProject, never a global
    sort of the candidate set."""
    plan = fmt_plan(qs["er_match_scores"].fn(spark, SF_ORACLE))
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan


def test_er_multipass_topk_short_circuits(spark, qs):
    """The composed multi-pass scorer keeps the single-pass plan
    discipline: TakeOrderedAndProject top-k, no cartesian anywhere in
    the generator union.  Since round 11 the union is lev+LSH only (SNM
    re-priced out -- see _multipass_candidates), so the plan carries NO
    nested-loop join at all: the rank kernel's per-partition metadata
    join left with SNM."""
    plan = fmt_plan(qs["er_multipass_match_scores"].fn(spark, SF_ORACLE))
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan, (
        "a nested-loop join crept back into the lev+LSH union"
    )


def test_pit_join_is_single_user_shuffle_no_range_join(spark, qs):
    plan = fmt_plan(qs["pit_join_user_tier"].fn(spark, SF_ORACLE))
    # the as-of merge must NOT run as a theta/range join
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    # history + facts merge through a union into one windowed sort
    assert "Union" in plan


def test_snapshot_diff_carries_fingerprints_only(spark, qs):
    plan = fmt_plan(qs["snapshot_diff_audit"].fn(spark, SF_ORACLE))
    # the fingerprint md5 is computed below the join (in the scan-side
    # projection), so the exchange moves (key, fp), not value columns
    assert "md5" in plan
    join_line = next(
        l for l in plan.splitlines() if "SortMergeJoin" in l or "ShuffledHashJoin" in l
    )
    assert "FullOuter" in join_line


def test_late_event_audit_has_no_global_raw_window(spark, qs):
    plan = fmt_plan(qs["late_event_audit"].fn(spark, SF_ORACLE))
    # the only unpartitioned window runs over the chunk aggregate (tiny);
    # the per-event running max is partitioned by chunk
    assert "BroadcastHashJoin" in plan, "chunk carry-in must broadcast"
    assert plan.count("Window") >= 2


def test_bpe_pairs_are_map_side_then_topk(spark, qs):
    plan = fmt_plan(qs["bpe_merge_candidates"].fn(spark, SF_ORACLE))
    assert "Generate" in plan and "explode(" in plan, (
        "pair extraction must be explode"
    )
    assert "Window" not in plan, "no per-doc window for adjacency"
    assert "TakeOrderedAndProject" in plan
    assert "partial_count" in plan


def test_pq_encode_is_map_side_argmin(spark, qs):
    plan = fmt_plan(qs["pq_ann_adc_topk"].fn(spark, SF_ORACLE))
    # codes + ADC + exact distances all evaluate in the scan projection:
    # no join, no aggregate shuffle before the top-k
    assert "Join" not in plan
    assert "TakeOrderedAndProject" in plan


def test_journey_trigrams_single_sort_then_topk(spark, qs):
    plan = fmt_plan(qs["journey_trigrams"].fn(spark, SF_ORACLE))
    assert "TakeOrderedAndProject" in plan
    assert "partial_count" in plan, "trigram count must map-side combine"


def test_vocab_overlap_broadcasts_sizes(spark, qs):
    plan = fmt_plan(qs["source_vocab_overlap"].fn(spark, SF_ORACLE))
    assert plan.count("BroadcastHashJoin") >= 2, "size dims must broadcast"
    assert "CartesianProduct" not in plan


def test_modularity_runs_on_pair_sliver(spark, qs):
    plan = fmt_plan(qs["community_modularity"].fn(spark, SF_ORACLE))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_gdpr_audit_broadcasts_deletion_cohort(spark, qs):
    plan = fmt_plan(qs["gdpr_erasure_audit"].fn(spark, SF_ORACLE))
    assert "BroadcastHashJoin" in plan, "deletion cohort must broadcast"
    assert "SortMergeJoin" not in plan


def test_interval_coverage_single_sort_per_user(spark, qs):
    plan = fmt_plan(qs["interval_coverage_per_user"].fn(spark, SF_ORACLE))
    # running-max and cumsum share one user-partitioned window sort
    assert "CartesianProduct" not in plan
    assert "partial_" in plan, "aggregates must map-side combine"


def test_geo_pairs_equi_join_no_range(spark, qs):
    plan = fmt_plan(qs["geo_grid_neighbor_pairs"].fn(spark, SF_ORACLE))
    # candidate generation must be an equi-join on cell ids, never the
    # oracle's range-join formulation
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Generate" in plan and "explode(" in plan


def test_interpolation_single_window_sort(spark, qs):
    plan = fmt_plan(qs["linear_interpolation_fill"].fn(spark, SF_ORACLE))
    # all four neighbor lookups share one window sort over the daily agg
    assert plan.count("Sort ") <= 3, "neighbor lookups must share the sort"
    assert "partial_sum" in plan


def test_mutual_information_broadcasts_marginals(spark, qs):
    plan = fmt_plan(qs["mutual_information_lang_source"].fn(spark, SF_ORACLE))
    assert plan.count("BroadcastHashJoin") >= 2
    assert "SortMergeJoin" not in plan


def test_dsir_ratio_table_broadcasts(spark, qs):
    """DSIR pass 2 must broadcast the 256-row ratio table onto the token
    stream -- a sort-merge join here would shuffle every token."""
    plan = fmt_plan(qs["dsir_importance_weights"].fn(spark, SF_ORACLE))
    assert plan.count("BroadcastHashJoin") >= 1
    assert "SortMergeJoin" not in plan
    assert "partial_count" in plan or "partial_sum" in plan  # map-side agg


def test_cdc_chunking_never_explodes_tokens(spark, qs):
    """CDC boundaries are a per-row array expression: no Generate
    (explode) node, and the only exchange is the per-source rollup."""
    plan = fmt_plan(qs["cdc_chunk_boundaries"].fn(spark, SF_ORACLE))
    assert "Generate" not in plan
    assert plan.count("hashpartitioning(") <= 1


def test_lift_and_binning_windows_are_partitioned(spark, qs):
    """The decile windows must be hash-partitioned by lang -- a global
    (SinglePartition) ntile would serialize the sort at 100 TB."""
    for name in ("quality_lift_deciles", "quantile_binning"):
        plan = fmt_plan(qs[name].fn(spark, SF_ORACLE))
        assert "hashpartitioning(lang" in plan, name


def test_kaplan_meier_windows_run_on_day_grain(spark, qs):
    """KM's cumulative windows must consume the day-level aggregate (a
    calendar-bounded sliver), never raw events; users reduce via one
    partial-aggregated shuffle first."""
    plan = fmt_plan(qs["kaplan_meier_conversion"].fn(spark, SF_ORACLE))
    assert "partial_min" in plan or "partial_count" in plan
    assert "SortMergeJoin" not in plan


def test_cuped_theta_is_broadcast_scalar(spark, qs):
    """CUPED's theta/x_mean are a 1-row scalar joined by broadcast; the
    only real shuffle is the per-user aggregate."""
    plan = fmt_plan(qs["cuped_adjusted_metric"].fn(spark, SF_ORACLE))
    assert "SortMergeJoin" not in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "partial_sum" in plan


def test_k_anonymity_single_shuffle(spark, qs):
    plan = fmt_plan(qs["k_anonymity_audit"].fn(spark, SF_ORACLE))
    assert plan.count("hashpartitioning(") <= 1
    assert "partial_count" in plan


def test_dow_seasonality_day_grain_rollup(spark, qs):
    plan = fmt_plan(qs["dow_seasonality"].fn(spark, SF_ORACLE))
    assert "SortMergeJoin" not in plan
    assert "partial_count" in plan


def test_seasonal_anomalies_no_window(spark, qs):
    """Seasonal residuals are pure aggregate + broadcast: no Window node
    and no sort-merge join anywhere."""
    plan = fmt_plan(qs["seasonal_residual_anomalies"].fn(spark, SF_ORACLE))
    assert "Window" not in plan
    assert "SortMergeJoin" not in plan


def test_bootstrap_replicates_user_sliver_not_events(spark, qs):
    """The 64x bootstrap explode must sit ABOVE the per-user aggregate:
    exactly one hashpartitioning (user_id) below the Generate node."""
    plan = fmt_plan(qs["hash_bootstrap_ci"].fn(spark, SF_ORACLE))
    assert "Generate" in plan  # the explode exists
    assert "partial_sum" in plan  # and the per-user aggregate feeds it
    assert "SortMergeJoin" not in plan


def test_neyman_and_benford_single_shuffle(spark, qs):
    for name in ("neyman_allocation", "benford_audit"):
        plan = fmt_plan(qs[name].fn(spark, SF_ORACLE))
        assert "SortMergeJoin" not in plan, name
        assert plan.count("hashpartitioning(") <= 2, name


def test_markov_power_steps_run_on_driver(spark, qs):
    """r12: the power iteration over the |event_type|^2 transition
    matrix (<=25 rows) runs on the DRIVER after one collect of the
    matrix (tests/test_collect_audit.py ALLOWED) -- the final plan is
    just the tiny createDataFrame + round/sort, with NO join and no
    iteration shuffles left."""
    plan = fmt_plan(qs["markov_stationary_dist"].fn(spark, SF_ORACLE))
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" not in plan
    assert "Join" not in plan
    # the matrix aggregate itself ran during fn(); the returned plan is
    # a local scan of the stationary vector
    assert "LocalTableScan" in plan or "Scan ExistingRDD" in plan


def test_basket_pairs_join_deduped_baskets(spark, qs):
    """The pair self-join input is the (user, type) distinct sliver, so
    a partial-aggregate (distinct) must appear below the join."""
    plan = fmt_plan(qs["basket_lift_pairs"].fn(spark, SF_ORACLE))
    assert "SortMergeJoin" not in plan


def test_cusum_window_on_day_grain(spark, qs):
    plan = fmt_plan(qs["cusum_changepoints"].fn(spark, SF_ORACLE))
    assert "partial_count" in plan  # daily rollup below the window
    assert "SortMergeJoin" not in plan


def test_hard_negative_queries_broadcast(spark, qs):
    """The query batch must broadcast (corpus streams map-side past it);
    top-1 per query must use the rank-limit pushdown."""
    plan = fmt_plan(qs["hard_negative_mining"].fn(spark, SF_ORACLE))
    assert "SortMergeJoin" not in plan
    assert "WindowGroupLimit" in plan


def test_training_manifest_is_two_exchanges(spark, qs):
    """The end-to-end manifest DAG: one digest groupBy + the manifest
    rollup.  Any extra exchange means a stage stopped being row-local."""
    plan = fmt_plan(qs["training_manifest_pipeline"].fn(spark, SF_ORACLE))
    assert "SortMergeJoin" not in plan
    assert plan.count("hashpartitioning(") <= 3  # digest, digest-join, rollup


def test_incremental_check_bucketed_corpus_never_shuffles(spark, qs):
    """The bucketed standing-corpus layout makes the incremental dedup
    check's shuffle profile flat in corpus size: both standing scans
    (band table on its LSH key, shingle store on doc_id) ride their
    bucketed layout -- the only hash exchanges in the plan are over the
    batch-sized candidate set and the presentation sort."""
    plan = fmt_plan(qs["incremental_neardup_check_bucketed"].fn(spark, SF_ORACLE))
    assert plan.count("Bucketed: true") == 2, plan[:500]
    non_broadcast_exchanges = [
        ln
        for ln in plan.splitlines()
        if "Exchange" in ln and "BroadcastExchange" not in ln
        and ln.strip().startswith(("+", ":", "(", "*"))
    ]
    # adaptive formatting repeats node names; count distinct ids instead
    import re

    ids = {
        m.group(1)
        for ln in non_broadcast_exchanges
        for m in [re.search(r"Exchange \((\d+)\)", ln)]
        if m
    }
    assert len(ids) <= 2, f"unexpected corpus-side exchange: {sorted(ids)}"


def test_ingest_gate_broadcasts_batch_side(spark, qs):
    """The ingest gate's asymmetric posture: the batch-side band and
    shingle tables broadcast, and no CartesianProduct or nested loop
    appears anywhere in the admission plan."""
    plan = fmt_plan(qs["ingest_dedup_gate"].fn(spark, SF_ORACLE))
    assert "BroadcastExchange" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_boilerplate_family_scans_pruned_no_cartesian(spark, qs):
    """The round-6 line-dedup family: the documents scan must read only
    (doc_id, text) of the 5 columns, every join must stay an equi-join
    (digest / doc_id keyed -- no CartesianProduct), and the
    document-frequency aggregate must partial-combine map-side."""
    # the line-segment explode is a durably staged projection since r12:
    # its parquet scan legitimately lists the staged table's own three
    # columns (doc_id, line_no, digest -- fixed-width, already the
    # pruned shared segmentation); every OTHER scan stays at two columns
    _staged_shape = "doc_id:bigint,line_no:int,digest:bigint"
    for name in (
        "boilerplate_line_filter",
        "boilerplate_strip",
        "ingest_boilerplate_gate",
        "boilerplate_top_lines",
    ):
        plan = fmt_plan(qs[name].fn(spark, SF_ORACLE))
        assert "CartesianProduct" not in plan, name
        assert "partial_count" in plan, name
        reads = [l for l in plan.splitlines() if "ReadSchema" in l]
        for read in reads:
            if _staged_shape in read:
                continue
            assert read.count(":") - 1 <= 2, f"{name} scan too wide: {read}"
    # the heavy-hitter report must top-k, never total-sort
    plan = fmt_plan(qs["boilerplate_top_lines"].fn(spark, SF_ORACLE))
    assert "TakeOrderedAndProject" in plan


def test_prefix_filter_ssjoin_plan(spark, qs):
    """The prefix-filtered set-similarity join (queries/ssjoin.py): no
    CartesianProduct anywhere (candidates come only from shared prefix
    tokens), the vocabulary-df tagging join broadcasts under the bound,
    the pair aggregate partial-combines map-side on the packed key, and
    the documents scan reads only (doc_id, text)."""
    plan = fmt_plan(qs["prefix_filter_jaccard_join"].fn(spark, SF_ORACLE))
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan  # df table broadcast at this sf
    # positional-filter agg combines map-side (accumulated-overlap form:
    # count + max-rank per pair)
    assert "partial_max" in plan
    # the minhash staged projection is durable parquet since round 11:
    # its scan legitimately lists the staged table's own three columns
    # (doc_id, shingles, hs -- already the pruned shared projection);
    # every OTHER scan stays bounded at two columns
    _staged_shape = "doc_id:bigint,shingles:array<string>,hs:array<bigint>"
    for read in (l for l in plan.splitlines() if "ReadSchema" in l):
        if _staged_shape in read:
            continue
        assert read.count(":") - 1 <= 2, f"scan too wide: {read}"
    # round-9 generation-time bounds, pinned so a refactor cannot
    # silently undo the measured 508x enumeration cut (round 9, x100):
    # (a) the length bucket is an EQUI-key of the self-join -- bkt must
    #     appear among the join keys, not only as a filter condition;
    # (b) the packed-sketch intersection bound evaluates INSIDE the
    #     join (its unsigned byte-lane extraction is the marker) --
    #     moving it to a later Filter re-materializes every false pair
    #     into the positional aggregate's shuffle.
    key_lines = [
        ln for ln in plan.splitlines()
        if ln.lstrip().startswith(("Left keys", "Right keys"))
    ]
    assert any("bkt" in ln for ln in key_lines), (
        f"length bucket not a join key: {key_lines}"
    )
    cond_lines = [
        ln for ln in plan.splitlines()
        if ln.lstrip().startswith(("Join condition", "Condition"))
    ]
    assert any("shiftrightunsigned" in ln for ln in cond_lines), (
        "sketch bound not inside the prefix self-join condition"
    )


def test_sorted_neighborhood_equi_join_no_cartesian(spark, qs):
    """Sorted-neighborhood blocking (queries/er_scoring.py): the
    windowed self-join must ride the rank-block equi-key (never a
    range-condition nested loop), the global order must come from the
    range-partitioned kernel (no unpartitioned window), and the top-k
    must TakeOrderedAndProject."""
    plan = fmt_plan(qs["sorted_neighborhood_pairs"].fn(spark, SF_ORACLE))
    assert "CartesianProduct" not in plan
    # the only nested-loop allowed is the rank kernel's npart-row
    # partition-offset theta-join (bounded by npart, not by data):
    # every BNLJ's condition must compare the partition ids
    lines = plan.splitlines()
    for i, line in enumerate(lines):
        if "BroadcastNestedLoopJoin" not in line or "(" not in line:
            continue
        cond = next(
            (
                l
                for l in lines[i + 1 : i + 6]
                if l.startswith("Join condition:")
            ),
            "",
        )
        if cond:
            assert "_pid" in cond, f"unexpected nested loop: {cond}"
    assert (
        "BroadcastHashJoin" in plan or "SortMergeJoin" in plan
    ), "the windowed self-join must be an equi-join on the rank block"
    assert "TakeOrderedAndProject" in plan


def test_runtime_bloom_filter_injected_on_fact_scan(spark, qs):
    """runtime_bloom_pruned_join: inside its conf scope, Catalyst must
    inject a runtime bloom filter (bloom_filter_agg on the selective
    orders side, might_contain on the lineitem side) so the fact table
    is pruned before the join shuffle."""
    from wsu_cpts_415_spark.queries.joins import (
        _BLOOM_CONFS,
        _bloom_pruned_plan,
    )

    prev = {k: spark.conf.get(k, None) for k in _BLOOM_CONFS}
    for k, v in _BLOOM_CONFS.items():
        spark.conf.set(k, v)
    try:
        plan = fmt_plan(_bloom_pruned_plan(spark, SF_ORACLE))
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    assert "might_contain" in plan, "runtime filter not injected"
    assert "bloom_filter_agg" in plan
    # and without the scope, the tiny fixture must NOT pay the bloom
    # build: default thresholds keep the injection off at smoke scale
    assert "might_contain" not in fmt_plan(_bloom_pruned_plan(spark, SF_ORACLE))


def test_weighted_reservoir_window_group_limit(spark, qs):
    """weighted_reservoir_topk: the per-stratum top-k must compile to
    WindowGroupLimit (rank bound pushed into the per-partition sort) so
    no more than k rows per language survive to the window shuffle."""
    plan = fmt_plan(qs["weighted_reservoir_topk"].fn(spark, SF_ORACLE))
    assert "WindowGroupLimit" in plan
    assert "CartesianProduct" not in plan


def test_topk_with_ties_window_group_limit(spark, qs):
    """topk_with_ties_dense_rank: the dense_rank filter must compile to
    WindowGroupLimit, which requires the plan to carry EXACTLY ONE
    window node -- the round-8 audit found the tie count written as a
    second window function, which disables InferWindowGroupLimit and
    ranks every supplier; the count is a post-filter hash aggregate
    instead (all-or-none by dense-rank tie semantics)."""
    plan = fmt_plan(qs["topk_with_ties_dense_rank"].fn(spark, SF_ORACLE))
    assert "WindowGroupLimit" in plan, "ties top-k fell off the group limit"
    assert plan.count("Window ") - plan.count("WindowGroupLimit") <= 1


def test_er_incremental_batch_broadcasts_and_topk(spark, qs):
    """The incremental ER face keeps both disciplines of its parents:
    the batch band side broadcasts against the corpus bands (the
    admission-gate asymmetry -- per-batch cost independent of corpus
    pair count) and scoring ends in TakeOrderedAndProject, never a
    global sort of the candidates."""
    plan = fmt_plan(qs["er_incremental_batch_scores"].fn(spark, SF_ORACLE))
    assert "BroadcastHashJoin" in plan
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
