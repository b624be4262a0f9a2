"""Physical-plan discipline tests.

Correctness is gated by the DuckDB oracle; these tests gate the *plans* —
the properties that decide whether a query survives a 100×–1000× scale-up:
filters reaching the parquet scan, column pruning, no accidental nested-loop
joins, broadcast only where bounded. A plan regression fails here even while
values stay right.
"""

from __future__ import annotations

import pytest

from pg2parquet_spark.registry import load_all

SF = "/root/testdata/sf0.001"


def plan_of(spark, name: str) -> str:
    df = load_all()[name].fn(spark, SF)
    return df._jdf.queryExecution().executedPlan().toString()


def optimized_of(spark, name: str) -> str:
    df = load_all()[name].fn(spark, SF)
    return df._jdf.queryExecution().toString()


def test_q01_filter_pushed_and_columns_pruned(spark):
    plan = optimized_of(spark, "q01_pricing_summary")
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan
    # 7 needed columns only — never the full lineitem schema
    read = [l for l in plan.splitlines() if "ReadSchema" in l][-1]
    assert "l_orderkey" not in read and "l_partkey" not in read


def test_q03_all_three_scans_filtered(spark):
    plan = optimized_of(spark, "q03_shipping_priority")
    assert plan.count("PushedFilters: [IsNotNull(") >= 3
    assert "EqualTo(c_mktsegment,BUILDING)" in plan


def test_range_join_is_not_nested_loop(spark):
    plan = plan_of(spark, "q_range_join_binned")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    # the equi-join on the bin is what makes this scale
    assert "bin" in plan


def test_asof_join_single_window_no_join(spark):
    plan = plan_of(spark, "q_asof_join")
    assert "Join" not in plan  # union + window, never an inequality join
    assert "Window" in plan


def test_bounded_dims_broadcast(spark):
    plan = plan_of(spark, "q05_local_supplier_volume")
    assert "BroadcastHashJoin" in plan  # nation/region hints survive


def test_dedup_exact_single_shuffle(spark):
    plan = plan_of(spark, "dedup_exact")
    # exactly the one agg exchange (cheap-per-row path skips the corpus-spread
    # repartition); no join shuffles
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Exchange RoundRobinPartitioning" not in plan
    assert "SortMergeJoin" not in plan


def test_minhash_candidate_join_on_band_hash(spark):
    plan = plan_of(spark, "dedup_minhash_lsh")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_minhash_computes_signatures_once(spark):
    # candidate generation is group-by-bucket + in-bucket pair explode, NOT a
    # band self-join: the self-join shape plans the full md5 signature
    # pipeline twice (once per side — exchange reuse does not reliably
    # dedupe the two sides) and shuffles the corpus twice. Pin: the corpus
    # is scanned exactly once (3 scans = the 3 augmented-union branches) and
    # there is no join node at all before the verify projection.
    plan = plan_of(spark, "dedup_minhash_lsh")
    assert plan.count("Scan parquet") == 3, plan.count("Scan parquet")
    for node in ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin"):
        assert node not in plan


def test_minhash_signatures_are_map_only(spark):
    # signature computation must stay in the scan stage: array_min over
    # transformed shingle arrays, never an explode + re-group shuffle
    plan = plan_of(spark, "dedup_minhash_lsh")
    assert "array_min" in plan
    # the signature subtree has no hash-agg over exploded (doc, shingle) rows
    assert "partial_min" not in plan


def test_stop_shingle_df_filter_in_minhash_and_jaccard_plans(spark):
    # the max-df stop-shingle pre-filter must be present in both candidate
    # generators: array_except(sh, stops) with a broadcast stop list
    for name in ("dedup_minhash_lsh", "dedup_ngram_jaccard"):
        plan = plan_of(spark, name)
        assert "array_except" in plan, f"{name} lost the stop-shingle filter"


def test_dedup_embedding_cosine_lsh_is_bucketed_not_allpairs(spark):
    # LSH-candidates → exact re-score: every join must be an equi-join on a
    # bucket key; an all-pairs `a_id < b_id` BNLJ is the 100 TB killer
    # (dedup_embedding_cosine_exact keeps the quadratic CONTRACT but since
    # r13 executes it as a broadcast-matrix Arrow kernel, no join at all;
    # only the _lsh variants are pinned here). This sweeps the PRIMARY
    # (adaptive) query's registered plan, which since r13 is one linear
    # pipeline with no checkpoint, so nothing is hidden from the gate (r6
    # ADVICE: the BNLJ gate must not pass by invisibility): exactly ONE
    # BroadcastNestedLoopJoin is allowed, the 1-row params broadcast that
    # attaches the derived bit width, and the demoted fixed-plane variant
    # stays BNLJ-free entirely.
    from pg2parquet_spark.operators.dedup import _EMB_LSH_OFFSETS

    full = plan_of(spark, "dedup_embedding_cosine_lsh")
    # ONE logical 1-row broadcast; a lineage with several consumers of the
    # signature rows would duplicate that subtree into each of them (up to
    # 4 tables × 2 join sides in the r8-r12 candidate-join shape).
    # r7 ADVICE: pinning the EXACT duplication count coupled the test to
    # Spark's subtree-duplication behavior (CTE reuse / subquery dedup would
    # flip it with no real regression), so assert an upper bound instead and
    # discriminate on the JOIN SHAPE: the 1-row params broadcast is an
    # unconditional Cross (no join predicate), while the scale-killer this
    # test exists to catch — an all-pairs `a_id < b_id` join — carries its
    # inequality as a BNLJ condition on the same line.
    n_bnlj = full.count("BroadcastNestedLoopJoin")
    assert 1 <= n_bnlj <= 2 * len(_EMB_LSH_OFFSETS), n_bnlj
    lines = full.splitlines()

    def marker_col(line: str) -> int:
        # tree-node marker position; root lines have no marker
        best = -1
        for m in ("+- ", ":- "):
            i = line.find(m)
            if i != -1 and (best == -1 or i < best):
                best = i
        return best

    for i, line in enumerate(lines):
        if "BroadcastNestedLoopJoin" not in line:
            continue
        # join TYPE must be Cross (the unconditional 1-row params attach);
        # an all-pairs `a_id < b_id` join would plan as ", Inner, (a < b)".
        # A Cross line may still carry a pushed isnotnull residual — fine.
        assert ", Cross" in line, f"non-Cross nested loop: {line}"
        # r8 ADVICE: ", Cross" alone admits an all-pairs regression written
        # as crossJoin(embeddings, embeddings) + post-hoc cos_sim filter —
        # a filter on a computed column never becomes a join condition, so
        # at a broadcastable test SF it plans as a Cross BNLJ and passes.
        # Discriminate on the BUILD SIDE: the legitimate params attach
        # broadcasts a 1-row global aggregate (HashAggregate(keys=[]) under
        # the BroadcastExchange); a vector-table build side is a row-bearing
        # scan with no global aggregate above it.
        c = marker_col(line)
        subtree = []
        for nxt in lines[i + 1 :]:
            mc = marker_col(nxt)
            if mc != -1 and mc <= c:
                break
            subtree.append(nxt)
        ex = next(
            (k for k, l in enumerate(subtree) if "BroadcastExchange" in l), None
        )
        assert ex is not None, f"BNLJ without a broadcast build side:\n{line}"
        build_col = marker_col(subtree[ex])
        build = [subtree[ex]]
        for nxt in subtree[ex + 1 :]:
            mc = marker_col(nxt)
            if mc != -1 and mc <= build_col:
                break
            build.append(nxt)
        assert any("HashAggregate(keys=[]" in l for l in build), (
            "Cross BNLJ build side is not the 1-row params aggregate — "
            "looks like a vector-vector cross join:\n" + "\n".join(build[:6])
        )
    assert "CartesianProduct" not in full
    plan = plan_of(spark, "dedup_embedding_cosine_lsh_fixed")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_bloom_bits_are_broadcast(spark):
    plan = plan_of(spark, "sketch_bloom_membership")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_hll_bounded_shuffles(spark):
    # distinct tokens + register fold + final fold — nothing else
    plan = plan_of(spark, "sketch_hll_distinct")
    assert plan.count("Exchange hashpartitioning") <= 3
    assert "SortMergeJoin" not in plan


def test_ann_broadcasts_query_side_only(spark):
    plan = plan_of(spark, "ann_cosine_topk")
    assert "BroadcastExchange" in plan  # 10-row query side
    assert "SortMergeJoin" not in plan  # corpus never shuffles for the join


@pytest.mark.parametrize(
    "name", ["text_quality_stats", "text_token_stats", "text_lang_id", "text_fingerprint"]
)
def test_text_ops_shuffle_free(spark, name):
    plan = plan_of(spark, name)
    assert "Exchange" not in plan, f"{name} should be pure map work:\n{plan}"


def test_q09_part_filter_pushed_before_fact_join(spark):
    plan = optimized_of(spark, "q09_product_type_profit")
    assert "StringContains(p_name,red)" in plan
    assert "BroadcastHashJoin" in plan_of(spark, "q09_product_type_profit")


def test_q16_exclusion_is_broadcast_anti_join(spark):
    plan = plan_of(spark, "q16_supplier_cnt")
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan
    assert "SortMergeJoin LeftAnti" not in plan  # exclusion list stays broadcast


def test_q11_scalar_total_is_single_row_broadcast(spark):
    # the fraction-of-total threshold joins a 1-row aggregate: a broadcast
    # nested-loop with a single-row build side is the CORRECT shape (same as
    # a scalar subquery); anything joining two multi-row sides would not be.
    plan = plan_of(spark, "q11_important_stock")
    assert plan.count("BroadcastNestedLoopJoin") <= 1
    assert "CartesianProduct" not in plan


def test_q02_no_cartesian_in_correlated_min(spark):
    plan = plan_of(spark, "q02_min_cost_supplier")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "TakeOrderedAndProject" in plan  # top-100 never global-sorts


def test_cluster_components_candidate_join_is_equi(spark):
    # the LSH band join must hash on (band_idx, bh) — a nested-loop here
    # would be O(n^2) at scale
    plan = plan_of(spark, "dedup_minhash_lsh")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_salted_join_carries_salt_explode(spark):
    # the salt replication must survive optimization (Generate/explode on the
    # small side) and the salt column must never leak into the output
    plan = plan_of(spark, "q_salted_join")
    assert "Generate explode" in plan, "salt replication optimized away"
    df = load_all()["q_salted_join"].fn(spark, SF)
    assert "_salt" not in df.columns


def test_two_phase_agg_has_both_exchanges(spark):
    # phase 1 shuffles on (key, salt), phase 2 on key — collapsing them back
    # into one exchange would silently undo the skew mitigation
    plan = plan_of(spark, "q_two_phase_agg")
    assert plan.count("Exchange hashpartitioning") >= 2, plan


def test_decontaminate_broadcasts_bench_side(spark):
    # the benchmark shingle set must broadcast (it never grows with the
    # corpus); the training corpus must not be self-joined or shuffled twice
    plan = plan_of(spark, "pipeline_decontaminate")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_sequence_pack_window_is_distributed(spark):
    # the packing prefix-sum must run per hash bucket — a global (single
    # partition) window is the 100 TB killer
    plan = plan_of(spark, "pipeline_sequence_pack")
    assert "Window" in plan
    assert "SinglePartition" not in plan


def test_quantize_is_map_only(spark):
    plan = plan_of(spark, "ml_embedding_quantize")
    assert "Exchange" not in plan  # pure per-vector map
    assert "Join" not in plan


def test_vocab_topk_is_partial_agg_plus_take_ordered(spark):
    plan = plan_of(spark, "text_vocab_topk")
    # map-side combine: a partial agg below the single vocabulary exchange
    assert plan.count("Exchange hashpartitioning") == 1
    assert "partial_count" in plan or "HashAggregate" in plan
    assert "TakeOrderedAndProject" in plan  # never a global Sort


def test_tfidf_df_side_is_broadcast(spark):
    plan = plan_of(spark, "text_tfidf_topk")
    assert "BroadcastHashJoin" in plan  # df join never shuffles the tf side
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_repetition_stats_join_reuses_agg_partitioning(spark):
    plan = plan_of(spark, "text_repetition_stats")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_chunk_documents_is_map_only(spark):
    plan = plan_of(spark, "pipeline_chunk_documents")
    assert "Exchange" not in plan
    assert "Generate explode" in plan  # the per-doc window explode


def test_upsert_latest_single_key_shuffle(spark):
    plan = plan_of(spark, "pipeline_upsert_latest")
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Window" in plan


def test_partition_prune_reaches_directory_level(spark):
    plan = plan_of(spark, "layout_partition_prune")
    assert "PartitionFilters: [isnotnull(event_type" in plan
    assert " = click)" in plan.split("PartitionFilters:")[1].split("]")[0]


def test_bucketed_join_is_exchange_free(spark):
    # disable auto-broadcast: at test scale the dim side would broadcast and
    # hide the property under test — that the BUCKET LAYOUT removes the
    # shuffle, which is what matters when both sides are 100 TB fact tables
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = plan_of(spark, "layout_bucketed_join")
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    assert "SortMergeJoin" in plan
    assert "SelectedBucketsCount: 8 out of 8" in plan
    # neither join side shuffles: bucket layouts line up
    assert "Exchange hashpartitioning(o_custkey" not in plan
    assert "Exchange hashpartitioning(c_custkey" not in plan


def test_zorder_read_pushes_box_predicate(spark):
    plan = optimized_of(spark, "layout_zorder_cluster")
    # both dimensions reach the parquet scan → row-group stats prune 2-D
    # (the printed PushedFilters list is ellipsis-truncated; check via the
    # executed plan's full filter condition instead of the pushed list)
    assert "GreaterThanOrEqual(x8,16), LessThanOrEqual(x8,47)" in plan
    exec_plan = plan_of(spark, "layout_zorder_cluster")
    assert ">= 32)" in exec_plan and "<= 95)" in exec_plan  # y8 bounds survive


def test_grouped_hll_shuffles_are_register_bounded(spark):
    plan = plan_of(spark, "sketch_hll_by_source")
    # distinct + (source,bucket) agg + source agg — never a raw-value join
    assert "Join" not in plan
    assert plan.count("Exchange hashpartitioning") <= 3


def test_end_to_end_pipeline_reads_corpus_once_per_side(spark):
    plan = plan_of(spark, "pipeline_end_to_end")
    # main path scans documents once; the benchmark subset is the only other
    # scan (it's an external table in production) — the anti-join shape that
    # consumed the dedup subtree twice would show 3 scans here
    assert plan.count("FileScan parquet") <= 2, plan.count("FileScan parquet")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_funnel_is_single_pass(spark):
    # the stage chain must be window flags over ONE user_id partitioning —
    # a per-stage self-join would scan events once per funnel stage
    plan = plan_of(spark, "q_events_funnel")
    assert "Join" not in plan
    assert plan.count("FileScan parquet") == 1
    assert plan.count("Exchange hashpartitioning") == 1


def test_tfidf_vocab_broadcast_is_a_dial(spark):
    """The df (document-frequency) side join strategy must follow the
    vocab_broadcast parameter: hinted broadcast for closed natural-language
    vocabularies, AQE-chosen shuffle join for open vocabularies (the
    executor-OOM guard at 100 TB)."""
    from pg2parquet_spark.operators.quality import tfidf_topk
    from pg2parquet_spark.tables import table

    docs = table(spark, SF, "documents")

    # kill size-based auto-broadcast so the plans show the DIAL, not the
    # tiny test corpus: with the threshold off, only the explicit hint can
    # produce a BroadcastHashJoin
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        closed = tfidf_topk(docs, vocab_broadcast=True)
        plan = closed._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in plan  # the hint, by construction

        open_ = tfidf_topk(docs, vocab_broadcast=False)
        plan = open_._jdf.queryExecution().executedPlan().toString()
        # the corpus-sized tf<->df join must NOT be a forced broadcast; only
        # the single-row n_docs scalar may broadcast
        assert "BroadcastHashJoin" not in plan
        assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")


def test_bm25_no_explode_and_topk_bounded(spark):
    # BM25 tf/dl are array expressions in the scan stage — a per-token
    # explode would shuffle corpus-sized rows; and the top-K must be
    # TakeOrdered (per-partition heap + driver merge), never a global sort
    plan = plan_of(spark, "text_bm25_topk")
    assert "Generate" not in plan  # no explode anywhere
    assert "TakeOrderedAndProject" in plan
    assert "Exchange rangepartitioning" not in plan  # no global sort


def test_bigram_lm_counts_broadcast_back(spark):
    # both count tables (bigram + context) are vocabulary-sized and must
    # come back as broadcast hash joins, never a corpus-wide SortMergeJoin
    plan = plan_of(spark, "text_bigram_lm_score")
    assert plan.count("BroadcastHashJoin") >= 2
    assert "SortMergeJoin" not in plan


def test_semantic_dedup_single_shuffle_no_join(spark):
    # cell assignment is map-side; the in-cell drop test runs over collected
    # members — one exchange on the cell id and NO join node of any kind
    plan = plan_of(spark, "pipeline_semantic_dedup")
    assert plan.count("Exchange hashpartitioning") == 1
    for node in ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin",
                 "BroadcastNestedLoopJoin", "CartesianProduct"):
        assert node not in plan


def test_substring_ngrams_joins_on_span_hash(spark):
    # the shared-span join must be keyed on the span hash (shuffle join by
    # design — the span table is corpus-sized, broadcast would OOM); the
    # per-doc spans are deduped map-side before the explode
    plan = plan_of(spark, "dedup_substring_ngrams")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "array_distinct" in plan


def test_label_centroids_shuffle_on_label_dim(spark):
    # element-wise sums key by (label, pos): dim-parallel, never one task
    # per label; no collect-based centroid math
    plan = plan_of(spark, "ml_label_centroid_stats")
    assert "posexplode" in plan.lower() or "Generate" in plan
    assert plan.count("Exchange hashpartitioning") == 2  # (label,pos) then label
    assert "SortMergeJoin" not in plan


def test_split_leakage_single_shuffle(spark):
    plan = plan_of(spark, "pipeline_split_leakage")
    assert plan.count("Exchange hashpartitioning") == 1  # content_hash only
    for node in ("SortMergeJoin", "BroadcastHashJoin", "BroadcastNestedLoopJoin"):
        assert node not in plan



def test_incremental_dedup_corpus_side_never_shuffles(spark):
    # the batch hash set broadcasts; the corpus is a map-only probe scan —
    # admitting new data must never reshuffle the existing corpus
    plan = plan_of(spark, "pipeline_incremental_dedup")
    assert plan.count("BroadcastHashJoin") >= 2  # probe join + match-back join
    assert "SortMergeJoin" not in plan
    assert "Exchange rangepartitioning" not in plan


def test_ngram_novelty_all_shuffles_keyed(spark):
    plan = plan_of(spark, "text_ngram_novelty")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "array_distinct" in plan  # per-doc dedup stays map-side


def test_image_dedup_never_shuffles_blobs(spark):
    # only the 16-byte md5 may cross the exchange — the image binary column
    # must be projected away before the aggregation shuffle
    df = load_all()["multimodal_image_dedup"].fn(spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    agg_exchanges = [l for l in plan.splitlines() if "Exchange hashpartitioning" in l]
    assert agg_exchanges and all("image" not in l for l in agg_exchanges)


def test_cdc_chunking_shuffle_free(spark):
    # boundaries, edge deltas, and stats are all array expressions in the
    # scan stage — content-defined chunking must be a pure map
    plan = plan_of(spark, "pipeline_cdc_chunking")
    assert "Exchange" not in plan, plan


def test_quantile_hist_window_is_bin_bounded(spark):
    # the cumulative window runs over the BIN table (bounded by value
    # range / bin width); the only data-sized shuffle is the bin groupBy
    plan = plan_of(spark, "sketch_quantile_hist")
    assert plan.count("Exchange hashpartitioning") == 1  # bin aggregation
    assert "SortMergeJoin" not in plan


def test_rank_family_single_window_pass(spark):
    # five rank functions share one (partition, order) spec — they must
    # evaluate in ONE Window node over one sort, not five
    plan = plan_of(spark, "q_window_rank_family")
    assert plan.count("Window ") <= 2, plan  # ntile runs in its own frame
    assert plan.count("Exchange hashpartitioning") == 1


def test_unpivot_adds_no_shuffle(spark):
    # stack() melts the already-aggregated frame — exactly the one agg
    # exchange, and a Generate for the melt
    plan = plan_of(spark, "q_unpivot_metrics")
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Generate" in plan


def test_resample_ffill_scan_pruned_and_window_partitioned(spark):
    plan = optimized_of(spark, "q_events_resample_ffill")
    read = [l for l in plan.splitlines() if "ReadSchema" in l][-1]
    # only ts/event_type/value reach the scan — never props/user_id
    assert "props" not in read and "user_id" not in read
    # the ffill window is partitioned on event_type (runs over the bounded
    # grid), never a global single-partition window over raw events
    assert "windowspecdefinition(event_type" in plan_of(
        spark, "q_events_resample_ffill"
    )


def test_global_rank_avoids_global_sort(spark):
    plan = plan_of(spark, "q_global_rank_histogram")
    # offsets come back via a broadcast join; the per-row window partitions
    # on n_chars (bounded partitions). The only unpartitioned window runs
    # over the histogram aggregate, not the documents scan.
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan
    assert "windowspecdefinition(n_chars" in plan


def test_kmv_sketch_uses_topk_not_global_sort(spark):
    plan = plan_of(spark, "sketch_kmv_intersection")
    # min-k = per-partition heap + driver merge, never a full sort
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan


def test_filter_funnel_single_scan(spark):
    plan = plan_of(spark, "pipeline_filter_funnel")
    # all stage counts come from ONE pass over documents
    assert plan.count("Scan parquet") == 1


def test_pagerank_no_nested_loop(spark):
    plan = plan_of(spark, "graph_pagerank_suppliers")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_gaps_islands_single_user_partitioning(spark):
    plan = plan_of(spark, "q_gaps_islands")
    assert "windowspecdefinition(user_id" in plan
    assert "CartesianProduct" not in plan


def test_scd2_dim_broadcasts_with_hash_join(spark):
    plan = plan_of(spark, "q_scd2_dim_join")
    # versioned dim joins as an equi-hash-join on nationkey with the
    # valid_from <= dd predicate as residual — never a nested loop
    assert "BroadcastHashJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_embedding_lsh_grouped_scorer_shape(spark):
    """r13 (r12 VERDICT #1): the LSH family's exact re-score is the grouped
    cell-block kernel — embeddings ride the emission rows through ONE
    (tbl, pk) exchange into applyInPandas, and the old per-pair tail
    (candidate-id joins + repartition + TWO shuffle-hash embedding
    attaches + MapInPandas over pair rows) must stay gone: a reappearing
    ShuffledHashJoin or MapInPandas means pair rows are being
    materialized and attached again, the 100 TB regression this gate
    pins. (A RoundRobinPartitioning may legitimately appear: it is the
    conditional spread_scan under the signature projection, which
    disappears at real scale by the split probe — only the adaptive
    builds carry it, and only at fixture split counts.)"""
    for name in (
        "dedup_embedding_cosine_lsh",
        "dedup_embedding_cosine_lsh_fixed",
        "dedup_embedding_cosine_lsh_recall",
        "dedup_embedding_incremental",
    ):
        plan = plan_of(spark, name)
        assert "FlatMapGroupsInPandas" in plan, name
        assert "MapInPandas" not in plan, name
        assert "ShuffledHashJoin" not in plan, name
        assert "SortMergeJoin" not in plan, name


def test_exact_arm_and_recall_evals_kernel_shape(spark):
    """r13: the exact all-pairs arm executes as the broadcast-matrix Arrow
    kernel (scan → MapInPandas, no join), and each IVF recall eval
    references the exact arm and the IVF build exactly ONCE through a
    single full-outer join + global aggregate. A reappearing
    BroadcastNestedLoopJoin means the quadratic self-join came back; a
    second MapInPandas-per-eval beyond the build's own kernels would mean
    a subtree is being evaluated twice again (the 21-36× regression this
    gate pins)."""
    plan = plan_of(spark, "dedup_embedding_cosine_exact")
    assert "MapInPandas" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Join" not in plan, "exact arm must be join-free"
    for name in (
        "dedup_embedding_ivf_recall_eval",
        "dedup_embedding_ivf_mt4_recall_eval",
        "dedup_embedding_ivf_mt12_recall_eval",
    ):
        plan = plan_of(spark, name)
        assert "BroadcastNestedLoopJoin" not in plan, name
        assert "FullOuter" in plan, name


def test_embedding_lsh_family_compiles_codegen(spark):
    """r7 verdict #1: the unrolled 4-table × 14-plane × ~60-term bucket-key
    projection generated >64 KB of Java per method; janino threw
    InternalCompilerException and Spark SILENTLY ran the primary dedup
    operator's stages interpreted — hash checks stayed green, so only the
    ERROR log lines betrayed it. With spark.sql.codegen.fallback=false a
    compile failure becomes a hard query error, so executing the family
    under this conf pins "stays in whole-stage codegen" as a tested
    property. tools/selfcheck.py applies the same conf registry-wide each
    round; this test keeps the regression local and fast."""
    prev = spark.conf.get("spark.sql.codegen.fallback", "true")
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try:
        reg = load_all()
        for name in (
            "dedup_embedding_cosine_lsh",
            "dedup_embedding_cosine_lsh_recall",
            "dedup_embedding_cosine_lsh_fixed",
            "dedup_embedding_incremental",
            "dedup_embedding_bucket_audit",
            "dedup_embedding_ivf",
            "dedup_embedding_ivf_cell_audit",
            "dedup_embedding_ivf_probe4",
            "dedup_embedding_ivf_probe4_cell_audit",
            "dedup_embedding_ivf_mt4",
            "dedup_embedding_ivf_mt4_cell_audit",
        ):
            assert reg[name].fn(spark, SF).count() >= 0, name
    finally:
        spark.conf.set("spark.sql.codegen.fallback", prev)


# Queries where a nested-loop join is CORRECT because one side is bounded by
# construction (a scalar aggregate row, a k-row centroid/query table, the
# bin table of a sketch) or quadratic BY CONTRACT (the exact all-pairs
# baseline, the tiny-input cross-join demo). Everything else in the registry
# must plan equi-joins only.
_BNLJ_WHITELIST = {
    "ann_cosine_topk",            # bounded query set crossJoin (broadcast)
    "ann_ivf_balance_audit",      # k-row centroid table crossJoin (same
                                  # assignment join as ann_ivf_probe)
    "ann_recall_eval",            # composes the whitelisted exact + IVF
                                  # arms (bounded query set / k centroids)
    "ann_ivf_probe",              # k-row centroid table crossJoin
    # dedup_embedding_cosine_exact left the whitelist in r13: the quadratic
    # contract moved from a BNLJ self-join into the broadcast-matrix Arrow
    # kernel (_exact_pair_rows), so its plan is scan → MapInPandas, no join
    # IVF tier (r9): the pair build's assignment is an Arrow kernel
    # (MapInPandas — no join at all), so only the audits' 1-row k-params
    # crossJoin remains a nested loop
    "dedup_embedding_ivf_cell_audit",
    "dedup_embedding_ivf_probe4_cell_audit",
    # mt4 (r10): per-table 1-row k-params crossJoins in the audit; the pair
    # build itself is kernel assignment + cid equi-joins (no BNLJ)
    "dedup_embedding_ivf_mt4_cell_audit",
    # mt12 (r11): identical audit shape to the mt4 twin — ONE 1-row
    # k-params crossJoin (BroadcastNestedLoopJoin BuildRight, Cross); the
    # pair build is kernel assignment + cid equi-joins (no BNLJ)
    "dedup_embedding_ivf_mt12_cell_audit",
    # the IVF recall evals left the whitelist in r13: their exact arm is
    # the Arrow kernel and the three 1-row count crossJoins collapsed into
    # ONE full-outer-join aggregate (_recall_eval_df) — no BNLJ remains
    # 1-row params crossJoin (bits, a global COUNT aggregate), visible in
    # the registered plan: since r13 no build checkpoints its signature
    # rows (r6 ADVICE: whitelisted explicitly, never passed by invisibility)
    "dedup_embedding_cosine_lsh",
    # recall tier: the same 1-row bits crossJoin (r9)
    "dedup_embedding_cosine_lsh_recall",
    # same 1-row bits crossJoin as the pair build — honest crossJoin,
    # whitelisted (the dedup_minhash_bucket_audit precedent)
    "dedup_embedding_bucket_audit",
    # same 1-row bits crossJoin as the pair build
    "dedup_embedding_incremental",
    "ml_cluster_purity",          # k-row centroid table (kmeans assignment)
    "ml_kmeans_fixed",            # k-row centroid table per iteration
    "ml_power_iteration_pc1",     # 1-row max-norm crossJoin per iteration
    "pipeline_cluster_safe_split",  # single-row leak-count crossJoin
    "pipeline_contrastive_pairs",   # single-row corpus-count crossJoin
    "pipeline_dedup_scorecard",   # single-row bucket-audit-total crossJoin
    "pipeline_mix_rebalance",     # single-row corpus-total crossJoin
    "pipeline_mix_temperature",   # single-row weight-sum crossJoin
    "q11_important_stock",        # scalar subquery threshold (TPC-H shape)
    "q_histogram_numeric",        # single-row bounds crossJoin
    "q22_dormant_customers",      # scalar subquery threshold (TPC-H shape)
    "q_cross_join",               # the cross-join demo itself
    "sketch_kmv_intersection",    # 1-row aggregate crossJoin
    "sketch_quantile_hist",       # 3 targets x bounded bin table
    "text_bm25_topk",             # single-row corpus stats crossJoin
    "text_collocations_lift",     # single-row token-total crossJoin
    "text_rrf_hybrid",            # bounded query-set crossJoin (ann contract)
    "text_tfidf_topk",            # single-row corpus stats crossJoin
}


@pytest.mark.slowtier
def test_registry_wide_plan_discipline(spark):
    """Mechanical sweep over EVERY registered query: no cartesian products,
    no nested-loop joins outside the bounded-side whitelist, and no
    row-at-a-time Python (BatchEvalPython) anywhere — the only Python
    execution allowed is Arrow-batched (MapInPandas / ArrowEvalPython).
    A new operator that accidentally plans a scale-killer fails here even
    while its values stay correct."""
    reg = load_all()
    offenders = {}
    stale_whitelist = set(_BNLJ_WHITELIST)
    for name, spec in reg.items():
        plan = spec.fn(spark, SF)._jdf.queryExecution().executedPlan().toString()
        tags = []
        if "BatchEvalPython" in plan:
            tags.append("row-at-a-time-python")
        nested = "BroadcastNestedLoopJoin" in plan or "CartesianProduct" in plan
        if nested and name not in _BNLJ_WHITELIST:
            tags.append("unexpected-nested-loop")
        if nested:
            stale_whitelist.discard(name)
        if tags:
            offenders[name] = tags
    assert not offenders, offenders
    # the whitelist must stay accurate: every entry still plans a BNLJ
    assert not stale_whitelist, f"whitelist entries no longer needed: {stale_whitelist}"


def test_user_event_features_is_pure_window_plan(spark):
    """r4 review item: these features are LAG-gap folds — the production
    operator must be the built-in window plan (whole-stage codegen, one
    user_id shuffle shared by window and agg), with zero Python execution.
    The pandas twin stays registered separately as a surface demo."""
    plan = plan_of(spark, "ml_user_event_features")
    assert "FlatMapGroupsInPandas" not in plan
    assert "EvalPython" not in plan
    assert "Window" in plan
    # window + groupBy share ONE user_id exchange
    assert plan.count("Exchange hashpartitioning") == 1, plan.count(
        "Exchange hashpartitioning"
    )


def test_minhash_bucket_cap_in_plan(spark):
    """The per-bucket member cap must ride the SAME (band_idx, bh) exchange
    as the collect_list groupBy — capping is a sort + filter, never an
    extra shuffle — and the audit query stays join-free."""
    plan = plan_of(spark, "dedup_minhash_lsh")
    import re

    band_ex = [
        m
        for m in re.findall(r"Exchange hashpartitioning\(([^)]*)\)", plan)
        if "band_idx" in m and "bh" in m
    ]
    assert len(band_ex) == 1, band_ex
    assert "Window" in plan  # the row_number cap
    audit_plan = plan_of(spark, "dedup_minhash_bucket_audit")
    for node in ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin",
                 "BroadcastNestedLoopJoin", "CartesianProduct"):
        assert node not in audit_plan


def test_quota_sample_single_source_exchange(spark):
    """Per-source top-k: the row_number window and the post-filter fold
    must share ONE source-key exchange."""
    plan = plan_of(spark, "pipeline_quota_sample")
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Window" in plan


def test_scene_cuts_map_only(spark):
    """Blobs never shuffle: header synth, parse, and delta count are all
    map-side (the only exchange allowed is the corpus-spread round robin)."""
    plan = plan_of(spark, "multimodal_scene_cuts")
    assert "Exchange hashpartitioning" not in plan
    assert "MapInPandas" in plan


@pytest.mark.slowtier
def test_plan_snapshot(spark):
    """Every registered query's physical-operator topology must match the
    committed PLAN_SNAPSHOT.json — a lost broadcast, a new exchange, or a
    window degrading to a join changes the signature and fails here even
    when values stay correct and no anti-pattern rule fires. Intentional
    plan changes re-record with `python tools/plansnap.py`."""
    import json
    import os

    from tools.plansnap import SNAPSHOT, plan_signature

    with open(SNAPSHOT) as f:
        snap = json.load(f)
    reg = load_all()
    entries = {name: spec.fn for name, spec in reg.items()}
    missing = sorted(set(entries) - set(snap))
    assert not missing, f"queries missing from snapshot (rerun tools/plansnap.py): {missing}"
    drifted = {}
    for name, fn in entries.items():
        got = plan_signature(fn(spark, SF))
        if got != snap[name]:
            drifted[name] = {"snapshot": snap[name], "live": got}
    assert not drifted, (
        "plan topology drifted (rerun tools/plansnap.py if intentional): "
        + json.dumps(drifted, indent=1)[:4000]
    )


def test_typemap_conversions_run_no_python(spark):
    """Every conversion of the benchmark's exotic job (enum, range, both
    composites, array + dims, vector, numeric, interval), called by the
    names that job uses, executes JVM-side: no Python evaluation node."""
    from pyspark.sql import functions as F

    from pg2parquet_spark import typemap as tm
    from pg2parquet_spark.typemap.arrays import parse_array_text

    src = spark.createDataFrame(
        [("happy", "[1,5)", '("1 Main St","a,b",12345)', "(3,4)", "{{1,2},{3,4}}",
          "[0.5,1]", "1.5", 1, 2, 3)],
        "m string, r string, d string, p string, grid string, v string, num string, "
        "iv_months int, iv_days int, iv_us bigint",
    )
    c = F.col
    as_int = lambda x: x.cast("int")  # noqa: E731
    typed = src.select(
        tm.enum_to_int(c("m"), ["sad", "happy"]).alias("mood_ord"),
        tm.parse_range(c("r"), as_int).alias("rng"),
        tm.parse_composite_udf(c("d"), ["street", "city", "zip"]).alias("addr"),
        tm.parse_composite_fast(c("p"), ["w", "h"], [as_int, as_int]).alias("dims"),
        tm.flatten_with_dims(parse_array_text(c("grid"), "array<array<int>>"), 2, "dims")
        .alias("grid_flat"),
        tm.parse_vector(c("v")).alias("vec"),
        tm.numeric_to_decimal(c("num"), 38, 18).alias("num_dec"),
        tm.interval_to_flba12(c("iv_months"), c("iv_days"), c("iv_us")).alias("iv_flba"),
    )
    (row,) = typed.collect()
    assert row.addr.city == "a,b" and row.dims.h == 4
    plan = typed._jdf.queryExecution().executedPlan().toString()
    assert "EvalPython" not in plan, plan


def test_typemap_imports_no_pandas():
    """The typemap is Column expressions only: importing it (as the COPY
    reader's executors do) loads no pandas."""
    import os
    import subprocess
    import sys

    probe = "import sys, pg2parquet_spark.typemap; print('pandas' in sys.modules)"
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = subprocess.run(
        [sys.executable, "-c", probe], capture_output=True, text=True, check=True, cwd=repo
    )
    assert out.stdout.strip() == "False"
