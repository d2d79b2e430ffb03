"""Registry-wide physical-plan lint: every driver-contract query must be
free of the two patterns that do not survive 100 TB:

- ``BatchEvalPython`` (row-at-a-time Python UDF) — all Python in this
  engine is Arrow-vectorized (`ArrowEvalPython` / `MapInPandas` /
  `FlatMapGroupsInPandas`), which are allowed.
- ``CartesianProduct`` — the unhinted all-pairs join. Broadcast
  nested-loop joins over 1-row scalar-subquery frames are allowed (they
  are literals in disguise); a true cartesian shuffle product is not.

This is a guard, not a benchmark: any future registry entry that
accidentally introduces a row-UDF or an unkeyed join fails here before it
ever reaches the driver.
"""

from __future__ import annotations

import pytest

import __spark_entry__ as entry

SF = "/root/testdata/sf0.001"

# built eagerly (iterative connected components runs jobs at build time);
# its component ops are linted via dedup_minhash_lsh + the CC unit tests
EAGER = {"dedup_clusters", "bpe_vocab", "cross_modal_dedup",
         "ingest_transitivity_gap", "dedup_token_savings",
         "dedup_sample_order_effect", "bloom_fpr_curve",
         "covariance_power_iteration", "embedding_projection_outliers",
         "cluster_diameter_report"}

_QUERIES = sorted(entry.queries())


@pytest.mark.parametrize("name", [q for q in _QUERIES if q not in EAGER])
def test_plan_is_scale_clean(spark, name):
    df = entry.queries()[name](spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan, f"{name}: row-at-a-time Python UDF"
    assert "CartesianProduct" not in plan, f"{name}: cartesian product join"


# -------------------------------------------------------------------------
# Pushdown / broadcast spot-checks: the plans we'd want at 100 TB, asserted
# so a regression (a filter that stops reaching the scan, a dim join that
# stops broadcasting, a projection that drags every column) fails here.
# -------------------------------------------------------------------------

def _executed(spark, name):
    return entry.queries()[name](spark, SF)._jdf.queryExecution() \
        .executedPlan().toString()


def test_block_range_filter_reaches_parquet_scan(spark):
    # P14 BETWEEN predicate must appear as PushedFilters on the orders scan,
    # not as a post-scan Filter only.
    plan = _executed(spark, "block_range_scan")
    assert "PushedFilters: [" in plan
    assert "GreaterThanOrEqual(o_orderkey" in plan and \
        "LessThanOrEqual(o_orderkey" in plan


def test_event_projection_prunes_columns(spark):
    # The projection reads a subset of events columns; the scan's ReadSchema
    # must not include the unused user_id.
    plan = _executed(spark, "event_projection")
    scan_lines = [ln for ln in plan.splitlines() if "FileScan parquet" in ln]
    assert scan_lines and all("user_id" not in ln for ln in scan_lines)


def test_region_enrichment_broadcasts_dims(spark):
    # J3: nation/region are tiny dims — the join must be broadcast, never a
    # shuffled sort-merge join.
    plan = _executed(spark, "region_enrichment")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_partitioned_windows_have_no_global_sort(spark):
    # Scale variants must window inside hash partitions: every Sort in the
    # plan is partition-local (global=false) and no single-partition
    # exchange feeds it.
    for name in ("rolling_var_cvar_partitioned",
                 "rolling_var_minperiods_partitioned"):
        plan = _executed(spark, name)
        assert "Sort [" in plan, name
        for ln in plan.splitlines():
            if "Sort [" in ln and "sort [" not in ln:
                assert " true, " not in ln, f"{name}: global sort: {ln}"
        assert "SinglePartition" not in plan, f"{name}: 1-task exchange"


def test_minhash_signatures_are_row_local(spark):
    # The signature stage (shingle -> 32-hash family -> per-band min) is
    # row-local: since r12 it runs as ONE vectorized Arrow kernel
    # (MapInArrow + the NumPy xxHash64 twin, bit-exactness pinned by
    # test_xxh.py) instead of 32 interpreted higher-order-function
    # passes. The naive shape — posexplode the hash family and groupBy
    # (doc, hash_idx) min — would show up as a posexplode feeding a min
    # aggregate. Node COUNTS are not asserted: cached subtrees from
    # other tests legitimately change how the plan prints.
    plan = _executed(spark, "dedup_minhash_lsh")
    assert "posexplode" not in plan, "minhash family was exploded"
    assert "MapInArrow" in plan, "vectorized signature kernel missing"
    # the h0..h31 family members must be computed by projections and
    # consumed in-row — never re-assembled by a per-hash min() aggregate
    for ln in plan.splitlines():
        if "HashAggregate" in ln:
            assert "min(h" not in ln, f"per-hash min aggregate: {ln}"


def test_bi_nation_disjunction_stays_a_filter(spark):
    # Q7 shape: the two-nation disjunction must remain a row Filter AFTER
    # the broadcast equi-joins. Handed to the planner as a join condition
    # it becomes a nested-loop edge (measured: DuckDB NLJ'd customer x
    # supplier on the analogous predicate and spilled >80 GB at sf1).
    plan = _executed(spark, "bi_nation_trade_volume")
    assert "BroadcastHashJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_global_scalar_reuse_shapes(spark):
    # Q11/Q15 shapes: the global scalar (total / max over the view) must
    # join back as a broadcast of a 1-row frame, never re-aggregate the
    # fact table per row and never shuffle the fact side again for it.
    for name in ("part_qty_share_threshold", "top_revenue_suppliers"):
        plan = _executed(spark, name)
        assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan, name
        # exactly one scan family of lineitem feeds both aggregates
        scans = [ln for ln in plan.splitlines() if "FileScan parquet" in ln
                 and "lineitem" in ln]
        assert scans, name


# -------------------------------------------------------------------------
# Session-2 heavyweight shape pins (VERDICT r3 #10): the most expensive
# bench queries must keep their blocked/banded join shapes — a future edit
# that reintroduces an all-pairs join or an unexpected extra shuffle fails
# here, not in a 100 TB run.
# -------------------------------------------------------------------------

def _count(plan: str, token: str) -> int:
    return plan.count(token)


def test_fuzzy_customer_pairs_is_blocked_not_allpairs(spark):
    plan = _executed(spark, "fuzzy_customer_pairs")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    # interleaved-digit blocking = equi hash/broadcast joins only
    assert _count(plan, "SortMergeJoin") + _count(plan, "BroadcastHashJoin") \
        + _count(plan, "ShuffledHashJoin") >= 1


def test_semdedup_pairs_blocks_on_cluster_id(spark):
    plan = _executed(spark, "semdedup_pairs")
    # The only nested-loop joins allowed are the two centroid attaches
    # (corpus x k broadcast, k constant — bounded fan-out by design);
    # the PAIR join itself must be an equi-join on cluster_id.
    assert _count(plan, "BroadcastNestedLoopJoin BuildRight")         == _count(plan, "BroadcastNestedLoopJoin") <= 2
    assert "SortMergeJoin [cluster_id" in plan         or "BroadcastHashJoin [cluster_id" in plan         or "ShuffledHashJoin [cluster_id" in plan
    # centroid attach + argmax + pair join: bounded shuffle count
    assert _count(plan, "Exchange") <= 8, plan.count("Exchange")


def test_semdedup_pairs_trained_blocks_on_cluster_id(spark):
    plan = _executed(spark, "semdedup_pairs_trained")
    assert _count(plan, "BroadcastNestedLoopJoin BuildRight")         == _count(plan, "BroadcastNestedLoopJoin") <= 2
    assert "SortMergeJoin [cluster_id" in plan         or "BroadcastHashJoin [cluster_id" in plan         or "ShuffledHashJoin [cluster_id" in plan


def test_image_ahash_pairs_banded_join(spark):
    plan = _executed(spark, "image_ahash_pairs")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    # pigeonhole band join is an equi-join on the band value
    assert _count(plan, "SortMergeJoin") + _count(plan, "BroadcastHashJoin") \
        + _count(plan, "ShuffledHashJoin") >= 1


def test_token_freq_cms_no_fact_shuffle_explosion(spark):
    plan = _executed(spark, "token_freq_cms")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BatchEvalPython" not in plan


def test_split_leakage_pairs_equikeyed(spark):
    plan = _executed(spark, "split_leakage_pairs")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    # the shingle-intersection core + both split attaches are equi-joins
    assert _count(plan, "SortMergeJoin") + _count(plan, "BroadcastHashJoin") \
        + _count(plan, "ShuffledHashJoin") >= 3


def test_cluster_distance_outliers_bounded_nlj(spark):
    plan = _executed(spark, "cluster_distance_outliers")
    # r6: the corpus x k centroid attach is MAP-ONLY (the k x dim codebook
    # rides in an Arrow UDF closure — operators/similarity.assign_clusters),
    # so there must be NO nested-loop join at all; the assignment appears
    # as an ArrowEvalPython projection, its output is a query-scoped
    # persist (InMemoryTableScan), and the per-cluster stats attach stays
    # an equi-join on cluster_id.
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "ArrowEvalPython" in plan
    assert "InMemoryTableScan" in plan
    assert "SortMergeJoin [cluster_id" in plan \
        or "BroadcastHashJoin [cluster_id" in plan \
        or "ShuffledHashJoin [cluster_id" in plan


def test_sequence_packing_windows_inside_source_partitions(spark):
    # the cumsum must window PARTITION BY source — no single-partition
    # global exchange may feed its sort
    plan = _executed(spark, "sequence_packing")
    assert "SinglePartition" not in plan, plan


# -------------------------------------------------------------------------
# Wave-14 shape pins (r7): URL dedup, paragraph dedup, incremental
# decontamination — the new gates keep their hash-keyed shapes.
# -------------------------------------------------------------------------

def test_url_domain_dedup_hash_agg_no_global_sort(spark):
    plan = _executed(spark, "url_domain_dedup")
    # the canonical_url/domain group-by must stay a HashAggregate (domain
    # rides as a group key precisely so no string MIN demotes it), and the
    # per-domain rank window sorts partition-locally
    assert "SortAggregate" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    for ln in plan.splitlines():
        if "Sort [" in ln:
            assert " true, " not in ln, f"global sort: {ln}"


def test_paragraph_dedup_equikeyed_hash_aggs(spark):
    for name in ("paragraph_dup_spans", "paragraph_dedup_reassembly"):
        plan = _executed(spark, name)
        assert "BroadcastNestedLoopJoin" not in plan, name
        assert "CartesianProduct" not in plan, name
        # canonical argmin = numeric MIN over the packed key, hash-agg'd;
        # reassembly's collect_list is ObjectHashAggregate — neither may
        # fall back to SortAggregate
        assert "SortAggregate" not in plan, name


def test_decontamination_incremental_shares_shingle_scan(spark):
    plan = _executed(spark, "decontamination_incremental")
    # tr_first / hits feed three result branches: they must come from the
    # query-scoped persist (InMemoryTableScan), not three re-scans of the
    # corpus shingle pipeline
    assert "InMemoryTableScan" in plan
    assert "BatchEvalPython" not in plan
    assert "CartesianProduct" not in plan


def test_dedup_minhash_normalized_banded_join(spark):
    plan = _executed(spark, "dedup_minhash_normalized")
    # same banded-LSH discipline as dedup_minhash_lsh: equi-joins only,
    # and the normalization stays a row-local projection (the only
    # Python is the shared MapInArrow signature kernel, not a per-row
    # UDF on the normalization itself)
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan


def test_nb_source_classifier_scoring_is_equikeyed(spark):
    plan = _executed(spark, "nb_source_classifier")
    # the per-class token-likelihood attach is a LEFT equi-join on
    # (cls, tok); the class fan-out rides a broadcast of the |classes|-row
    # prior table (BroadcastNestedLoopJoin over 20 rows is the intended
    # shape, not a corpus-side cartesian)
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan
    assert _count(plan, "SortMergeJoin") + _count(plan, "BroadcastHashJoin") \
        + _count(plan, "ShuffledHashJoin") >= 1


def test_random_projection_recall_is_map_only_plus_broadcast(spark):
    plan = _executed(spark, "random_projection_recall")
    # projection = row-local fused dot chains (no Python, no shuffle);
    # the 5 projected queries broadcast onto the corpus side
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan
    assert "BroadcastNestedLoopJoin" in plan


def test_pair_alignment_spans_matches_are_equikeyed(spark):
    plan = _executed(spark, "pair_alignment_spans")
    # positional shingles semi-reduce to the pair inventory's docs via a
    # broadcast hash join; the match join is keyed on (doc, shingle) —
    # never an unkeyed positions x positions product
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BatchEvalPython" not in plan
    assert _count(plan, "SortMergeJoin") + _count(plan, "BroadcastHashJoin") \
        + _count(plan, "ShuffledHashJoin") >= 2


def test_cluster_prototype_pruning_map_only_assign(spark):
    plan = _executed(spark, "cluster_prototype_pruning")
    # assignment is the map-only Arrow argmax (codebook in the UDF
    # closure); the window partitions by cluster_id, the size aggregate
    # joins back on it — no cartesian, no row-UDF, assignment evaluated
    # once via the query-scoped persist
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan
    assert "InMemoryTableScan" in plan


def test_span_corruption_plan_is_row_local_plus_doc_window(spark):
    plan = _executed(spark, "span_corruption_plan")
    # position explode + md5 predicate are row-local; the islands window
    # partitions by doc_id; the one join is the per-doc LEFT re-attach
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan


def test_doc_prefix_containment_blocked_join(spark):
    plan = _executed(spark, "doc_prefix_containment")
    # one equi-join on the first-4-token md5 block key; the prefix
    # verify is a post-join row-local string compare
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BatchEvalPython" not in plan
    assert _count(plan, "SortMergeJoin") + _count(plan, "BroadcastHashJoin") \
        + _count(plan, "ShuffledHashJoin") >= 1


def test_quality_budget_cutoff_no_global_doc_sort(spark):
    plan = _executed(spark, "quality_token_budget_cutoff")
    # the only global window runs over the score-domain spine (<= 10^4+1
    # rows); per-doc state is a window PARTITIONED by score plus two
    # broadcast attaches (spine + budget scalar) — no row-UDF, and the
    # doc-side join on uniq_bp is a broadcast hash join, not a sort-merge
    # over the corpus
    assert "BatchEvalPython" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan


def test_boilerplate_removal_equi_keyed(spark):
    plan = _executed(spark, "boilerplate_block_removal")
    # prevalence join is keyed on (source, block_hash); the per-doc
    # re-attach is keyed on doc_id — no cartesian, no nested loop, no
    # Python anywhere
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan
    assert _count(plan, "SortMergeJoin") + _count(plan, "BroadcastHashJoin") \
        + _count(plan, "ShuffledHashJoin") >= 2


def test_kmeans_silhouette_map_only(spark):
    plan = _executed(spark, "kmeans_silhouette")
    # top-2 assignment is ONE Arrow projection (codebook in the closure);
    # everything after it is row-local integer math — no join of any
    # kind, no shuffle-bearing operator in the post-assignment plan
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" in plan
    assert _count(plan, "SortMergeJoin") + _count(plan, "ShuffledHashJoin") \
        == 0


def test_dedup_incremental_nearline_is_one_reduction(spark):
    plan = _executed(spark, "dedup_minhash_incremental")
    # the verdict is one groupBy(d2) + one left join over the banded LSH
    # pair stream; the only nested-loop join is the sanctioned 1-row
    # n_docs scalar attach
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan
    assert _count(plan, "SortMergeJoin") + _count(plan, "BroadcastHashJoin") \
        + _count(plan, "ShuffledHashJoin") >= 2


def test_epoch_plan_is_sources_sized(spark):
    plan = _executed(spark, "epoch_repetition_plan")
    # one hash aggregate to |sources| rows, one 1-row denominator attach,
    # row-local arithmetic after — no corpus-sized join or window
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan
    assert "HashAggregate" in plan


def test_contrastive_mining_shortlist_sized(spark):
    plan = _executed(spark, "contrastive_pair_mining")
    # the corpus appears once (the broadcast-query topk scan); all mining
    # joins are equi-keyed over the k-row-per-query shortlist
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan
    assert _count(plan, "SortMergeJoin") + _count(plan, "BroadcastHashJoin") \
        + _count(plan, "ShuffledHashJoin") >= 3


def test_novelty_profile_shingle_keyed(spark):
    plan = _executed(spark, "ngram_novelty_profile")
    # train-set membership is one equi-join on the shingle string + one
    # per-doc aggregate — linear in tokens, no cartesian, no Python
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan
    assert _count(plan, "SortMergeJoin") + _count(plan, "BroadcastHashJoin") \
        + _count(plan, "ShuffledHashJoin") >= 2


def test_batch_drift_is_dims_sized(spark):
    plan = _executed(spark, "embedding_batch_drift")
    # one (batch, dim) hash aggregate; the consecutive-batch compare is a
    # self-join of the 4x64-row moment frame; the only nested-loop is the
    # sanctioned 1-row n_vecs scalar attach
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan
    assert "HashAggregate" in plan


def test_tail_truncation_is_doc_windowed(spark):
    plan = _executed(spark, "repetition_tail_truncation")
    # one (doc, shingle)-partitioned window + one per-doc MIN + one
    # doc-keyed left join — linear in tokens, no cartesian, no Python
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan


def test_balance_reports_are_group_sized(spark):
    for name in ("label_balance_plan", "hash_shard_skew"):
        plan = _executed(spark, name)
        # one hash aggregate to |labels| / 16 rows; the only nested-loop
        # is the sanctioned 1-row totals attach
        assert "CartesianProduct" not in plan, name
        assert "BatchEvalPython" not in plan, name
        assert "ArrowEvalPython" not in plan, name
        assert "HashAggregate" in plan, name


def test_bpe_pruning_curve_word_table_scoped(spark):
    plan = _executed(spark, "bpe_vocab_pruning_curve")
    # every curve point re-folds the persisted DISTINCT-word table
    # row-locally (codegen aggregate lambdas); the corpus is scanned for
    # the (word, count) aggregate, never per curve point — no Python,
    # no cartesian beyond the sanctioned 1-row stat attaches
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan
    assert "CartesianProduct" not in plan
    assert "InMemoryTableScan" in plan


def test_curation_v3_composes_clean_shapes(spark):
    plan = _executed(spark, "curation_pipeline_v3")
    # the funnel is the union of its component shapes: banded LSH join,
    # block-hash prevalence join, survivor-scoped budget windows — no
    # cartesian, no row-UDF, no Python at all
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan
    assert "InMemoryTableScan" in plan   # q and st are scoped-persisted


def test_pii_inventory_row_local_plus_one_agg(spark):
    plan = _executed(spark, "pii_inventory")
    # planting + regex detection + the unrolled Luhn sum are row-local
    # column expressions; the only wide op is the per-source aggregate
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan
    assert "HashAggregate" in plan
    assert _count(plan, "SortMergeJoin") + _count(plan, "ShuffledHashJoin") \
        == 0


def test_ccnet_buckets_window_is_lang_partitioned(spark):
    plan = _executed(spark, "ccnet_perplexity_buckets")
    # LM scoring is two LEFT equi-joins + one 1-row broadcast scalar;
    # the NTILE window hash-partitions by lang — no global sort, no
    # Python anywhere
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan
    assert "ntile(3)" in plan
    sort_lines = [ln for ln in plan.splitlines() if "Sort [" in ln]
    assert sort_lines and all("], false, " in ln for ln in sort_lines), \
        "ntile sort must be partition-local (global flag = false)"


def test_source_overlap_matrix_banded_join_only(spark):
    plan = _executed(spark, "source_overlap_matrix")
    # the pair inventory is the banded LSH path (equi-joins), the source
    # attach is an equi-join, and the sole crossJoin is the sanctioned
    # 1-row total attach; the tagged pair stream is scoped-persisted
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan
    assert "InMemoryTableScan" in plan


def test_doc_length_histogram_is_joinless(spark):
    plan = _executed(spark, "doc_length_histogram")
    # row-local tokenize + bin() bucket, one aggregate — nothing wide
    # but the groupBy exchange
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan
    assert "HashAggregate" in plan
    assert _count(plan, "SortMergeJoin") + _count(plan, "ShuffledHashJoin") \
        + _count(plan, "BroadcastHashJoin") == 0


def test_event_debounce_is_arrow_grouped_kernel(spark):
    plan = _executed(spark, "event_debounce")
    # the sequential greedy state runs in ONE grouped Arrow kernel —
    # never a row-at-a-time UDF, never a cartesian
    assert "FlatMapGroupsInPandas" in plan
    assert "BatchEvalPython" not in plan
    assert "CartesianProduct" not in plan


def test_dim_correlation_self_join_is_keyed(spark):
    plan = _executed(spark, "embedding_dim_correlation")
    # the pair fan-out is a vec_id-keyed self-join (co-partitioned
    # equi-join), then one (i,j) hash aggregate — no cartesian
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan
    assert "HashAggregate" in plan


def test_pmi_collocations_topk_is_take_ordered(spark):
    plan = _executed(spark, "token_pmi_collocations")
    # the LIMIT 20 must be a TakeOrderedAndProject (per-partition top-k
    # + driver merge), never a global sort that materializes the ranking
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan


def test_mmr_selection_is_grouped_kernel_over_shortlists(spark):
    plan = _executed(spark, "mmr_diverse_selection")
    # the sequential greedy runs in ONE grouped Arrow kernel; everything
    # upstream (shortlist + pair cosines) is built-in operators
    assert "FlatMapGroupsInPandas" in plan
    assert "BatchEvalPython" not in plan
    assert "CartesianProduct" not in plan


def test_source_kl_is_token_keyed_plus_broadcast_scalars(spark):
    plan = _executed(spark, "source_unigram_kl")
    # token-keyed equi-join + broadcast source totals + broadcast scalar;
    # no global sort, no Python
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan
    assert "Sort " not in plan.split("HashAggregate")[0]


def test_quality_dup_quartiles_sorts_only_the_score_spine(spark):
    plan = _executed(spark, "quality_dup_quartiles")
    # the ntile decomposition: within-score windows partitioned BY score
    # (hash-exchanged), the only global window over the <=10^4+1-row
    # spine; the doc stream itself is never globally sorted
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan
    assert "ntile" not in plan.lower()


def test_nprobe_curve_is_map_only_assign_plus_shortlist_joins(spark):
    plan = _executed(spark, "ivf_nprobe_recall_curve")
    # three thresholds of ONE trained codebook: Arrow-batched map-only
    # assignment (codebook in the closure), shortlist-sized hit joins —
    # never a cartesian, never a row-UDF
    assert "BatchEvalPython" not in plan
    assert "CartesianProduct" not in plan
    assert "ArrowEvalPython" in plan or "FlatMapGroupsInPandas" in plan


def test_distinct_ngram_diversity_is_joinless(spark):
    plan = _executed(spark, "distinct_ngram_diversity")
    # three explode branches over one token scan + one hash aggregate;
    # no join of any kind
    assert "HashAggregate" in plan
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan
    assert _count(plan, "SortMergeJoin") + _count(plan, "ShuffledHashJoin") \
        + _count(plan, "BroadcastHashJoin") \
        + _count(plan, "BroadcastNestedLoopJoin") == 0


def test_zipf_fit_window_is_source_partitioned(spark):
    plan = _executed(spark, "zipf_fit_by_source")
    # the rank window hash-partitions by source (vocabulary-sized within
    # a source); sums are plain hash aggregates — no Python, no cartesian
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan
    assert "hashpartitioning(source" in plan


def test_ngram_entropy_is_joinless(spark):
    plan = _executed(spark, "ngram_entropy_curve")
    assert "HashAggregate" in plan
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan
    assert _count(plan, "SortMergeJoin") + _count(plan, "ShuffledHashJoin") \
        + _count(plan, "BroadcastHashJoin") \
        + _count(plan, "BroadcastNestedLoopJoin") == 0


def test_dedup_rate_by_batch_window_is_batch_summary_sized(spark):
    plan = _executed(spark, "dedup_rate_by_batch")
    # the cumulative window runs over the 8-row per-batch summary, AFTER
    # the batch aggregate — never over the per-doc verdict stream (the
    # printed tree is root-first, so the Window node must appear ABOVE
    # the first HashAggregate)
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan
    assert plan.index("Window") < plan.index("HashAggregate")


def test_suffix_containment_is_block_keyed(spark):
    plan = _executed(spark, "doc_suffix_containment")
    # one hash equi-join on the last-4-token md5 block key; the verify is
    # a post-join row-local filter — never a nested-loop over doc pairs
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BatchEvalPython" not in plan
    assert _count(plan, "SortMergeJoin") + _count(plan, "ShuffledHashJoin") \
        + _count(plan, "BroadcastHashJoin") >= 1


def test_calibration_windows_are_partitioned(spark):
    plan = _executed(spark, "quality_score_calibration")
    # both windows partition (doc_id for the margin rank, true_source for
    # the quartile) — no global-sort window; the only nested-loops are the
    # sanctioned tiny broadcast attaches of the NB device
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan
    assert "hashpartitioning(doc_id" in plan
    assert "hashpartitioning(true_source" in plan


def test_datasheet_rollups_reaggregate_reduced_frame(spark):
    plan = _executed(spark, "source_lang_datasheet")
    # the token stream reduces ONCE (InMemory persist of the base count
    # frame); the cell level and the three marginal levels all read the
    # cache — exactly 4 InMemoryTableScan branches.  (The explode shows
    # up in the printed tree only inside the cached-relation descriptions
    # those scans embed, so its print count is 2 per scan, not a measure
    # of execution.)
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan
    assert _count(plan, "InMemoryTableScan") == 4


def test_bucket_skew_reuses_one_signature_scan(spark):
    plan = _executed(spark, "lsh_bucket_skew")
    # one persisted signature build feeds the three config branches
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan
    assert _count(plan, "InMemoryTableScan") == 3


def test_kanonymity_is_one_hash_aggregate(spark):
    plan = _executed(spark, "kanonymity_report")
    assert "HashAggregate" in plan
    assert "BatchEvalPython" not in plan
    assert _count(plan, "SortMergeJoin") + _count(plan, "ShuffledHashJoin") \
        + _count(plan, "BroadcastHashJoin") \
        + _count(plan, "BroadcastNestedLoopJoin") == 0


def test_mrr_is_capped_broadcast_scan(spark):
    plan = _executed(spark, "retrieval_mrr_capped_eval")
    # r12: the 128-query cap is still a TakeOrdered (never a global
    # sort of the eval split), but it now executes at construction —
    # cross_cosine_scores collects the capped frame and closes the
    # query matrix over the scoring kernel, so the executed plan shows
    # the kernel over the training scan instead of a broadcast join
    assert "MapInArrow" in plan
    assert "BatchEvalPython" not in plan
    assert "CartesianProduct" not in plan


def test_keep_newest_windows_are_cluster_partitioned(spark):
    plan = _executed(spark, "dedup_keep_newest")
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan
    assert "hashpartitioning(cluster_id" in plan


def test_resample_draw_window_is_source_partitioned(spark):
    plan = _executed(spark, "dsir_resample_draw")
    # the rank window partitions by source; the quota n_s attach is a
    # broadcast of a |sources|-row frame
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan
    assert "hashpartitioning(source" in plan
    # (the dsir score chain's 1-row vocab scalars legitimately pass
    # through SinglePartition exchanges — the sanctioned totals class —
    # so no blanket SinglePartition assertion here)


def test_blocklist_screening_is_row_local(spark):
    plan = _executed(spark, "blocklist_screening_report")
    assert "HashAggregate" in plan
    assert "BatchEvalPython" not in plan
    assert _count(plan, "SortMergeJoin") + _count(plan, "ShuffledHashJoin") \
        + _count(plan, "BroadcastHashJoin") \
        + _count(plan, "BroadcastNestedLoopJoin") == 0


def test_chunk_dedup_is_hash_keyed(spark):
    plan = _executed(spark, "chunk_dedup_report")
    # chunk canon = md5-keyed hash aggregate; source attach = doc equi-join
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BatchEvalPython" not in plan


def test_ccnet_dup_matrix_windows_are_lang_partitioned(spark):
    plan = _executed(spark, "ccnet_bucket_dup_matrix")
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan
    assert "hashpartitioning(lang" in plan


def test_k_sweep_joins_bounded_pair_inventory(spark):
    plan = _executed(spark, "minhash_k_error_sweep")
    # signature table joins the (bounded) true-pair inventory on doc ids —
    # equi-joins only, no cartesian/nested-loop pair formation
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BatchEvalPython" not in plan


def test_chunk_contamination_membership_is_hash_join(spark):
    plan = _executed(spark, "chunk_level_contamination")
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan
    assert _count(plan, "SortMergeJoin") + _count(plan, "ShuffledHashJoin") \
        + _count(plan, "BroadcastHashJoin") >= 1


def test_norm_impact_and_dp_are_aggregate_only(spark):
    for name in ("normalization_impact_report", "dp_laplace_counts"):
        plan = _executed(spark, name)
        assert "HashAggregate" in plan, name
        assert "BatchEvalPython" not in plan, name
        assert _count(plan, "SortMergeJoin") \
            + _count(plan, "ShuffledHashJoin") \
            + _count(plan, "BroadcastHashJoin") \
            + _count(plan, "BroadcastNestedLoopJoin") == 0, name


def test_power_iteration_reduces_corpus_once(spark):
    plan = _executed(spark, "covariance_power_iteration")
    # the per-step C.v folds re-read the persisted 64x64 covariance
    # relation; the corpus-sized moment shuffle runs once at build time
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan


def test_filter_venn_joins_on_doc_id(spark):
    plan = _executed(spark, "quality_filter_venn")
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan
    assert "hashpartitioning(doc_id" in plan or \
        "BroadcastHashJoin [doc_id" in plan or "doc_id" in plan


def test_feature_hash_report_is_bucket_windowed(spark):
    plan = _executed(spark, "feature_hash_collision_report")
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan
    assert "hashpartitioning(bucket" in plan


def test_js_matrix_halves_are_broadcast_spined(spark):
    plan = _executed(spark, "source_js_divergence_matrix")
    # the pair spine is a broadcast of the |sources|^2-row halves frame
    # against the per-source token counts — equi-joins only
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan
    assert "BroadcastHashJoin" in plan


def test_token_drift_window_is_batch_partitioned(spark):
    plan = _executed(spark, "token_freq_drift")
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan
    assert "hashpartitioning(batch" in plan


def test_bloom_curve_bit_sets_broadcast(spark):
    plan = _executed(spark, "bloom_fpr_curve")
    # per-size candidate selection = broadcast semi-join on bit_pos
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan
    assert "BroadcastExchange" in plan


def test_projection_is_takeordered(spark):
    plan = _executed(spark, "embedding_projection_outliers")
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan


def test_repeat_inventory_reduces_on_span_hash(spark):
    plan = _executed(spark, "maximal_repeat_inventory")
    # classes form in ONE hash aggregate keyed on the span content hash;
    # the only joins are the shingle-dup equi-join and the per-doc token
    # lookup — repeat classes, not the corpus, size the reduce side
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan
    assert "hashpartitioning(span_md5" in plan


def test_span_savings_is_two_hash_aggregates(spark):
    plan = _executed(spark, "span_dedup_token_savings")
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan
    # per-doc coverage reduce, then the source rollup
    assert "hashpartitioning(doc_id" in plan
    assert "hashpartitioning(source" in plan


def test_secret_screen_is_rowlocal_then_hash_aggs(spark):
    plan = _executed(spark, "secret_screening_report")
    # candidate selection is a row-local regex pair; the char explode
    # runs on candidates only; reductions key on the doc then the source
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan
    assert "hashpartitioning(doc_id" in plan
    assert "hashpartitioning(source" in plan


def test_quality_drift_spine_is_shard_decomposed(spark):
    plan = _executed(spark, "quality_flag_drift")
    # the doc rank comes from the shard-decomposed window — shard-
    # partitioned row_number, never a single-partition global sort
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan
    assert "hashpartitioning(shard" in plan


def test_knn_graph_is_capped_broadcast_pairing(spark):
    plan = _executed(spark, "knn_graph_edges")
    # the node cap is a distributed top-K, never a global sort; the
    # 256x256 pairing is a broadcast nested loop of the capped frame
    # (the knn_label_accuracy convention), scored by a JVM zip_with fold
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan


def test_graph_ann_search_hops_are_equi_joins(spark):
    plan = _executed(spark, "graph_ann_beam_search")
    # r12 shape: ALL hops run inside one grouped kernel over the score
    # table clustered by qid (FlatMapGroupsInPandas; at sf0.1 that costs
    # exactly one hashpartitioning(qid) exchange — at this lint's SF the
    # single-partition input satisfies the distribution trivially, so no
    # exchange is asserted here; plans/r12 carries the sf0.1 evidence);
    # the bounded graph is collected and closed over — no per-hop joins,
    # windows, or distincts remain
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan
    assert "FlatMapGroupsInPandas" in plan


def test_secret_sweep_is_one_pass_threshold_explode(spark):
    plan = _executed(spark, "secret_entropy_sweep")
    # ONE candidate/entropy chain (persisted) feeds all three threshold
    # rows via a row-local explode of the threshold array — never three
    # re-reads; reductions key on the doc then the threshold value
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan
    assert "hashpartitioning(ent_micro" in plan
    assert "InMemoryTableScan" in plan  # the persisted entropy frame


def test_ecc_sweep_hops_are_equi_joins(spark):
    plan = _executed(spark, "ecc_by_threshold")
    # three BFS chains, each: frontier expand = equi-join on the node
    # column + left-anti dedup, reductions keyed on cluster_id — the
    # cluster_diameter_report shape swept over the verify dial
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan
    assert "hashpartitioning(cluster_id" in plan


def test_two_stage_graph_scores_candidates_only(spark):
    plan = _executed(spark, "graph_ann_two_stage")
    # the node cap is a distributed top-K; the centroid pairing is a
    # broadcast nested loop of the capped frame against the |codebook|-
    # row centroid literal; candidate scoring and the in_exact eval
    # column are broadcast EQUI-joins; the capped frame is shuffle-free
    # end-to-end (zero hashpartitioning exchanges) and the per-src rank
    # runs under a WindowGroupLimit (rank<=k pushed below the window)
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan
    assert "WindowGroupLimit [src" in plan
    assert "hashpartitioning(" not in plan


def test_cut_plan_keeper_window_keys_on_class_hash(spark):
    plan = _executed(spark, "repeat_class_cut_plan")
    # keeper election = ONE window keyed on the span content hash
    # (classes size the shuffle), then doc + source hash aggregates
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan
    assert "hashpartitioning(span_md5" in plan
    assert "hashpartitioning(source" in plan


def test_nprobe_curve_is_shuffle_free_broadcast_pairing(spark):
    plan = _executed(spark, "graph_two_stage_nprobe_curve")
    # three nested probe chains over ONE persisted node frame + ONE
    # persisted centroid ranking; same zero-shuffle contract as the
    # wave-46 detail gate
    assert "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan
    assert "InMemoryTableScan" in plan
    assert "hashpartitioning(" not in plan


def test_sample_effect_pays_two_linear_shingle_passes(spark):
    plan = _executed(spark, "span_dedup_sample_effect")
    # full + sampled duplicated-shingle chains (the sweep prices that
    # second pass), each a shingle-keyed reduce; coverage reduces per
    # doc, rollup per source — no pair joins anywhere
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan
    assert "hashpartitioning(s#" in plan or "hashpartitioning(s," in plan
    assert "hashpartitioning(doc_id" in plan
    assert "hashpartitioning(source" in plan


def test_keep_quality_windows_are_cluster_partitioned(spark):
    plan = _executed(spark, "dedup_keep_best_quality")
    # quality score is row-local integer arithmetic (no explode, no
    # UDF); the three policy ranks are cluster-partitioned windows
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan
    assert "hashpartitioning(cluster_id" in plan
    assert "posexplode" not in plan


def test_keep_policy_matrix_folds_one_rank_frame(spark):
    # r11 opt: ONE window pass computes every pair's differs flag and the
    # cluster size, and ONE aggregate folds all seven metrics — exactly
    # one cluster_id exchange in the whole plan (the build shape
    # re-shuffled a persisted rank frame once per policy pair, so the
    # persist and its InMemoryTableScan are gone along with the 3 passes).
    # Built twice: the plan must not depend on the session's history.
    for _ in range(2):
        plan = _executed(spark, "keep_policy_matrix")
        assert "CartesianProduct" not in plan
        assert "BatchEvalPython" not in plan
        assert plan.count("hashpartitioning(cluster_id") == 1


def test_pq_rerank_curve_slices_one_adc_ranking(spark):
    plan = _executed(spark, "pq_rerank_recall_curve")
    # ONE persisted ADC ranking (ann_pq at the deepest depth) is
    # prefix-sliced by a broadcast join against the 3-row depth frame —
    # never three corpus passes; exact rerank cosines touch candidate
    # rows only via broadcast equi-joins, and every shuffle keys on the
    # candidate-sized (depth, query_id) side, not the corpus
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan
    assert "InMemoryTableScan" in plan  # persisted pq / truth / cand
    assert "BroadcastNestedLoopJoin" in plan  # rank <= depth prefix join
    assert "hashpartitioning(depth" in plan
    assert "hashpartitioning(vec_id" not in plan  # corpus never shuffles


def test_contam_curve_probe_is_broadcast_per_n(spark):
    plan = _executed(spark, "contamination_ngram_curve")
    # one tokenize pass (persisted) feeds all three n chains; each
    # bench shingle set is broadcast (the contamination_overlap
    # posture), so corpus-side shuffles key only on the matched rows'
    # (s, doc_id) reductions
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan
    assert "InMemoryTableScan" in plan  # the persisted token frame
    assert plan.count("BroadcastHashJoin") >= 3  # one probe per n
    # the countDistinct Expand shuffles on (s, doc_id, gid) — the KEY SET
    # is the claim; RewriteDistinctAggregates emits the two distinct
    # groups in an expression-id-dependent order, so asserting a fixed
    # prefix ("hashpartitioning(doc_id") flaps with session age
    # capture to end of line, not to the first ')' (ADVICE r11 #2: a
    # key wrapped in an expression like cast(s#1 as bigint) would
    # truncate a paren-bounded group before the second key appears)
    import re
    keys = re.findall(r"hashpartitioning\((.*)$", plan, re.MULTILINE)
    assert any("s#" in k and "doc_id#" in k for k in keys)


def test_strictness_curve_folds_one_metric_frame(spark):
    plan = _executed(spark, "gopher_strictness_curve")
    # the flag core's explode + two doc_id-keyed hash aggregates run
    # ONCE (persisted); the three levels are constant-folded
    # conditional sums over that frame — no per-level corpus pass,
    # no UDF anywhere
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan
    assert "InMemoryTableScan" in plan  # the persisted metric frame
    assert "hashpartitioning(doc_id" in plan
    assert "ArrowEvalPython" not in plan  # pure JVM expressions


def test_codebook_curve_is_maponly_assign_plus_cell_folds(spark):
    plan = _executed(spark, "ivf_codebook_size_curve")
    # per size: ONE map-only Arrow assignment (persisted), cell-sized
    # folds for occupancy AND the candidate count (cluster_id-keyed),
    # the ann_ivf broadcast search, hits against ONE persisted truth —
    # the corpus never shuffles on vec_id
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" in plan  # the assignment kernel
    assert "InMemoryTableScan" in plan
    assert "hashpartitioning(cluster_id" in plan
    assert "hashpartitioning(vec_id" not in plan


# -------------------------------------------------------------------------
# The analytics_api gates run no Python worker (fmt is a JVM expression),
# and the MEV gate is one aggregate per block.
# -------------------------------------------------------------------------

@pytest.mark.parametrize("name", ["pricing_summary", "shipping_priority",
                                  "transfer_volume_hourly", "mev_scores"])
def test_bench_gate_starts_no_python_worker(spark, name):
    plan = _executed(spark, name)
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan, plan


def test_mev_scores_is_one_shuffle(spark):
    plan = _executed(spark, "mev_scores")
    shuffles = [ln for ln in plan.splitlines() if ln.lstrip(" +-:*").startswith("Exchange ")]
    assert len(shuffles) == 1, plan
