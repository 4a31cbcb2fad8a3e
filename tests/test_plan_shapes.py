"""Physical-plan regression tests: pin the plan properties that make
these queries scale — pushdown reaching the scan, dimension joins
broadcasting, bounded shuffle counts, column pruning. A change that
silently loses one of these properties fails here long before a 100 TB
run finds out."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from pyspark_data_processing_challenge_spark import plans
from pyspark_data_processing_challenge_spark.queries import (
    extended,
    llm,
    reference,
    relational,
)
from tests.conftest import SF_DIR


@pytest.fixture(scope="module")
def catalog(spark) -> dict:
    """Every catalog query built once at SF_DIR (name → DataFrame),
    shared by the catalog-wide plan lints."""
    import __spark_entry__ as entrymod

    return {name: fn(spark, SF_DIR) for name, fn in entrymod.queries().items()}


def test_date_filter_pushes_to_scan(spark):
    df = reference.op_date_filter(spark, SF_DIR)
    assert plans.has_pushed_filters(df)


def test_flagship_has_single_shuffle(spark):
    # dedup (one hash-aggregate exchange) is the ONLY shuffle in the
    # whole reference pipeline; filters/projections stay narrow
    df = reference.ref_flagship_pipeline(spark, SF_DIR)
    assert plans.exchange_count(df) == 1


def test_flagship_keyed_pushes_filters_single_shuffle(spark):
    # the scale twin: date/flag predicates reach the parquet scan
    # (filter-before-dedup restructure) and the fingerprint dedup is
    # still the only exchange
    df = reference.ref_flagship_pipeline_keyed(spark, SF_DIR)
    assert plans.has_pushed_filters(df)
    assert plans.exchange_count(df) == 1


def test_revenue_join_broadcasts_nation(spark):
    df = relational.join_revenue_by_nation(spark, SF_DIR)
    assert plans.broadcast_join_count(df) >= 1


def test_topk_brute_force_broadcasts_queries(spark):
    df = llm.embedding_topk(spark, SF_DIR)
    assert plans.broadcast_join_count(df) >= 1
    # corpus side must not shuffle for the join itself: only the window
    # top-k repartitions (by query_id)
    assert plans.exchange_count(df) <= 2


def test_ivf_broadcasts_codebook(spark):
    df = extended.ivf_topk(spark, SF_DIR)
    assert plans.broadcast_join_count(df) >= 3  # codebook x2 + probe map
    # no sort-merge joins anywhere: every join side is broadcast-small
    assert plans.sort_merge_join_count(df) == 0


def test_range_join_broadcasts_calendar(spark):
    # non-equi join against the tiny period table must broadcast, never
    # shuffle the orders side
    from pyspark_data_processing_challenge_spark.queries import extra

    df = extra.range_join_promos(spark, SF_DIR)
    plan = plans.executed_plan(df)
    assert "BroadcastNestedLoopJoin" in plan
    assert plans.sort_merge_join_count(df) == 0


def test_q5_join_broadcasts_all_dims(spark):
    from pyspark_data_processing_challenge_spark.queries import extra

    df = extra.join_regional_revenue(spark, SF_DIR)
    assert plans.broadcast_join_count(df) >= 3  # supplier, nation, region


def test_unpivot_is_shuffle_free_expand(spark):
    from pyspark_data_processing_challenge_spark.queries import extra

    df = extra.unpivot_lineitem(spark, SF_DIR)
    assert "Expand" in plans.executed_plan(df)
    assert plans.exchange_count(df) == 0


def test_kmeans_broadcasts_codebook(spark):
    df = extended.kmeans_update_centroids(spark, SF_DIR)
    assert plans.broadcast_join_count(df) >= 1
    assert plans.sort_merge_join_count(df) == 0
    assert plans.exchange_count(df) <= 2  # assignment window + M-step agg


def test_column_pruning_reaches_scan(spark):
    df = relational.sort_top20_orders(spark, SF_DIR)
    schemas = plans.scan_read_schema(df)
    assert schemas, "expected a file scan"
    # only the 3 projected columns are read, not all 6 order columns
    assert all(len(s.split(",")) == 3 for s in schemas)


def test_top20_uses_take_ordered(spark):
    df = relational.sort_top20_orders(spark, SF_DIR)
    assert "TakeOrderedAndProject" in plans.executed_plan(df)


def test_agg_is_two_phase(spark):
    # partial (map-side) + final aggregate around one exchange
    df = relational.agg_pricing_summary(spark, SF_DIR)
    plan = plans.executed_plan(df)
    assert plan.count("HashAggregate") >= 2
    assert plans.exchange_count(df) == 1


def test_semi_join_stays_semi(spark):
    df = relational.semi_join_urgent_customers(spark, SF_DIR)
    assert "LeftSemi" in plans.executed_plan(df)


def test_null_counts_single_pass(spark):
    from pyspark_data_processing_challenge_spark.operators import quality

    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    df = quality.null_counts(li, ["l_orderkey", "l_quantity", "l_tax"])
    # one aggregate pass: exactly one exchange (partial->final), one scan
    assert plans.exchange_count(df) == 1
    assert plans.executed_plan(df).count("FileScan") == 1


def test_quartiles_twin_is_shuffle_free(spark):
    # the scale twin of window_ntile_orders: boundary selection happens
    # in its own tiny jobs; the RETURNED plan is a narrow projection
    # with broadcast-literal cut points — no Window, no shuffle at all
    df = extended.agg_quartiles_orders(spark, SF_DIR)
    plan = plans.executed_plan(df)
    assert "Window" not in plan
    assert "Exchange SinglePartition" not in plan
    assert plans.exchange_count(df) == 0


def test_headline_queries_have_no_global_window_over_raw(catalog):
    # quantify the WindowExec story: no bench headline query may funnel
    # an unaggregated table into a single-partition Window
    import bench

    offenders = [
        name
        for name in bench.HEADLINE
        if plans.global_window_over_raw(catalog[name])
    ]
    assert not offenders, f"global window over raw table: {offenders}"


def test_decontaminate_broadcasts_benchmark(spark):
    df = llm.docs_decontaminate(spark, SF_DIR)
    assert plans.broadcast_join_count(df) >= 1


def test_split_assign_is_shuffle_free(spark):
    df = llm.docs_split_assign(spark, SF_DIR)
    plan = plans.executed_plan(df)
    assert plans.exchange_count(df) == 0
    assert "Window" not in plan


def test_pack_sequences_window_is_sharded(spark):
    # the packing cumsum must partition by shard, never a global sort
    df = llm.docs_pack_sequences(spark, SF_DIR)
    plan = plans.executed_plan(df)
    assert "Window" in plan
    assert "Exchange SinglePartition" not in plan
    assert not plans.global_window_over_raw(df)


def test_kmeans_two_step_broadcasts_both_codebooks(spark):
    df = extended.kmeans_two_step(spark, SF_DIR)
    # iteration-1 codebook AND the rebuilt iteration-2 codebook both
    # broadcast; the M-step agg is the only real shuffle chain
    assert plans.broadcast_join_count(df) >= 2
    assert plans.sort_merge_join_count(df) == 0


def test_rolling_window_is_year_partitioned(spark):
    # the carry-row rewrite: the RANGE window must partition by year —
    # no partition-less WindowExec, no single-partition exchange
    from pyspark_data_processing_challenge_spark.queries import extra

    df = extra.rolling_7d_revenue(spark, SF_DIR)
    plan = plans.executed_plan(df)
    assert "Window" in plan
    assert "Exchange SinglePartition" not in plan
    assert not plans.global_window_over_raw(df)


def test_dup_spans_survivor_set_and_doc_window(spark):
    # repeated-substring dedup: the span-merge window partitions by
    # doc; the whole plan never funnels to a single partition
    from pyspark_data_processing_challenge_spark.queries import advanced

    df = advanced.docs_dup_spans(spark, SF_DIR)
    plan = plans.executed_plan(df)
    assert "Exchange SinglePartition" not in plan
    assert not plans.global_window_over_raw(df)


def test_weighted_sample_window_is_stratified(spark):
    from pyspark_data_processing_challenge_spark.queries import advanced

    df = advanced.docs_weighted_sample(spark, SF_DIR)
    plan = plans.executed_plan(df)
    assert "Window" in plan
    assert "Exchange SinglePartition" not in plan


def test_event_transitions_broadcasts_totals(spark):
    # per-source totals must come back as a broadcast — repartitioning
    # the big pair stream by a |event types|-cardinality key would
    # funnel 100 TB through a handful of partitions
    from pyspark_data_processing_challenge_spark.queries import analytics

    df = analytics.event_transitions(spark, SF_DIR)
    assert plans.broadcast_join_count(df) >= 1
    assert not plans.global_window_over_raw(df)


def test_regr_broadcasts_part_dim(spark):
    from pyspark_data_processing_challenge_spark.queries import analytics

    df = analytics.regr_price_by_brand(spark, SF_DIR)
    assert plans.broadcast_join_count(df) >= 1
    assert plans.sort_merge_join_count(df) == 0


def test_rag_chunks_fanout_is_shuffle_free(spark):
    # tokenize → sequence → explode → slice is pure narrow work: chunk
    # rows must flow out of the scan with zero exchanges
    from pyspark_data_processing_challenge_spark.queries import analytics

    df = analytics.docs_rag_chunks(spark, SF_DIR)
    assert plans.exchange_count(df) == 0


def test_gap_fill_broadcasts_generated_grid(spark):
    # calendar × priority grid is generated and broadcast; the orders
    # side contributes only its daily aggregate
    from pyspark_data_processing_challenge_spark.queries import analytics

    df = analytics.orders_gap_fill(spark, SF_DIR)
    assert plans.broadcast_join_count(df) >= 1


def test_rolling_distinct_fanout_bounded(spark):
    # the 7x fanout happens AFTER (user, day) dedup, and the max-day
    # cap joins as a broadcast single-row aggregate
    from pyspark_data_processing_challenge_spark.queries import analytics

    df = analytics.rolling_7d_distinct_users(spark, SF_DIR)
    assert plans.broadcast_join_count(df) >= 1
    # the only single-partition exchange allowed is the one-row max(day)
    # scalar aggregate feeding the broadcast cap — the fanned-out rows
    # themselves must stay hash-partitioned
    plan = plans.executed_plan(df)
    assert plan.count("Exchange SinglePartition") <= 1
    assert not plans.global_window_over_raw(df)


def test_cohort_window_is_user_partitioned(spark):
    from pyspark_data_processing_challenge_spark.queries import analytics

    df = analytics.cohort_retention(spark, SF_DIR)
    assert not plans.global_window_over_raw(df)


def test_pagerank_rank_math_never_shuffles_wide(spark):
    # the only wide work is the edge aggregation; customer/supplier/
    # nation dims and the out-weight side all broadcast
    from pyspark_data_processing_challenge_spark.queries import analytics

    df = analytics.nation_trade_pagerank(spark, SF_DIR)
    assert plans.broadcast_join_count(df) >= 3


def test_max_concurrent_has_no_global_window(spark):
    # the sweep-line must rank within day partitions; a totally-ordered
    # running-sum formulation would show a partition-less WindowExec
    from pyspark_data_processing_challenge_spark.queries import analytics

    df = analytics.max_concurrent_sessions(spark, SF_DIR)
    assert not plans.global_window_over_raw(df)


def test_rfm_assignment_has_no_ntile_window(spark):
    # the returned plan must be the broadcast-cut-point projection —
    # never a global ntile WindowExec (that's the oracle's job)
    from pyspark_data_processing_challenge_spark.queries import analytics

    df = analytics.rfm_segments(spark, SF_DIR)
    plan = plans.executed_plan(df)
    assert "Window" not in plan
    assert not plans.global_window_over_raw(df)


def test_bloom_probe_is_broadcast_only(spark):
    # the runtime-filter pattern: K word-table joins + the exact-keys
    # join all broadcast; the fact side must never sort-merge
    from pyspark_data_processing_challenge_spark.queries import advanced

    df = advanced.bloom_join_prune(spark, SF_DIR)
    assert plans.sort_merge_join_count(df) == 0
    from pyspark_data_processing_challenge_spark.operators.bloom import K_HASHES

    assert plans.broadcast_join_count(df) >= K_HASHES + 1


def test_histogram_sketch_is_window_free(spark):
    # quantile readout is an array fold over the 256-cell histogram —
    # no WindowExec, no global sort anywhere in the plan
    from pyspark_data_processing_challenge_spark.queries import advanced

    df = advanced.histogram_quantile_sketch(spark, SF_DIR)
    plan = plans.executed_plan(df)
    assert "Window" not in plan
    assert "Sort [" not in plan or "SortMergeJoin" in plan


def test_setsim_has_no_cartesian_product(spark):
    # prefix filtering must keep candidate generation an equi-join on
    # shingles — an accidental cross join would be the quadratic trap
    from pyspark_data_processing_challenge_spark.queries import llm

    plan = plans.executed_plan(llm.setsim_prefix_pairs(spark, SF_DIR))
    assert "CartesianProduct" not in plan


def test_containment_has_no_cartesian_product(spark):
    # the containment prefix filter explodes only the contained side's
    # rarest prefix against the full shingle index — candidate
    # generation must stay an equi-join on shingles, and the final
    # window-free output must carry no global sort
    from pyspark_data_processing_challenge_spark.queries import llm

    plan = plans.executed_plan(llm.docs_containment_pairs(spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert "Window" not in plan


def test_pq_rerank_window_is_shortlist_bounded(spark):
    # the exact re-rank window sorts the 25-row ADC shortlist — a
    # LIMIT must sit upstream of the single-partition sort so the
    # global window never sees the corpus
    from pyspark_data_processing_challenge_spark.queries import advanced

    df = advanced.pq_rerank_topk(spark, SF_DIR)
    plan = plans.executed_plan(df)
    assert "TakeOrderedAndProject" in plan or "GlobalLimit" in plan


def test_cms_probe_and_contract_broadcast(spark):
    # the 2048-cell sketch and the single-row lossless flag must both
    # come back as broadcasts — never a shuffle keyed on sketch cells
    from pyspark_data_processing_challenge_spark.queries import advanced

    df = advanced.cms_heavy_hitters(spark, SF_DIR)
    assert plans.broadcast_join_count(df) >= 2


def test_contribution_broadcasts_dims(spark):
    from pyspark_data_processing_challenge_spark.queries import analytics

    df = analytics.momentum_contribution(spark, SF_DIR)
    assert plans.broadcast_join_count(df) >= 3  # customer, nation, total
    assert plans.has_pushed_filters(df)  # the two-month predicate


def test_basket_pair_generation_is_join_free(spark):
    # the array-expression pair enumeration replaced the within-order
    # self-join: exactly the aggregate exchanges remain, no join nodes
    from pyspark_data_processing_challenge_spark.queries import analytics

    plan = plans.executed_plan(analytics.copurchase_triangles(spark, SF_DIR))
    # the triangle phase's degree/wedge/closure joins and summary
    # broadcasts remain (8 broadcast joins); the edge build contributes
    # ZERO joins and nothing sort-merges or goes cartesian
    assert "CartesianProduct" not in plan
    assert plan.count("SortMergeJoin") == 0
    assert plan.count("BroadcastHashJoin") <= 8


def test_shj_twin_uses_shuffled_hash_join(spark):
    # the shuffle_hash hint must survive planning: the customer join
    # runs as ShuffledHashJoin (not SortMergeJoin), while the nation
    # side stays broadcast — the third physical join strategy proven
    # result-equal through the shared oracle
    from pyspark_data_processing_challenge_spark.queries import relational

    plan = plans.executed_plan(
        relational.join_revenue_by_nation_shj(spark, SF_DIR)
    )
    assert "ShuffledHashJoin" in plan
    assert "BroadcastHashJoin" in plan


def test_semdedup_queries_have_no_cartesian(spark):
    # both the size-capped full pairing and the incremental batch form
    # must keep candidate generation an equi-join on (centroid, sub) —
    # an accidental cross join would be the quadratic trap the r08
    # skew cap exists to prevent
    for q in (llm.docs_semantic_dedup, llm.semdedup_incremental_batch):
        plan = plans.executed_plan(q(spark, SF_DIR))
        assert "CartesianProduct" not in plan, q.__name__


def test_lsh_recall_baseline_is_broadcast_not_allpairs(spark):
    # the sampled exact baseline must broadcast the fixed-size query
    # set against one corpus scan — never a cartesian/sort-merge
    # self-join (the pre-r08 quadratic shape)
    df = llm.lsh_recall_eval(spark, SF_DIR)
    plan = plans.executed_plan(df)
    assert "CartesianProduct" not in plan
    assert plans.broadcast_join_count(df) >= 1
    assert plans.sort_merge_join_count(df) == 0


def test_dsir_prunes_columns_and_broadcasts_stats(spark):
    # the corpus scan must read only (doc_id, text, lang) — never
    # source/n_chars — and the 256-row bucket-stats table must come
    # back as a broadcast, not a shuffle keyed on buckets
    df = llm.docs_dsir_weights(spark, SF_DIR)
    plan = plans.executed_plan(df)
    assert "source" not in plan.split("ReadSchema")[1][:200]
    assert plans.broadcast_join_count(df) >= 2  # totals + stats


def test_gopher_rules_is_projection_only(spark):
    # every rule is row-local: the whole query must plan as a scan +
    # projection — zero exchanges, zero joins, zero windows
    df = llm.docs_gopher_rules(spark, SF_DIR)
    assert plans.exchange_count(df) == 0
    plan = plans.executed_plan(df)
    assert "Window" not in plan and "Join" not in plan


def test_holt_and_kanonymity_are_aggregate_only(spark):
    # recursive smoothing and the QI audit both reduce to aggregates —
    # no window chain, no self-join, nothing cartesian
    from pyspark_data_processing_challenge_spark.queries import (
        analytics,
        extra,
    )

    for q in (analytics.revenue_holt_forecast, extra.customers_k_anonymity):
        plan = plans.executed_plan(q(spark, SF_DIR))
        assert "Window" not in plan, q.__name__
        assert "CartesianProduct" not in plan, q.__name__
        assert "SortMergeJoin" not in plan, q.__name__


def test_entity_resolution_is_block_bounded(spark):
    # candidate generation must be the (brand, size) equi-join — an
    # accidental cross join would be corpus x corpus
    from pyspark_data_processing_challenge_spark.queries import extra

    plan = plans.executed_plan(extra.parts_entity_resolution(spark, SF_DIR))
    assert "CartesianProduct" not in plan


def test_changelog_compact_is_single_aggregate(spark):
    # max_by compaction must be ONE key shuffle with map-side partials —
    # a window+filter replay would sort the full log instead
    from pyspark_data_processing_challenge_spark.queries import cdcq

    df = cdcq.cdc_changelog_compact(spark, SF_DIR)
    plan = plans.executed_plan(df)
    assert "Window" not in plan
    assert plans.exchange_count(df) == 1


def test_holt_winters_is_aggregate_only(spark):
    # the seasonal fold is one calendar-bounded row: no windows, no
    # joins — same contract as the Holt/CUSUM family
    from pyspark_data_processing_challenge_spark.queries import analytics

    plan = plans.executed_plan(analytics.revenue_holt_winters(spark, SF_DIR))
    assert "Window" not in plan
    assert "Join" not in plan


def test_phrase_search_filters_terms_before_join(spark):
    # per-term postings must be filtered before the position join —
    # never a cartesian, and the term predicate must appear as a Filter
    # on tok, not post-join
    from pyspark_data_processing_challenge_spark.queries import advanced

    df = advanced.docs_phrase_search(spark, SF_DIR)
    plan = plans.executed_plan(df)
    assert "CartesianProduct" not in plan
    assert plan.count("table scan") == 0  # phrase never matched as text


def test_snm_rank_has_no_global_window(spark):
    # global ranks must come from per-bucket windows + the tiny offset
    # table: every Window node's partition spec must be non-empty
    # except over the one-row-per-bucket aggregate (which sits above an
    # aggregate, not the scan)
    from pyspark_data_processing_challenge_spark.queries import extra

    df = extra.parts_snm_pairs(spark, SF_DIR)
    plan = plans.executed_plan(df)
    assert "CartesianProduct" not in plan
    # the big-side window partitions by __b; the only permissible
    # unpartitioned window (rendered "], []" in the spec) is the one
    # over the one-row-per-bucket offset aggregate
    assert plan.count("], []") <= 1


def test_hard_negatives_broadcasts_anchors(spark):
    # anchor sample broadcast against one corpus scan; never sort-merge
    df = llm.embedding_hard_negatives(spark, SF_DIR)
    plan = plans.executed_plan(df)
    assert "CartesianProduct" not in plan
    assert plans.broadcast_join_count(df) >= 1
    assert plans.sort_merge_join_count(df) == 0


def test_bbit_minhash_has_no_cartesian(spark):
    df = llm.minhash_bbit_near_dup(spark, SF_DIR)
    plan = plans.executed_plan(df)
    assert "CartesianProduct" not in plan


def test_kcore_rounds_are_checkpoint_bounded(spark):
    # each peel round reads the previous round's materialized RDD —
    # the final plan must hang off a scan of an existing RDD, not a
    # recompiled lineage of the basket edge build
    from pyspark_data_processing_challenge_spark.queries import analytics

    df = analytics.copurchase_kcore(spark, SF_DIR)
    plan = plans.executed_plan(df)
    assert "Scan ExistingRDD" in plan
    assert "CartesianProduct" not in plan


def test_cross_modal_near_dup_is_banded_equi_join(spark):
    # the image-vs-video-keyframe join must stay a (band, key)
    # equi-join between the two hash sets — an accidental cross join
    # would be |images| x |videos| at corpus scale
    df = llm.image_video_cross_near_dup(spark, SF_DIR)
    plan = plans.executed_plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_batch_minus_store_never_shuffles_the_store(spark):
    # the incremental-ingest anti-join contract: the store side must
    # reach the join as a plain scan feeding a broadcast probe — a
    # SortMergeJoin/ShuffledHashJoin here re-exchanges the unbounded
    # store every batch (O(store) network per ingest)
    from pyspark_data_processing_challenge_spark.operators import dedup as dd

    batch = spark.range(100).selectExpr("id as k", "id * 2 as payload")
    store = spark.range(100000).selectExpr("id as k")
    df = dd.batch_minus_store(batch, store, "k")
    plan = plans.executed_plan(df)
    assert "SortMergeJoin" not in plan
    assert "ShuffledHashJoin" not in plan
    assert plans.broadcast_join_count(df) >= 2  # probe + anti


def test_round9_queries_have_no_cartesian(spark):
    # r09 additions: every join must be equi/broadcast — Mann-Kendall's
    # day-pair join and the scalar moment joins are broadcast
    # nested-loop by design (bounded dimension / single-row), never an
    # unhinted CartesianProduct; the basket-enumerated Jaccard must
    # never degrade to a part-level self-join
    from pyspark_data_processing_challenge_spark.queries import (
        analytics,
        extended,
    )

    for q in (
        analytics.revenue_mann_kendall,
        analytics.customers_mahalanobis_outliers,
        analytics.parts_jaccard_similarity,
        extended.ivf_ndcg_eval,
        llm.docs_kneser_ney_ppl,
    ):
        plan = plans.executed_plan(q(spark, SF_DIR))
        assert "CartesianProduct" not in plan, q.__name__


def test_quality_classifier_one_scan_one_exchange(spark):
    # r10: the hashed-linear scorer is a scan + ONE keys-only hash
    # aggregate; the weight vector must ride as an array literal, never
    # a join (any join here would broadcast-or-shuffle per inference
    # run over 100 TB)
    df = llm.docs_quality_classifier(spark, SF_DIR)
    plan = plans.executed_plan(df)
    assert plans.exchange_count(df) == 1
    assert "Join" not in plan


def test_kmeanspp_candidate_sample_is_take_ordered(spark):
    # r10: the candidate sample must be a TakeOrdered (fixed-size
    # top-k on the hash), not a global sort — the scale-safe gate
    # sampling rule (CLAUDE.md)
    from pyspark_data_processing_challenge_spark.queries._util import t

    emb = t(spark, SF_DIR, "embeddings")
    from pyspark_data_processing_challenge_spark.functions.textfns import (
        char_hash,
    )

    cand = (
        emb.select(
            "vec_id",
            char_hash(F.col("vec_id").cast("string")).alias("__h"),
        )
        .orderBy("__h", "vec_id")
        .limit(64)
    )
    assert "TakeOrderedAndProject" in plans.executed_plan(cand)


def test_r10_eval_queries_plan_shapes(spark):
    # threshold sweep: banded candidates only, never an all-pairs join;
    # nprobe curve: codebook/probe joins broadcast, no cartesian
    from pyspark_data_processing_challenge_spark.queries import extended as ext

    plan = plans.executed_plan(llm.minhash_threshold_sweep(spark, SF_DIR))
    assert "CartesianProduct" not in plan
    df = ext.ivf_nprobe_curve(spark, SF_DIR)
    plan2 = plans.executed_plan(df)
    assert "CartesianProduct" not in plan2
    assert plans.broadcast_join_count(df) >= 1


def test_perceptron_training_error_decreases(spark):
    # step 1 starts from w=0 (everything misclassified); by step 2 the
    # batch update must have learned most of the length rule —
    # deterministic data + integer updates make this a pinned fact,
    # not a statistical bet (500 -> 19 errors at sf0.001/sf0.01)
    rows = {r["step"]: r for r in llm.docs_perceptron_train(spark, SF_DIR).collect()}
    assert rows[2]["n_errors"] < rows[1]["n_errors"]
    assert rows[1]["n_errors"] > 0


def test_hashed_embedding_two_exchanges_no_joins(spark):
    # r10: the model-free text embedding is two keys-only aggregates —
    # any join or literal-matrix broadcast here would be a regression
    df = llm.docs_hashed_embedding(spark, SF_DIR)
    plan = plans.executed_plan(df)
    assert "Join" not in plan
    assert plans.exchange_count(df) == 2


def test_trained_classifier_beats_fixed_weights(spark):
    """VERDICT r10 #4: the perceptron's TRAINED weights must classify
    the weak label at least as well as the fixed QC_WEIGHTS scorer it
    previously only calibrated — the reason training exists.
    Deterministic data + integer training → a pinned fact (19 vs 471
    errors on 500 docs at sf0.01)."""
    row = llm.docs_trained_classifier_eval(spark, SF_DIR).collect()[0]
    assert row["n_errors_trained"] <= row["n_errors_fixed"], (
        row["n_errors_trained"], row["n_errors_fixed"],
    )
    assert row["n_errors_trained"] < row["n_errors_fixed"]


def test_ivfpq_ingest_never_shuffles_the_store_and_broadcasts(spark):
    """ANN-ingest orientation (VERDICT r10 #3): the posting store must
    reach the probe as a plain scan feeding a broadcast of the batch
    keys — never a SortMergeJoin/ShuffledHashJoin (O(store) network
    per ingest); the coarse centroids and PQ codebook are broadcast
    into the batch-sized encode path."""
    from pyspark_data_processing_challenge_spark.operators import (
        similarity as sim,
    )
    from pyspark_data_processing_challenge_spark.queries import advanced as adv
    from pyspark_data_processing_challenge_spark.queries._util import t

    emb = t(spark, SF_DIR, "embeddings")
    cent = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("cv")
    )
    cb = sim.pq_subvectors(
        sim.ivf_residuals(
            sim.ivf_assign(
                emb.filter((F.col("vec_id") >= 8) & (F.col("vec_id") < 24)),
                cent, centroid_id="cid", centroid_vec="cv",
            ),
            cent,
        ),
        vec_col="rvec", id_col="doc", m=adv.PQ_M, dsub=adv.PQ_DSUB,
    ).select("s", (F.col("id") - 8).alias("j"), F.col("sv").alias("cv"))
    batch = emb.filter(F.col("vec_id") % 10 == 0)
    store = spark.range(100000).selectExpr("id as doc")
    out = sim.incremental_ivfpq_postings(
        batch, store, cent, cb, m=adv.PQ_M, dsub=adv.PQ_DSUB
    )
    plan = plans.executed_plan(out)
    assert "SortMergeJoin" not in plan
    assert "ShuffledHashJoin" not in plan
    assert plans.broadcast_join_count(out) >= 4  # probe, anti, cents, cb


def test_no_raise_error_in_any_catalog_filter(catalog):
    """Regression net for the r11 curate_corpus detonation: a
    side-effecting assert-style predicate in a Filter gets copied by
    InferFiltersFromConstraints through join equalities onto relations
    where the invariant legitimately fails. Sweep EVERY catalog
    query's optimized plan: predicate-shaped guards (assert_true /
    isnull(raise_error)) must never appear in a Filter; consumed
    projected-column guards are fine, including when pushdown
    substitutes them into same-relation filters (see
    plans.raise_error_in_filter for why that form cannot cross a
    join)."""
    offenders = [
        name for name, df in catalog.items() if plans.raise_error_in_filter(df)
    ]
    assert not offenders, f"raise_error inside a Filter: {offenders}"


def test_cluster_joins_broadcast_components(spark):
    """cluster_canonical / cluster_keep_best join the corpus against
    pair-bounded component tables — those sides must broadcast so the
    corpus streams through one scan (never an id-keyed SMJ shuffle of
    the full corpus at 100 TB). curate_corpus exercises the anti-join
    (canonical), near_dup_keep_best the left tag join (keep_best)."""
    df = llm.curate_corpus(spark, SF_DIR)
    plan = plans.executed_plan(df)
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan
    df2 = llm.near_dup_keep_best(spark, SF_DIR)
    assert plans.broadcast_join_count(df2) >= 1
    assert plans.sort_merge_join_count(df2) <= 1  # only the best-back join may merge


def test_raise_error_lint_detects_predicate_guards(spark):
    """The lint must fire on the r11 dangerous shape (assert_true in a
    Filter — relocatable by constraint inference) and stay quiet on
    the safe shape (guard riding a consumed projected column, even
    after pushdown substitutes it into a same-relation filter)."""
    base = spark.createDataFrame(
        [(1, "aaaa"), (2, "bbbb")], "doc_id long, text string"
    )
    dangerous = base.filter(
        F.assert_true(F.col("doc_id") < 100, F.lit("boom")).isNull()
    )
    assert plans.raise_error_in_filter(dangerous)

    guarded = base.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(F.col("doc_id") < 100, F.lit("")).otherwise(
                F.raise_error(F.lit("boom"))
            ),
        ).alias("text"),
    ).filter(F.length("text") >= 2)  # pushdown substitutes the guard
    assert not plans.raise_error_in_filter(guarded)


def test_ivf_filtered_topk_prefilter_plan(spark):
    """ivf_filtered_topk's metadata predicate must be a hash KEY of
    the broadcast probe join (pre-filter: only passing candidates are
    ever scored), never a post-join Filter — and nothing may plan a
    sort-merge shuffle of the corpus."""
    import re

    from pyspark_data_processing_challenge_spark.queries import extended as ext

    df = ext.ivf_filtered_topk(spark, SF_DIR)
    plan = plans.executed_plan(df)
    assert plans.sort_merge_join_count(df) == 0
    assert re.search(
        r"BroadcastHashJoin \[[^\]]*__meta[^\]]*\], \[[^\]]*__want", plan
    ), plan
    # the filtered ground truth streams the corpus through one scan
    # with the predicate as the broadcast equi-key — no scan-then-
    # filter cross join, no SMJ
    df2 = ext.ivf_filtered_recall_eval(spark, SF_DIR)
    assert plans.sort_merge_join_count(df2) == 0


def test_adaptive_nprobe_escalation_fires_and_fills(spark):
    """The escalation path must be exercised (not dead code on this
    corpus), escalated queries must come from the wider probe only,
    and non-escalated queries carry exactly k rank-consistent rows
    from the narrow probe. No sort-merge joins anywhere."""
    from pyspark_data_processing_challenge_spark.queries import extended as ext

    df = ext.ivf_filtered_adaptive_topk(spark, SF_DIR)
    assert plans.sort_merge_join_count(df) == 0
    rows = df.collect()
    by_q: dict = {}
    for r in rows:
        by_q.setdefault(r.query_id, []).append(r)
    n_esc = sum(1 for v in by_q.values() if v[0].escalated)
    assert 0 < n_esc < len(by_q)  # both paths live
    for q, v in by_q.items():
        # escalation is per-query: rows never mix stages
        assert len({r.escalated for r in v}) == 1, q
        if not v[0].escalated:
            assert len(v) == ext.IVF_K  # narrow probe filled exactly
        ranks = sorted(r.rank for r in v)
        assert ranks == list(range(1, len(v) + 1)), q


def test_prefilter_beats_postfilter(spark):
    """The pre-filter design claim as a pinned inequality: at BOTH
    selectivities the pre-filtered probe's recall is >= the naive
    post-filter composition's, pre always returns the full k per
    query, and post's shortfall grows as the filter narrows (the
    measured FAISS-with-filters story: 0.36 vs 0.06 at ~10%
    selectivity at sf0.01)."""
    from pyspark_data_processing_challenge_spark.queries import extended as ext

    rows = {
        (r.sel, r.strategy): r
        for r in ext.ivf_prefilter_vs_postfilter_eval(spark, SF_DIR).collect()
    }
    for sel in ("label", "parity"):
        pre, post = rows[(sel, "pre")], rows[(sel, "post")]
        assert pre.recall_micro >= post.recall_micro, sel
        assert pre.n_returned == pre.n_true  # pre never under-fills
        assert post.n_returned < post.n_true, sel
    # the narrower filter hurts post more
    assert (
        rows[("label", "post")].recall_micro
        < rows[("parity", "post")].recall_micro
    )


def test_group_pca_single_label_exchange(spark):
    """embedding_group_pca: one projection scan + one label-keyed
    aggregate + a bounded closed-form projection — exactly one
    exchange pair (partial/final HashAggregate), no window, no join,
    no driver eigensolve loop in the plan."""
    from pyspark_data_processing_challenge_spark.queries import advanced

    df = advanced.embedding_group_pca(spark, SF_DIR)
    plan = plans.executed_plan(df)
    assert plans.exchange_count(df) <= 2  # label agg (+AQE coalesce)
    assert "Window" not in plan and "Join" not in plan
    assert plan.count("HashAggregate") >= 2  # map-side combined


def test_pca_project_is_shuffle_free_map(spark):
    # the PCA-reduce transform binds mean/loadings as array literals:
    # a pure projection — zero exchanges, no window, no join
    from pyspark_data_processing_challenge_spark.queries import advanced

    df = advanced.embedding_pca_project(spark, SF_DIR)
    plan = plans.executed_plan(df)
    assert plans.exchange_count(df) == 0
    assert "Window" not in plan and "Join" not in plan


def test_moment_sums_single_two_phase_aggregate(spark):
    # the distributed PCA pass: d^2/2 per-row products reduce through
    # ONE partial+final hash aggregate — the shuffle carries only the
    # ~2k moment rows per partition, never the corpus
    from pyspark_data_processing_challenge_spark.operators import (
        similarity as sim,
    )

    m = sim.embedding_moment_sums(
        spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    )
    assert plans.exchange_count(m) == 1
    assert plans.executed_plan(m).count("HashAggregate") >= 2


def test_split_leakage_join_shape(spark):
    # gram-key equi-join against the distinct train gram set: no
    # sort-merge join, no cartesian, bounded exchange count
    df = llm.split_ngram_leakage(spark, SF_DIR)
    plan = plans.executed_plan(df)
    assert plans.sort_merge_join_count(df) == 0
    assert "Cartesian" not in plan
    assert plans.exchange_count(df) <= 4


def test_softdedup_weights_single_window_shape(spark):
    # cluster sizes via ONE window over the cluster partitioning:
    # component map broadcast in, no join-back aggregate, one exchange
    df = llm.docs_softdedup_weights(spark, SF_DIR)
    assert plans.broadcast_join_count(df) >= 1
    assert plans.sort_merge_join_count(df) == 0
    assert plans.exchange_count(df) <= 1


def test_embedding_decontaminate_broadcast_probe(spark):
    # fixed-size bench set broadcast into ONE corpus scan (nested-loop
    # join streams the corpus); the per-vector argmax window is the
    # only exchange
    df = llm.embedding_decontaminate(spark, SF_DIR)
    plan = plans.executed_plan(df)
    assert "BroadcastNestedLoopJoin" in plan
    assert plans.sort_merge_join_count(df) == 0
    assert plans.exchange_count(df) <= 1


def test_link_prediction_takeordered_no_cartesian(spark):
    # deterministic top-N must plan as TakeOrdered (never a global
    # sort of all candidate pairs); every join broadcast-sized; the
    # pair-bounded edge list is localCheckpointed so the basket
    # enumeration runs once, not once per plan branch
    from pyspark_data_processing_challenge_spark.queries import analytics

    df = analytics.copurchase_link_prediction(spark, SF_DIR)
    plan = plans.executed_plan(df)
    assert "TakeOrderedAndProject" in plan
    assert "Cartesian" not in plan
    assert plans.sort_merge_join_count(df) == 0
    assert plans.exchange_count(df) <= 4


def test_cluster_split_call_graph_has_no_driver_collect():
    """VERDICT r13 #1: the cluster-split family's CC label table must
    stay DISTRIBUTED — an UNGATED .collect() of it is bounded by the
    number of docs in near-dup pairs, i.e. a corpus-fraction-sized
    driver pull at crawl-scale duplicate rates. Source-lint every
    function in the family's call graph (constructors, CC operators,
    split assign, incremental minhash) for driver collects;
    toPandas/toLocalIterator covered too. The memoized label frames
    are localCheckpointed DataFrames, which materialize on EXECUTORS,
    not the driver.

    r17 amendment (guide §1.2): ``graph._driver_components`` is the
    ONE sanctioned pull — the exact small-graph fast path, reachable
    only behind a MEASURED ``count()`` gate
    (``_DRIVER_CC_MAX_EDGES``-bounded, <= ~32 MB, the same driver
    budget ``cluster_canonical``'s F.broadcast of the same table
    already commits), so at crawl-scale duplicate rates the
    distributed loop still runs. This test pins (a) every OTHER
    function in the call graph stays pull-free, (b) the gate actually
    sits between the count and the pull in connected_components, and
    (c) the distributed loop itself (_cc_loop) stays clean."""
    import inspect

    from pyspark_data_processing_challenge_spark.operators import (
        curation,
        dedup,
        graph,
    )

    fns = [
        llm._perturbed_docs,
        llm.minhash_near_dup,
        llm._cluster_keyed_corpus,
        llm._inc_cluster_components,
        llm.split_cluster_assign,
        llm.split_cluster_leakage_eval,
        llm.split_cluster_assign_incremental,
        llm.split_balance_report,
        graph.connected_components,
        graph._cc_loop,
        graph.incremental_components,
        curation.split_assign,
        dedup.incremental_minhash_near_duplicates,
    ]
    offenders = []
    for fn in fns:
        src = inspect.getsource(fn)
        if ".collect(" in src or ".toPandas(" in src or ".toLocalIterator(" in src:
            offenders.append(fn.__qualname__)
    assert not offenders, f"driver-side pulls in cluster-split call graph: {offenders}"
    # the sanctioned pull: measured-count gate precedes _driver_components
    cc_src = inspect.getsource(graph.connected_components)
    assert "n_edges = fwd.count()" in cc_src
    assert cc_src.index("n_edges = fwd.count()") < cc_src.index(
        "_driver_components("
    )
    assert "n_edges <= _DRIVER_CC_MAX_EDGES" in cc_src
    assert graph._DRIVER_CC_MAX_EDGES <= 4_000_000  # pull stays ~tens of MB


def test_sql_q17_scalar_subquery_decorrelates_to_agg_join(spark):
    """VERDICT r13 #4: the correlated scalar subquery (per-part avg
    qty) must execute as the RewriteCorrelatedScalarSubquery shape —
    an aggregate of lineitem joined back on l_partkey — never a
    per-row subquery or a nested loop."""
    from pyspark_data_processing_challenge_spark.queries import relational

    df = relational.QUERIES["sql_small_qty_revenue"](spark, SF_DIR)
    plan = plans.executed_plan(df)
    assert "Subquery" not in plan  # fully decorrelated, no per-row eval
    assert "Cartesian" not in plan and "NestedLoop" not in plan
    # the rewrite's fingerprint: the avg aggregate sits under a join
    # keyed on l_partkey (plus the part dim join) — two equi-joins total
    assert plan.count("Join") == 2
    assert plan.count("HashAggregate") >= 4  # partial+final x (avg, group)


def test_sql_q21_exists_pair_decorrelates_to_semi_anti(spark):
    """The EXISTS / NOT EXISTS pair must plan as one left-semi and one
    left-anti join against lineitem — the hardest standard
    decorrelation — with no per-row subquery artifact."""
    from pyspark_data_processing_challenge_spark.queries import relational

    df = relational.QUERIES["sql_lone_late_supplier"](spark, SF_DIR)
    plan = plans.executed_plan(df)
    assert plan.count("LeftSemi") == 1
    assert plan.count("LeftAnti") == 1
    assert "Subquery" not in plan
    assert "Cartesian" not in plan and "NestedLoop" not in plan


def test_sql_q18_in_over_having_decorrelates(spark):
    """The IN-over-HAVING subquery must become a join against the
    aggregated orderkey set (Catalyst may legally strengthen semi to
    inner since aggregate keys are distinct) — never a per-row
    subquery; the HAVING aggregate must survive as a pre-join
    HashAggregate on l_orderkey."""
    from pyspark_data_processing_challenge_spark.queries import relational

    df = relational.QUERIES["sql_big_order_customers"](spark, SF_DIR)
    plan = plans.executed_plan(df)
    assert "Subquery" not in plan
    assert "Cartesian" not in plan and "NestedLoop" not in plan
    assert plan.count("Join") == 2  # agg'd orderkeys ⋈ orders ⋈ customer
    assert "HashAggregate" in plan


def test_sql_q22_anti_join_and_scalar_once(spark):
    """NOT EXISTS must plan as a left-anti join; the global-mean
    scalar subquery is UNcorrelated so it may survive as a Subquery
    node — but it must be the scalar-once kind (no join-keyed
    correlation), and nothing may degenerate to a nested loop."""
    from pyspark_data_processing_challenge_spark.queries import relational

    df = relational.QUERIES["sql_dormant_rich_customers"](spark, SF_DIR)
    plan = plans.executed_plan(df)
    assert plan.count("LeftAnti") == 1
    assert "Cartesian" not in plan and "NestedLoop" not in plan
    # uncorrelated scalar: executed once as its own subquery stage
    # (one distinct subquery id, however many plan lines mention it —
    # it shows in the Filter expr, the node, and the pushed scan
    # description); a correlated leftover would add ids per reference
    import re

    assert len(set(re.findall(r"subquery#(\d+)", plan))) == 1


def test_decontam_bloom_probe_is_broadcast_only(spark):
    """The Bloom screen's value IS its plan shape: the corpus side
    must reach the per-doc aggregate through broadcast word-joins
    only — a single sort-merge join would mean the gram keys shuffled
    and the 16 KiB filter bought nothing."""
    df = llm.decontam_bloom_screen(spark, SF_DIR)
    plan = plans.executed_plan(df)
    from pyspark_data_processing_challenge_spark.operators.bloom import K_HASHES

    assert plans.sort_merge_join_count(df) == 0
    assert plans.broadcast_join_count(df) >= K_HASHES
    assert "Cartesian" not in plan
    # exchanges exist only on the bounded BENCHMARK build side (gram
    # distinct + word-table aggregate, replicated under each broadcast
    # branch) and in spread/aggregate — never a gram-keyed corpus
    # shuffle, which the zero-SMJ assert above pins


def test_narrow_dedup_shuffles_only_fingerprints(spark):
    """The narrow-shuffle exact-dedup contract (VERDICT r15 #2): the
    only shuffles are (a) the 16-byte fingerprint count aggregate and
    (b) the duplicate-bounded survivor dedup — unique full-width rows
    must stream through broadcast anti/semi probes with no exchange, so
    the job's shuffle-write bytes are ~key-width, not row-width."""
    from pyspark_data_processing_challenge_spark.operators import dedup as dd

    wide = spark.range(10000).selectExpr(
        "id as k", "repeat('x', 100) as pad", "id % 7 as v"
    )
    df = dd.drop_duplicate_rows(wide, shuffle="narrow")
    plan = plans.executed_plan(df)
    assert "SortMergeJoin" not in plan
    assert "ShuffledHashJoin" not in plan
    assert plans.broadcast_join_count(df) == 2  # anti (uniques) + semi
    # shuffle exchanges in the INITIAL plan: the fp-count aggregate
    # (printed twice — once under each broadcast; the runtime collapses
    # identical subtrees into one reused shuffle stage) + the
    # duplicate-bounded survivor dedup, nothing else
    assert plans.exchange_count(df) == 3
    # every shuffle exchange partitions on the fingerprint pair only —
    # a full-width hashpartitioning here would be the wide form leaking
    # back in
    import re as _re

    for m in _re.findall(r"Exchange hashpartitioning\(([^)]*)\)", plan):
        assert "__fp0" in m and "pad" not in m


def test_banded_pair_operators_are_one_lazy_plan(spark):
    """The banded near-dup operators return one lazy plan: no cached
    frame (InMemoryRelation) inside it, one blocked self-join for the
    MinHash pairs and one grouped Arrow kernel for the pHash pairs —
    cold and hot buckets share the replicated keys, so there is no
    second join or kernel and no union of the two."""
    import re

    from pyspark_data_processing_challenge_spark.operators import dedup, multimodal

    docs = llm._perturbed_docs(spark, SF_DIR)
    mh = plans.optimized_plan(dedup.minhash_near_duplicates(docs, "text", "doc_id"))
    hashes = spark.createDataFrame([(1, 2, 3)], "media_id long, h_hi long, h_lo long")
    ph = plans.optimized_plan(multimodal.phash_hamming_pairs(hashes))
    assert "InMemoryRelation" not in mh
    assert "InMemoryRelation" not in ph
    assert len(re.findall(r"(?m)^[\s:+|-]*Join \w+", mh)) == 1
    assert ph.count("FlatMapGroupsInArrow") == 1


def test_operator_persists_have_an_owner():
    """Structure lint: an operator returns a lazy plan and owns no
    cache. ``.persist(``/``.cache(`` in operators/ appears only in the
    incremental ingest functions, whose callers receive the frame
    through ``cache_into`` and unpersist it after their last action,
    and in the two set-similarity joins whose shingle frame feeds three
    consumers that exchange reuse does not merge. Every such function
    takes ``cache_into``, so a new unowned operator cache fails here."""
    import ast
    import pathlib

    from pyspark_data_processing_challenge_spark import operators

    sites, total = {}, 0
    for path in sorted(pathlib.Path(operators.__file__).parent.glob("*.py")):
        src = path.read_text()
        total += src.count(".persist(") + src.count(".cache(")
        for node in ast.parse(src).body:
            if isinstance(node, ast.FunctionDef):
                seg = ast.get_source_segment(src, node)
                n = seg.count(".persist(") + seg.count(".cache(")
                if n:
                    sites[f"{path.stem}.{node.name}"] = n
                    assert "cache_into" in [a.arg for a in node.args.kwonlyargs]
    assert sites == {
        "dedup.incremental_exact_dedup": 1,
        "dedup.incremental_minhash_near_duplicates": 1,
        "dedup.incremental_duplicated_spans": 2,
        "dedup.prefix_filter_pairs": 1,
        "dedup.containment_pairs": 1,
        "multimodal.incremental_phash_near_duplicates": 1,
        "similarity.incremental_semdedup_pairs_assigned": 1,
        "similarity.incremental_ivfpq_postings": 1,
    }
    assert total == sum(sites.values())
