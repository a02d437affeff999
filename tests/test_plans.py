"""Physical-plan contracts — the 100 TB posture, enforced by test.

These assert the *shape* of the plan Catalyst produces, not results:
pushdown reaching the parquet scan, column pruning, dimensions broadcast
(never a shuffle of the fact for a dim join), top-k compiling to
TakeOrderedAndProject, and single-shuffle aggregates.  A regression here is
invisible at test scale and catastrophic at 100×.
"""

import io
import contextlib

from glue_etl_nyc_yellow_taxi_analysis_spark.queries import QUERIES


def _plan(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_scan_pushdown_and_pruning(spark, sf_dir):
    plan = _plan(QUERIES["q_scan_project_filter"](spark, sf_dir))
    assert "GreaterThanOrEqual(l_quantity,10.0)" in plan
    assert "GreaterThan(l_extendedprice,20000.0)" in plan
    # only the 5 projected columns reach the scan
    assert "l_shipdate" not in plan.split("ReadSchema")[1].splitlines()[0]


def test_star_agg_broadcasts_all_dims(spark, sf_dir):
    plan = _plan(QUERIES["q_star_agg"](spark, sf_dir))
    # customer/nation/region joins must be broadcast-hash, never sort-merge
    assert plan.count("BroadcastHashJoin") >= 3
    assert "SortMergeJoin" not in plan
    # at most two shuffles: the spread() round-robin widening of the
    # narrow testdata scan + the partial→final aggregate exchange
    assert plan.count("+- Exchange") <= 2


def test_join_broadcast_dim_no_shuffle(spark, sf_dir):
    plan = _plan(QUERIES["q_join_broadcast_dim"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "+- Exchange" not in plan  # row-level output: zero shuffles


def test_topk_is_take_ordered(spark, sf_dir):
    plan = _plan(QUERIES["q_sort_limit_topk"](spark, sf_dir))
    # per-partition top-k + merge, not a global sort
    assert "TakeOrderedAndProject" in plan
    assert "Sort " not in plan


def test_session_windows_single_shuffle(spark, sf_dir):
    plan = _plan(QUERIES["q_session_windows"](spark, sf_dir))
    # lag window + running sum + groupBy all reuse ONE exchange on user_id
    assert plan.count("+- Exchange") == 1


def test_grouping_sets_single_shuffle(spark, sf_dir):
    plan = _plan(QUERIES["q_grouping_sets"](spark, sf_dir))
    # grouping sets expand map-side; ONE exchange carries all three levels
    assert "Expand" in plan
    assert plan.count("+- Exchange") == 1


def test_conditional_agg_single_shuffle(spark, sf_dir):
    plan = _plan(QUERIES["q_conditional_agg"](spark, sf_dir))
    # every conditional aggregate is partial-aggregable: map-side combine
    # (partial HashAggregate below the exchange, final above), then one
    # shuffle of tiny partials
    assert plan.count("+- HashAggregate") == 2
    assert plan.count("+- Exchange") == 1


def test_sliding_windows_single_shuffle(spark, sf_dir):
    plan = _plan(QUERIES["q_sliding_windows"](spark, sf_dir))
    # the 2-windows-per-event fan-out is an Expand BEFORE the partial agg —
    # no extra shuffle for the overlap
    assert "Expand" in plan
    assert plan.count("+- Exchange") == 1


def test_sql_star_join_broadcasts_dims(spark, sf_dir):
    plan = _plan(QUERIES["q_sql_local_supplier"](spark, sf_dir))
    # region/nation/supplier/customer sides all broadcast; never sort-merge
    assert plan.count("BroadcastHashJoin") >= 4
    assert "SortMergeJoin" not in plan


def test_moving_avg_prereduces_before_window(spark, sf_dir):
    plan = _plan(QUERIES["q_moving_avg"](spark, sf_dir))
    # the fact is aggregated to O(days) rows BEFORE the unpartitioned window
    # (formatted-plan node ids are execution order: agg id < window id)
    import re

    agg_id = min(int(m) for m in re.findall(r"\((\d+)\) HashAggregate", plan))
    win_id = min(int(m) for m in re.findall(r"\((\d+)\) Window", plan))
    assert agg_id < win_id
    assert plan.count("+- Exchange") == 2


def test_range_partition_sorted_layout(spark, sf_dir):
    from glue_etl_nyc_yellow_taxi_analysis_spark.operators.partitioning import (
        range_partition_sorted,
    )
    from glue_etl_nyc_yellow_taxi_analysis_spark.queries import _t

    li = _t(spark, sf_dir, "lineitem").select("l_shipdate", "l_orderkey")
    plan = _plan(range_partition_sorted(li, ["l_shipdate"], 8))
    # range exchange (sampled boundaries) + in-partition sort, ONE exchange
    assert "rangepartitioning" in plan.lower()
    assert plan.count("+- Exchange") == 1
    assert "Sort " in plan or "Sort [" in plan


def test_hash_sample_no_shuffle(spark, sf_dir):
    plan = _plan(QUERIES["q_hash_sample"](spark, sf_dir))
    # deterministic md5-bucket sampling is a pure scan-stage filter
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_boilerplate_partial_aggregates(spark, sf_dir):
    plan = _plan(QUERIES["q_boilerplate_ratio"](spark, sf_dir))
    # shingle document-frequency must partial-count map-side before the
    # shuffle (the heavy-hitter-shingle survival requirement at scale)
    assert "partial_count" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_embedding_quantize_broadcasts_bounds(spark, sf_dir):
    plan = _plan(QUERIES["q_embedding_quantize"](spark, sf_dir))
    # per-dim bounds are an O(dims) broadcast; quantization is one scan
    assert "BroadcastExchange" in plan or "BroadcastNestedLoopJoin" in plan
    assert "SortMergeJoin" not in plan


def test_sequence_packing_windows_per_bucket(spark, sf_dir):
    plan = _plan(QUERIES["q_sequence_packing"](spark, sf_dir))
    # the running sum windows over __bucket partitions, never an empty
    # PARTITION BY (the one-task global sort this operator exists to avoid)
    assert "__bucket" in plan


def test_minhash_md5_lane_stays_jvm_side(spark, sf_dir):
    plan = _plan(QUERIES["q_minhash_dedup_oracle"](spark, sf_dir))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_winnow_staged_single_hash_projection(spark, sf_dir):
    # the md5 hash array must be projected ONCE (staged), not re-derived
    # inside the window lambda: the plan's Project nodes may mention md5 at
    # most twice (hash build + any collapsed alias), never once per window
    # position (the O(n²) inline form)
    plan = _plan(QUERIES["q_winnow_fingerprints"](spark, sf_dir))
    assert plan.count("md5") <= 2, plan.count("md5")


def test_semdedup_assignment_materialized_once(spark, sf_dir):
    # the k×N assignment cross join must be checkpointed: the final plan
    # reads the materialized RDD (Scan ExistingRDD), never re-running the
    # BroadcastNestedLoopJoin per consumer (measured 18 exchanges → 4)
    plan = _plan(QUERIES["q_semdedup"](spark, sf_dir))
    assert "BroadcastNestedLoopJoin" not in plan
    assert plan.count("Scan ExistingRDD") >= 2  # both self-join sides


def test_line_dedup_no_window(spark, sf_dir):
    # document reconstruction is a keyed aggregate over struct(pos, seg)
    # with array_sort — a Window here would mean a per-doc sort task
    plan = _plan(QUERIES["q_line_dedup"](spark, sf_dir))
    assert "Window" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_bpe_apply_broadcasts_encoding(spark, sf_dir):
    # the trained word→encoding table is vocab-bounded: the corpus join
    # must broadcast it, never shuffle the exploded token stream
    plan = _plan(QUERIES["q_bpe_apply"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_quality_classifier_single_scan_no_python(spark, sf_dir):
    # one scan of documents (formatted explain lists the node in the tree
    # AND the numbered details section), all features from JVM expressions
    plan = _plan(QUERIES["q_quality_classifier"](spark, sf_dir))
    assert plan.count("Scan parquet") <= 2
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_train_split_single_pass_no_python(spark, sf_dir):
    # the md5 carve is a pure map over one scan — JVM expressions only
    plan = _plan(QUERIES["q_train_split"](spark, sf_dir))
    assert plan.count("Scan parquet") <= 2
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_containment_banded_never_cartesian(spark, sf_dir):
    # candidates come from the band-bucket equi-join: a cartesian here
    # would be the all-pairs blowup the LSH banding exists to avoid
    plan = _plan(QUERIES["q_containment_dedup"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_pca_power_jvm_side_no_covariance(spark, sf_dir):
    # matrix-free v' = X^T(Xv): the only join is the broadcast of the
    # one-row direction vector; nothing Python, no d x d materialization
    plan = _plan(QUERIES["q_pca_power"](spark, sf_dir))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan


def test_compaction_plan_one_shuffle(spark, sf_dir):
    # planner = one scan + one keyed aggregate: a single exchange
    plan = _plan(QUERIES["q_compaction_plan"](spark, sf_dir))
    assert plan.count("+- Exchange") <= 1
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_quality_calibration_no_rank_window(spark, sf_dir):
    # bands are by VALUE (floor(logit/100)), never ntile/rank — a global
    # rank window would serialize the corpus through one task
    plan = _plan(QUERIES["q_quality_calibration"](spark, sf_dir))
    assert "Window" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_doc_ppl_bigram_keyed_shuffles_only(spark, sf_dir):
    # corpus counts and the per-doc fold shuffle on bigram/doc keys; no
    # window, no Python, no cartesian
    plan = _plan(QUERIES["q_doc_ppl_bigram"](spark, sf_dir))
    assert "Window" not in plan
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_global_shuffle_window_partitioned_by_shard(spark, sf_dir):
    # the permutation window must be PARTITIONED (parallel across shards)
    # — a global ORDER BY / single-partition window would serialize the
    # whole corpus through one task at scale
    plan = _plan(QUERIES["q_global_shuffle"](spark, sf_dir))
    assert "Window" in plan
    # a single-partition window materializes as Exchange SinglePartition
    assert "SinglePartition" not in plan
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_dedup_recall_no_cartesian_no_python(spark, sf_dir):
    # ground truth joins on the source block, candidates on band hashes —
    # every join keyed; the only cross joins are the three 1-row count
    # scalars folded into the output row
    plan = _plan(QUERIES["q_dedup_recall"](spark, sf_dir))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "Window" not in plan


def test_embedding_dim_stats_single_keyed_shuffle(spark, sf_dir):
    # one explode, one aggregate on the dim key: exactly one exchange
    # hashpartitioning(dim) and nothing else moves data
    plan = _plan(QUERIES["q_embedding_dim_stats"](spark, sf_dir))
    # tree section: the input spread (round-robin) plus ONE keyed agg
    # exchange — partial aggregation runs map-side before it
    tree = plan.split("(1)")[0]
    assert tree.count("Exchange") <= 2
    assert "SinglePartition" not in plan
    assert "Window" not in plan
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_pmi_bigrams_broadcast_total_keyed_margins(spark, sf_dir):
    # the corpus total joins via broadcast (1 row); margins join keyed on
    # w1/w2 — no single-partition exchange, no window, no python
    plan = _plan(QUERIES["q_pmi_bigrams"](spark, sf_dir))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    assert "Window" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_salt_plan_single_agg_broadcast_total(spark, sf_dir):
    plan = _plan(QUERIES["q_salt_plan"](spark, sf_dir))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    assert "Window" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_dup_graph_degree_no_python_no_window(spark, sf_dir):
    plan = _plan(QUERIES["q_dup_graph_degree"](spark, sf_dir))
    assert "Window" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_zipf_fit_topk_never_full_sort(spark, sf_dir):
    # the top-256 carve must compile to TakeOrderedAndProject; the only
    # window then runs over those 256 rows
    plan = _plan(QUERIES["q_zipf_fit"](spark, sf_dir))
    assert "TakeOrderedAndProject" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_corpus_drift_keyed_agg_broadcast_totals(spark, sf_dir):
    # token-keyed pivot aggregate + broadcast single-row totals; no
    # window, no python, no cartesian of data-sized inputs
    plan = _plan(QUERIES["q_corpus_drift_js"](spark, sf_dir))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    assert "Window" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_dedup_incremental_asymmetric_probe(spark, sf_dir):
    # the batch probes the base index — keyed joins only, no window, no
    # python; base x base pairs never form
    plan = _plan(QUERIES["q_dedup_incremental"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "Window" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_substr_dedup_keyed_shuffles_no_python(spark, sf_dir):
    # span count on the 16-byte hash key, fold-back on doc_id — keyed
    # shuffles only; reconstruction is JVM higher-order functions
    plan = _plan(QUERIES["q_substr_dedup"](spark, sf_dir))
    assert "Window" not in plan
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_tokenizer_oov_broadcast_vocab(spark, sf_dir):
    # the top-V carve is TakeOrderedAndProject; membership joins broadcast
    # against the token stream — the stream never reshuffles for lookup
    plan = _plan(QUERIES["q_tokenizer_oov"](spark, sf_dir))
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_heaps_fit_bounded_window(spark, sf_dir):
    # the cumulative window runs over ten bucket rows (bounded by
    # construction); the corpus-sized work is two keyed aggregates
    plan = _plan(QUERIES["q_heaps_fit"](spark, sf_dir))
    assert "Window" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_ann_recall_oracle_broadcast_planes(spark, sf_dir):
    # the signature stage joins BROADCAST plane rows (plan size O(1) in
    # table count — the 4096-term literal form costs seconds of codegen);
    # candidates and scoring join keyed/broadcast, python-free
    plan = _plan(QUERIES["q_ann_recall_oracle"](spark, sf_dir))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_span_mask_plan_pure_map_no_shuffle(spark, sf_dir):
    # objective construction rides the scan: no exchange beyond the input
    # spread, no join, no window, no python
    plan = _plan(QUERIES["q_span_mask_plan"](spark, sf_dir))
    tree = plan.split("(1)")[0]
    assert tree.count("Exchange") <= 1  # the spread() round-robin only
    assert "Join" not in plan
    assert "Window" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_dataset_card_broadcast_facets(spark, sf_dir):
    # three single-pass reductions folded with broadcast one-row joins
    plan = _plan(QUERIES["q_dataset_card"](spark, sf_dir))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    assert "SortMergeJoin" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_image_blockhash_materializes_before_self_join(spark, sf_dir):
    # the banded table must be a materialized RDD before the self-join —
    # codegen would otherwise re-derive the full per-byte fold per joined
    # row (measured as a hang at sf0.001)
    plan = _plan(QUERIES["q_image_blockhash_neardup"](spark, sf_dir))
    assert plan.count("Scan ExistingRDD") >= 2
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_video_scene_cut_pure_map(spark, sf_dir):
    # shot segmentation rides the scan: no join, no window; the only
    # exchange is the input spread
    plan = _plan(QUERIES["q_video_scene_cut"](spark, sf_dir))
    tree = plan.split("(1)")[0]
    assert tree.count("Exchange") <= 1
    assert "Join" not in plan
    assert "Window" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_dedup_index_persist_bucketed_probe(spark, sf_dir):
    # the persisted band index must read bucketed (shuffle-free on the
    # index side) — only the small probe side exchanges
    plan = _plan(QUERIES["q_dedup_index_persist"](spark, sf_dir))
    assert "Bucketed: true" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_hybrid_retrieval_broadcasts_and_top_k_carves(spark, sf_dir):
    """Both retrieval channels must carve their top-N with
    TakeOrderedAndProject (per-partition top-k) and every small side
    (df/stats/query vector/fused ranks) must broadcast — no sort-merge
    join anywhere in the fusion."""
    plan = _plan(QUERIES["q_hybrid_retrieval"](spark, sf_dir))
    assert plan.count("TakeOrderedAndProject") >= 2  # channel carves + final
    # corpus-sized joins (tf⋈df/stats, dense scoring) all broadcast; a
    # sort-merge join may appear ONLY as the post-carve FullOuter fusion
    # of the two ≤20-row rank lists (broadcast cannot do full outer)
    import re

    smj_types = set(re.findall(r"SortMergeJoin (\w+)", plan))
    assert smj_types <= {"FullOuter"}, smj_types
    assert "CartesianProduct" not in plan


def test_contrastive_pairs_broadcast_anchors_single_window(spark, sf_dir):
    """Anchors broadcast into the scoring pass (the corpus never
    shuffles for the join); the only wide exchange feeds the
    per-(anchor, role) top-k window."""
    plan = _plan(QUERIES["q_contrastive_pairs"](spark, sf_dir))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    # one partial window exchange (+ AQE variants) — never a per-join shuffle
    assert plan.count("+- Exchange") <= 2


def test_batch_padding_plan_single_keyed_shuffle(spark, sf_dir):
    """Token counting is the only corpus-sized shuffle; bucket math and
    the per-bucket report add at most the final O(|buckets|) exchange
    (plus the spread() round-robin widening of the narrow testdata
    scan), with zero Python anywhere."""
    plan = _plan(QUERIES["q_batch_padding_plan"](spark, sf_dir))
    assert plan.count("+- Exchange") <= 3
    assert "Python" not in plan and "BatchEvalPython" not in plan


def test_bloom_semijoin_broadcast_probes_only(spark, sf_dir):
    """The Bloom filter words and the truth dim must BROADCAST to the
    fact scan (the whole point: the fact side never shuffles for a
    runtime filter), with every expression JVM-side."""
    plan = _plan(QUERIES["q_bloom_semijoin"](spark, sf_dir))
    assert plan.count("BroadcastHashJoin") >= 4  # 3 word probes + truth
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "Python" not in plan and "BatchEvalPython" not in plan


def test_cms_heavy_hitters_fixed_sketch_broadcast(spark, sf_dir):
    """The 4×1024 counter table broadcasts back to the candidate
    scoring pass; the only corpus-sized shuffle carries one row per
    DISTINCT token (the CMS-linearity pre-combine)."""
    plan = _plan(QUERIES["q_cms_heavy_hitters"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "Python" not in plan and "BatchEvalPython" not in plan
    # ranked output compiles to per-partition top-k, not a global sort
    assert "TakeOrderedAndProject" in plan


def test_dp_noisy_counts_single_shuffle_no_python(spark, sf_dir):
    """One keyed count exchange; the 65-entry inverse-CDF is constant
    literals folded into the projection — no Python, no extra shuffle
    (+1 for the spread() widening of the narrow testdata scan)."""
    plan = _plan(QUERIES["q_dp_noisy_counts"](spark, sf_dir))
    assert plan.count("+- Exchange") <= 2
    assert "Python" not in plan and "BatchEvalPython" not in plan


def test_bloom_pruned_join_prunes_before_exchange(spark, sf_dir):
    """The bloom probe (3 broadcast word-joins) must sit UPSTREAM of the
    exact join, and on a broadcastable dim the whole pipeline stays
    exchange-light with zero sort-merge and zero Python."""
    plan = _plan(QUERIES["q_bloom_pruned_join"](spark, sf_dir))
    assert plan.count("BroadcastHashJoin") >= 4  # 3 probes + the dim join
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "Python" not in plan and "BatchEvalPython" not in plan


def test_edit_distance_topk_value_space_collapse(spark, sf_dir):
    """The capped fuzzy-match lane must pair DISTINCT NAMES, never rows:
    the value-space candidate table rides a broadcast back onto parts
    (sf1 growth 0.99× vs 23.7× for the row-pair form), and the DP join
    is over two distinct projections — so the plan carries ≥2
    aggregates (distinct + the candidate-array build), a broadcast
    join, and NO sort-merge pair join of the part table with itself."""
    plan = _plan(QUERIES["q_edit_distance_topk"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert plan.count("HashAggregate") >= 2
    assert "levenshtein" in plan  # the DP survived into the value space
    # the salted two-phase min-k: two Window operators, none global
    assert plan.count("Window") >= 2


def test_embedding_neardup_banded_bucket_join(spark, sf_dir):
    """The banded lane's candidate self-join must key on (block, table,
    sig) — an equi-join, never a cartesian — and the hyperplanes must
    ride as a BROADCAST TABLE (one bounded 64-row BNLJ fan-out folded
    by a keyed aggregate), not as plan literals: the literal form
    measured 6.0s at sf0.1, almost all codegen of a 4096-literal tree."""
    plan = _plan(QUERIES["q_embedding_neardup_banded"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    # signatures are materialized (computed ONCE for both self-join
    # sides), so the final plan joins two scans of the checkpointed
    # table with an equi-join on the signature keys
    assert "BroadcastNestedLoopJoin" not in plan
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan
    assert plan.count("Scan ExistingRDD") >= 2  # the checkpointed sigs


def test_pq_adc_search_is_broadcast_only(spark, sf_dir):
    """The PQ search plan must never shuffle or sort-merge the corpus:
    codebook and distance table are broadcast, the code table streams
    once, and the only exchange is the per-(query, id) sum + top-k.
    A SortMergeJoin here means a mis-broadcast distance table — invisible
    at test scale, a corpus-wide shuffle at 100 TB."""
    from glue_etl_nyc_yellow_taxi_analysis_spark.queries_ext40 import (
        _PQ_ITERS,
        _PQ_K,
        _PQ_M,
        _PQ_QIDS,
    )
    from glue_etl_nyc_yellow_taxi_analysis_spark.operators import pq
    from glue_etl_nyc_yellow_taxi_analysis_spark.queries import _t
    from pyspark.sql import functions as F

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id").isin(*_PQ_QIDS)).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    cb = pq.pq_train(emb, m=_PQ_M, k=_PQ_K, iters=_PQ_ITERS)
    plan = _plan(pq.pq_adc_topk(emb, queries, cb, k=10, m=_PQ_M))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_pq_encode_single_scan_broadcast(spark, sf_dir):
    """Encoding is one corpus scan against the codebook folded into a
    single broadcast map row (r11): the per-row array_min argmin needs
    no join-by-sub, no keyed aggregate and — the r11 contract — NO
    exchange of the corpus at all; no sort-merge, no cartesian."""
    from glue_etl_nyc_yellow_taxi_analysis_spark.queries_ext40 import (
        _PQ_ITERS,
        _PQ_K,
        _PQ_M,
    )
    from glue_etl_nyc_yellow_taxi_analysis_spark.operators import pq
    from glue_etl_nyc_yellow_taxi_analysis_spark.queries import _t

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    cb = pq.pq_train(emb, m=_PQ_M, k=_PQ_K, iters=_PQ_ITERS)
    plan = _plan(pq.pq_encode(emb, cb, m=_PQ_M))
    assert "BroadcastNestedLoopJoin" in plan  # the 1-row codebook map
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    # the corpus side never shuffles: the only shuffle Exchanges belong
    # to the m·k-row codebook fold feeding the BroadcastExchange (a
    # corpus exchange would add a third)
    tree = plan.split("\n\n")[0]
    shuffles = tree.count("Exchange") - tree.count("BroadcastExchange")
    assert shuffles <= 2, tree
