"""Physical-plan property tests: the scale-critical plan shapes
(pruning, pushdown, broadcast, TakeOrdered, shuffle counts) asserted
against the executed plan string so a regression in plan quality fails
CI, not just the bench. Complements PERFORMANCE.md's audits."""

from __future__ import annotations

import pytest

from automated_property_data_ingestion_document_pipeline_spark.plans.registry import QUERIES


def plan_of(spark, sf_dir, key: str) -> str:
    return QUERIES[key](spark, sf_dir)._jdf.queryExecution().executedPlan().toString()


def test_star_join_prunes_broadcasts_and_pushes(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "q_star_join")
    # all dims broadcast, fact never sort-merge-joined
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    # join-key null filters pushed into the scans
    assert "PushedFilters: [IsNotNull" in plan
    # column pruning: lineitem's widest columns never read
    assert "l_comment" not in plan and "l_shipinstruct" not in plan


def test_topk_compiles_to_take_ordered(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "q_topk")
    assert "TakeOrderedAndProject" in plan
    assert "Exchange rangepartitioning" not in plan  # no global sort


def test_engagement_pipeline_is_shuffle_free(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "q_engagement_pipeline")
    assert "Exchange hashpartitioning" not in plan  # broadcast joins only
    assert plan.count("from_json") == 1  # parsed exactly once (round 2)


def test_knn_broadcasts_queries_never_shuffles_corpus_scan(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "q_knn")
    assert "Broadcast" in plan
    # the only exchange allowed is the window's partition on query_id
    assert plan.count("Exchange hashpartitioning") <= 1


def test_sort_uses_range_partitioning_not_single_partition(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "q_sort")
    assert "rangepartitioning" in plan  # parallel global sort


def test_exact_dedup_single_exchange(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "q_doc_dedup")
    assert plan.count("Exchange hashpartitioning") == 1  # one shuffle on the hash


@pytest.mark.parametrize("key", ["q_currency_format", "q_langid", "q_quality_score"])
def test_scalar_queries_are_map_only(spark, sf_dir, key):
    plan = plan_of(spark, sf_dir, key)
    assert "Exchange" not in plan  # pure scan + project


def test_tpch_q1_partial_agg_and_pushdown(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "q_sql_tpch_q1")
    # shipdate predicate reaches the parquet scan
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan
    # two-phase aggregation: map-side partial before the single exchange
    assert plan.count("HashAggregate") >= 2
    assert plan.count("Exchange hashpartitioning") == 1
    # column pruning: only the 7 needed lineitem columns scanned
    assert "l_orderkey" not in plan.split("ReadSchema")[1]


def test_tpch_q6_scan_filter_agg_no_hash_shuffle(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "q_sql_tpch_q6")
    # every predicate pushed: shipdate range, discount bounds, quantity
    pushed = plan.split("PushedFilters: ")[1].split("]")[0]
    for col in ("l_shipdate", "l_discount", "l_quantity"):
        assert col in pushed
    # global agg: partial -> single-partition final, no hash exchange
    assert "Exchange hashpartitioning" not in plan


def test_ngram_jaccard_bounded_side_broadcasts(spark, sf_dir):
    # the bounded (doc_id < 60) oracle variant must broadcast one side,
    # never shuffle-join the corpus against itself
    plan = plan_of(spark, sf_dir, "q_ngram_jaccard")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


@pytest.mark.parametrize("key", ["q_asof_join", "q_asof_join_forward"])
def test_asof_join_exactly_one_exchange(spark, sf_dir, key):
    # operators/joins.py asof_join contract: union-merge = exactly ONE
    # shuffle on the key; the r02 verdict flagged a pre-aggregation
    # groupBy that added a second exchange — pin the fix.
    plan = plan_of(spark, sf_dir, key)
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Exchange rangepartitioning" not in plan


def test_tpch_q19_or_predicate_still_prunes_and_pushes(spark, sf_dir):
    # the OR-of-ANDs mixes columns from both sides; Catalyst must still
    # push the per-side implications (quantity bounds on lineitem,
    # brand/size on part) below the join instead of filtering only above
    plan = plan_of(spark, sf_dir, "q_sql_tpch_q19")
    pushed = plan.split("PushedFilters: ")
    assert len(pushed) >= 3  # both scans carry pushed filters
    assert "l_quantity" in plan.split("PushedFilters: ")[1] or "l_quantity" in plan.split("PushedFilters: ")[2]
    # part side is a broadcast, the fact side never sort-merges
    assert "BroadcastHashJoin" in plan


def test_salted_join_key_includes_salt(spark, sf_dir):
    # the join key must include the salt so that IF the planner shuffles
    # (the 100 TB case — here AQE broadcasts the small profile side,
    # which is also correct and not hard-coded away), one hot user
    # spreads over 8 reducers, not 1
    plan = plan_of(spark, sf_dir, "q_salted_join")
    import re

    join_line = next(l for l in plan.splitlines() if "HashJoin" in l)
    assert re.search(r"user_id#\d+L, _salt#\d+", join_line), join_line


def test_pivot_two_phase_agg_with_partial_combine(spark, sf_dir):
    # Spark plans pivot(categories).agg(...) as exact aggregation on
    # (key, category) followed by pivotfirst on key — two exchanges,
    # each preceded by a map-side partial aggregate. Pin that shape
    # (a distinct-discovery pivot would add a third job/scan).
    plan = plan_of(spark, sf_dir, "q_pivot_multi")
    assert plan.count("Exchange hashpartitioning") == 2
    assert plan.count("HashAggregate") == 4  # partial+final, both phases
    assert "pivotfirst" in plan


def test_unigram_logfreq_one_scan_two_shuffles(spark, sf_dir):
    # r03 plan fix: vocab count as an unordered window over tok — ONE
    # corpus scan (the groupBy+join-back form scanned and exploded it
    # twice), one shuffle on tok, one on doc_id with map-side combine
    plan = plan_of(spark, sf_dir, "q_unigram_logfreq")
    assert plan.count("FileScan") == 1
    assert plan.count("Exchange hashpartitioning") == 2
    assert plan.count("HashAggregate") >= 2  # partial+final per-doc agg


def test_domain_mix_is_map_only(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "q_domain_mix")
    assert "Exchange" not in plan  # pure scan + hash-filter


def test_runtime_bloom_filter_prunes_selective_join(spark, sf_dir):
    # Catalyst's runtime bloom-filter injection: a selective filter on
    # the small side of a shuffle join seeds a bloom filter applied to
    # the fact scan, cutting shuffle volume before the join — the
    # runtime analog of static predicate pushdown. Thresholds are
    # lowered to make the local corpus eligible; at warehouse scale the
    # defaults (10 MB creation side) trigger on real dims.
    from pyspark.sql import functions as F

    from automated_property_data_ingestion_document_pipeline_spark import catalog

    spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
    spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold", "10GB")
    spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")  # force shuffle join
    try:
        li = catalog.load(spark, sf_dir, "lineitem")
        orders = catalog.load(spark, sf_dir, "orders").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        j = li.join(orders, li.l_orderkey == orders.o_orderkey)
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "bloom_filter" in plan.lower() or "BloomFilter" in plan, plan[:1500]
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        spark.conf.unset("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold")
        spark.conf.unset("spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold")


def test_next_greater_is_window_not_nested_loop(spark, sf_dir):
    # the whole point of the bounded-horizon reformulation: no
    # BroadcastNestedLoopJoin (the LATERAL form's plan), one window sort
    plan = plan_of(spark, sf_dir, "q_next_greater")
    assert "NestedLoop" not in plan
    assert plan.count("Exchange hashpartitioning") == 1
    assert "WindowExec" in plan or "Window" in plan


def test_pattern_match_single_aggregation_exchange(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "q_pattern_match")
    assert plan.count("Exchange hashpartitioning") == 1
    assert "NestedLoop" not in plan


def test_asof_nearest_two_exchanges_no_inequality_join(spark, sf_dir):
    # two directional union-merges = two key shuffles; never a range
    # self-join
    plan = plan_of(spark, sf_dir, "q_asof_nearest")
    assert plan.count("Exchange hashpartitioning") <= 3
    assert "NestedLoop" not in plan and "SortMergeJoin" not in plan


def test_temporal_join_is_hash_join_not_nested_loop(spark, sf_dir):
    # interval-overlap join rides the user_id equi-key; the OVERLAPS
    # conditions must stay ABOVE a hash/merge join — an OVERLAPS-only
    # (theta) plan regresses to BroadcastNestedLoopJoin/Cartesian and
    # is quadratic per user at scale (VERDICT r03 #7)
    plan = plan_of(spark, sf_dir, "q_temporal_join")
    assert "NestedLoop" not in plan
    assert "CartesianProduct" not in plan
    assert "HashJoin" in plan or "SortMergeJoin" in plan


def test_curation_pipeline2_exchange_budget(spark, sf_dir):
    # the composed mix->gate->chunk pipeline's documented contract is
    # <=5 exchanges total (was 4 with the gate side BROADCAST — finding
    # 94 deliberately traded that exchange back in: the gate is a
    # per-doc post-explode relation that must never broadcast at
    # corpus scale); a rewrite that re-shuffles between stages beyond
    # this silently doubles the scan cost at 100 TB
    plan = plan_of(spark, sf_dir, "q_curation_pipeline2")
    n = plan.count("Exchange hashpartitioning") + plan.count("Exchange rangepartitioning")
    assert n <= 5, f"{n} exchanges\n{plan[:2000]}"


def test_name_canonicalize_never_all_pairs(spark, sf_dir):
    # FastSS deletion-neighborhood bucketing: candidate pairing must be
    # an equi-join on bucket keys; no nested-loop/cartesian anywhere in
    # the executed plan (the all-pairs regression this operator exists
    # to avoid)
    plan = plan_of(spark, sf_dir, "q_name_canonicalize")
    assert "NestedLoop" not in plan
    assert "CartesianProduct" not in plan


def test_skew_variants_share_the_uniform_plan(spark, sf_dir):
    # the skewed-corpus keys must run the SAME plan shape as their
    # uniform twins (one key shuffle) — the remap is a projection, not
    # an excuse for a different strategy
    for key in ("q_sessionize_skew", "q_window_rank_skew"):
        plan = plan_of(spark, sf_dir, key)
        assert plan.count("Exchange hashpartitioning") == 1, key


def test_triangle_count_all_equi_joins(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "q_triangle_count")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_merge_upsert_single_join(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "q_merge_upsert")
    assert plan.count("Join") == 1  # one full-outer merge, no re-reads
    assert "FullOuter" in plan


def test_range_frame_one_exchange(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "q_range_frame")
    assert plan.count("Exchange hashpartitioning") == 1  # custkey only
    assert "RangeFrame" in plan  # value frame survived to the window


def test_semantic_dedup_joins_on_cluster_not_cartesian(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "q_semantic_dedup")
    assert "CartesianProduct" not in plan
    assert "LeftAnti" in plan  # survivors via anti join


def test_calendar_fill_no_nested_loop(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "q_calendar_fill")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_stats_family_single_partial_agg_exchange(spark, sf_dir):
    """Sufficient-statistics aggregates must be ONE partial-agg shuffle
    (map-side combine), never a raw-row exchange."""
    for key in ("q_regr_ols", "q_corr_matrix"):
        plan = plan_of(spark, sf_dir, key)
        assert plan.count("Exchange hashpartitioning") + plan.count(
            "Exchange SinglePartition"
        ) <= 1, key
        assert "partial" in plan.lower(), key  # map-side combine present


def test_mad_window_chain_rides_one_exchange(spark, sf_dir):
    """Four windows, all partitioned by user_id → exactly one shuffle."""
    plan = plan_of(spark, sf_dir, "q_mad_outliers")
    assert plan.count("Exchange hashpartitioning") == 1


def test_ewma_and_cusum_single_shuffle_no_python(spark, sf_dir):
    """Sequential folds stay JVM-side (aggregate HOF): no Python/Arrow
    eval nodes, one exchange for the groupBy."""
    for key in ("q_ewma", "q_cusum"):
        plan = plan_of(spark, sf_dir, key)
        assert plan.count("Exchange hashpartitioning") == 1, key
        assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan, key


def test_bm25_exchange_budget_and_rowlocal_doclen(spark, sf_dir):
    """doc_len must ride the group keys, not a second window: ≤3 hash
    exchanges (tf group, df window, single-row corpus agg)."""
    plan = plan_of(spark, sf_dir, "q_bm25")
    assert plan.count("Exchange hashpartitioning") <= 2
    assert "Broadcast" in plan  # corpus stats broadcast, not joined


def test_dup_spans_exchange_budget(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "q_dup_spans")
    assert plan.count("Exchange hashpartitioning") <= 3


def test_khop_frontier_joins_never_cartesian(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "q_khop")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_quota_sample_broadcasts_quota_table(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "q_quota_sample")
    assert "Broadcast" in plan  # strata-sized quota side never shuffles docs twice
    assert "CartesianProduct" not in plan


def test_kmeans_step_broadcasts_centroids(spark, sf_dir):
    """The E-step must be a broadcast over the k-row centroid table —
    a shuffled join here would move the corpus once per iteration."""
    plan = plan_of(spark, sf_dir, "q_kmeans_step")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_centroids_single_partial_agg(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "q_embedding_centroids")
    assert plan.count("Exchange hashpartitioning") == 1
    assert "partial" in plan.lower()


def test_twap_and_ohlc_single_exchange(spark, sf_dir):
    for key in ("q_twap", "q_ohlc_bars"):
        plan = plan_of(spark, sf_dir, key)
        assert plan.count("Exchange hashpartitioning") == 1, key


def test_pmi_explode_consumes_bound_token_column(spark, sf_dir):
    """The HOF-blowup guard (PERFORMANCE.md §39): the pair-building
    lambdas must close over the materialized token column `tk`, not the
    raw filter(split(text)) expression — visible in the plan as
    element_at(lambda …, tk#N) references rather than inlined
    element_at(filter(split(...)))."""
    plan = plan_of(spark, sf_dir, "q_skipgram_pmi")
    assert "CartesianProduct" not in plan
    assert "element_at(tk#" in plan
    assert "element_at(filter(split" not in plan


def test_ab_test_no_joins_no_windows(spark, sf_dir):
    """q_ab_test must stay a pure aggregation chain: 100 TB of events
    reduce through two partial-agg exchanges to one integer row before
    any float — a join or window appearing here means the plan regressed
    into something that carries rows it doesn't need."""
    plan = plan_of(spark, sf_dir, "q_ab_test")
    assert "Join" not in plan
    assert "Window" not in plan


def test_scd2_merge_broadcasts_change_batch(spark, sf_dir):
    """The change batch decides close-vs-keep via broadcast joins; a
    SortMergeJoin would shuffle the full dimension twice."""
    plan = plan_of(spark, sf_dir, "q_scd2_merge")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_bigram_probs_no_positional_self_join(spark, sf_dir):
    """Adjacent pairs come from a row-local zip of the token array with
    its tail; the oracle's LATERAL positional self-join must never leak
    into the physical plan (it would shuffle |tokens| rows twice)."""
    plan = plan_of(spark, sf_dir, "q_bigram_probs")
    assert "SortMergeJoin" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_shortest_path_frontier_joins_never_cartesian(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "q_shortest_path")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_auc_exact_windows_only_partitioned_by_pid(spark, sf_dir):
    """The AUC plan's only ordered windows are the per-partition local
    prefix sums inside global_prefix_sum (partitionBy _pid) and the
    partition-count offsets table; a global unpartitioned window over
    the score domain would serialize at 100 TB."""
    plan = plan_of(spark, sf_dir, "q_auc_exact")
    import re
    # every window spec either partitions by _pid or runs on the tiny
    # offsets table (windowspecdefinition without _pid only allowed
    # after a groupBy on _pid — detected by its sort on _pid)
    for m in re.finditer(r"windowspecdefinition\(([^)]*)\)", plan):
        spec = m.group(1)
        assert "_pid" in spec, f"unpartitioned global window in AUC plan: {spec}"


def test_minhash_portable_bucket_join_never_cartesian(spark, sf_dir):
    """The LSH candidate stage must stay an equi-join on (band, hash) —
    a cartesian/nested-loop appearing here means the near-dup pipeline
    regressed to all-pairs, the exact scale failure LSH exists to
    avoid."""
    plan = plan_of(spark, sf_dir, "q_minhash_portable")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # r09 finding 93: the VERIFY-stage relations grow with the corpus
    # (shingle sets, candidate pairs, per-doc sizes) — at sf10 a
    # mis-estimated broadcast of the FULL shingle relation OOM-guarded
    # the job. r12 (finding 109): the verify joins build SHUFFLED HASH
    # tables from the bucketed base side (one bounded bucket file per
    # partition, zero Exchange) so the super-linear pair streams are
    # never sorted; the bands self-join stays a bucket MERGE of the
    # same table with itself. Pins: 4 hash joins (2 shingle attaches +
    # 2 size lookups), >=1 sort-merge (bands), no broadcast anywhere,
    # all 6 base scans bucketed.
    assert plan.count("SortMergeJoin") >= 1, plan[:2000]
    assert plan.count("ShuffledHashJoin") >= 4, plan[:2000]
    assert plan.count("Bucketed: true") == 6, plan[:2000]
    assert "BroadcastHashJoin" not in plan, plan[:2000]


def test_revenue_bridge_no_joins_one_exchange(spark, sf_dir):
    """The bridge is TWO conditional aggregates, not a period self-join:
    the per-customer (rev_a, rev_b) table comes from one shuffle and the
    waterfall reduces to one row — a self-join of orders against itself
    per period (the naive formulation) would double-scan and explode."""
    plan = plan_of(spark, sf_dir, "q_revenue_bridge")
    assert "Join" not in plan
    assert plan.count("Exchange hashpartitioning") == 1


def test_ks_test_windows_only_partitioned_by_pid(spark, sf_dir):
    """Both cumulative-count windows must be the scalable prefix-sum's
    per-partition locals (partitionBy _pid); an unpartitioned ordered
    window over the value domain would serialize at 100 TB. The only
    nested-loop join allowed is the single-row dmax broadcast."""
    import re

    plan = plan_of(spark, sf_dir, "q_ks_test")
    specs = [m.group(1) for m in re.finditer(r"windowspecdefinition\(([^)]*)\)", plan)]
    assert specs, "expected prefix-sum windows in the KS plan"
    for spec in specs:
        assert "_pid" in spec, f"unpartitioned global window in KS plan: {spec}"
    assert "CartesianProduct" not in plan


def test_kaplan_meier_single_bounded_global_window(spark, sf_dir):
    """The survival fold runs on the DISTINCT-TIME table, whose size is
    bounded by the day domain (≤ a few thousand rows), never the event
    corpus — exactly ONE unpartitioned ordered window is allowed, and it
    must sit above an aggregate (the t-domain reduction), with no
    cartesian join anywhere."""
    import re

    plan = plan_of(spark, sf_dir, "q_kaplan_meier")
    unpartitioned = [
        m.group(1)
        for m in re.finditer(r"windowspecdefinition\(([^)]*)\)", plan)
        if "_pid" not in m.group(1)
    ]
    assert len(unpartitioned) == 1, unpartitioned
    assert "CartesianProduct" not in plan
    # the corpus-sized stage is the per-user reduction: hash exchanges
    # stay bounded (agg + day rollup + the fold's tiny shuffles)
    assert plan.count("Exchange hashpartitioning") <= 4


def test_audience_overlap_self_join_is_equi_never_cartesian(spark, sf_dir):
    """The segment-overlap matrix must come from a user-keyed equi
    self-join of the DISTINCT membership table with the alphabet-bounded
    ordering predicate folded into the join — a cartesian/nested-loop
    here means all-pairs over users, the exact blowup the shape avoids."""
    plan = plan_of(spark, sf_dir, "q_audience_overlap")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Join" in plan  # it IS a join plan, with equi variants only


@pytest.mark.parametrize("key", ["q_gif_stats", "q_bmp_stats", "q_tiff_stats", "q_zip_ingest", "q_archive_decode", "q_pdf_extract", "q_docx_extract"])
def test_codec_stat_lanes_single_agg_exchange(spark, sf_dir, key):
    """The r06 codec lanes are scan → row-local mapInPandas decode →
    one hash aggregation on doc_id; any second exchange means the
    decode stopped being row-local."""
    plan = plan_of(spark, sf_dir, key)
    assert plan.count("Exchange hashpartitioning") <= 1, plan[:2000]


def test_embedding_neardup_portable_bucket_join_never_cartesian(spark, sf_dir):
    """r07: the portable sign-LSH near-dup lane's candidate stage must
    be an EQUI join on the bucket id — a cartesian/nested-loop here
    means the LSH bucketing collapsed to all-pairs, the exact blowup
    the signature exists to avoid. Budget: one exchange for the bucket
    join + one for the per-bucket aggregate (the audit join of the two
    tiny aggregates may broadcast for free)."""
    plan = plan_of(spark, sf_dir, "q_embedding_neardup_portable")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Join" in plan
    assert plan.count("Exchange hashpartitioning") <= 3, plan[:2000]


def test_letter_roundtrip_broadcast_join_map_only(spark, sf_dir):
    """q_letter_roundtrip (r07): fee gate → customer enrichment must be
    a broadcast hash join with the render/extract roundtrip row-local —
    zero shuffle exchanges. A hashpartitioning exchange here means the
    dim join regressed to sort-merge or the roundtrip stopped being
    map-only."""
    plan = plan_of(spark, sf_dir, "q_letter_roundtrip")
    assert "BroadcastHashJoin" in plan
    assert "Exchange hashpartitioning" not in plan, plan[:2000]
    assert "CartesianProduct" not in plan


def test_centroid_assign_zero_exchanges(spark, sf_dir):
    """r07: the semantic-dedup recluster knob's assignment stage must
    stay a pure map — scan → Arrow-batched matmul projection, zero
    exchanges (the codebook is closed over, not joined). An Exchange
    here means re-clustering stopped being free at the plan level."""
    from automated_property_data_ingestion_document_pipeline_spark import catalog
    from automated_property_data_ingestion_document_pipeline_spark.operators.similarity import (
        centroid_assign,
    )

    emb = catalog.load(spark, sf_dir, "embeddings")
    plan = centroid_assign(emb, 7)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan[:2000]
    # the assignment is Arrow-batched, never row-at-a-time Python
    assert "ArrowEvalPython" in plan, plan[:2000]
    assert "BatchEvalPython" not in plan


def test_ref_template_extract_map_only(spark, sf_dir):
    """r08 (shape updated r13): the real-template render→extract lane is
    scan → fan_out → row-local mapInPandas; template bytes ride the task
    closure, never a join. The ONLY exchange allowed is the r13 fan_out's
    RoundRobin over scalar ids (operators/fanout.py — the single-file
    corpus otherwise plans the whole decode as ONE task); a
    hashpartitioning exchange would mean the roundtrip stopped being
    embarrassingly parallel."""
    plan = plan_of(spark, sf_dir, "q_ref_template_extract")
    assert "Exchange hashpartitioning" not in plan, plan[:2000]
    assert plan.count("Exchange") == 1, plan[:2000]  # the fan_out only
    assert "RoundRobinPartitioning" in plan, plan[:2000]
    assert "ArrowEvalPython" in plan or "MapInPandas" in plan, plan[:2000]


def test_report_archive_extract_map_only(spark, sf_dir):
    """r08 (shape updated r13): the ZIP-of-PDF-reports composition
    (S9 × S8) is scan → fan_out → row-local mapInPandas — zip
    pack/unpack, PDF render and xref-indexed extract all inside one
    task; the only exchange is the fan_out RoundRobin over ids."""
    plan = plan_of(spark, sf_dir, "q_report_archive_extract")
    assert "Exchange hashpartitioning" not in plan, plan[:2000]
    assert plan.count("Exchange") == 1, plan[:2000]
    assert "RoundRobinPartitioning" in plan, plan[:2000]
    assert "ArrowEvalPython" in plan or "MapInPandas" in plan, plan[:2000]


def test_doc_text_extract_map_only(spark, sf_dir):
    """r08: the user-facing extract_document_text ingest shape — two
    chained row-local mapInPandas (build payloads, sniff+extract) with
    zero exchanges; the quarantine column never forces a shuffle.
    (r13 measured the fan_out here 0.21 -> 0.57 s — the sniff/extract
    CPU is too cheap to amortize the extra stage — and kept the
    map-only shape; see OPTIMIZATION_r13.md.)"""
    plan = plan_of(spark, sf_dir, "q_doc_text_extract")
    assert "Exchange" not in plan, plan[:2000]
    assert "ArrowEvalPython" in plan or "MapInPandas" in plan, plan[:2000]


def test_quarantine_stats_single_exchange(spark, sf_dir):
    """r09: the dead-letter taxonomy lane — payload build + sniff/
    extract/quarantine are chained row-local mapInPandas; the ONLY
    exchange is the final (err_kind, kind) rollup, which carries a
    partial_count/partial_sum map-side combine. (r13 measured the
    fan_out here 0.49 -> 0.75 s and kept this shape.)"""
    plan = plan_of(spark, sf_dir, "q_quarantine_stats")
    assert plan.count("Exchange") == 1, plan[:2000]
    assert "ArrowEvalPython" in plan or "MapInPandas" in plan, plan[:2000]
    assert "partial_count" in plan or "partial" in plan.lower(), plan[:2000]


# -- finding 94 guards (r10 verdict ask #5) -----------------------------------

# The r09 registry-wide broadcast audit's full flag list: every key whose
# physical plan carries a BroadcastExchange with a Generate (explode)
# in its subtree. Spark's sizeInBytes never multiplies by explode
# fan-out (finding 93/94), so these are exactly the plans where the
# planner CANNOT be trusted and boundedness must come from design:
# class (a) — the broadcast side is bounded regardless of estimate
# (salt ranges over aggregates, the ≤10-doc benchmark's shingles,
# ≤64-row ANN query/probe sides, k x dim codebooks); classes (b)/(c) —
# vocab- and fact-scale sides, pinned merge/shuffle_hash in r09 (their
# remaining broadcasts are the bounded ones).
FINDING94_AUDITED = {
    "q_bloom_filter", "q_centroid_assign", "q_countmin_error",
    "q_curation_pipeline2", "q_decontaminate", "q_embedding_neardup_portable",
    "q_geo_nearest", "q_geo_pipeline", "q_geo_radius_join",
    "q_ivf_recall", "q_ivfpq_recall", "q_kmeans_step", "q_knn_ivf",
    "q_knn_lsh", "q_lsh_recall", "q_minhash_neardup", "q_minhash_portable",
    "q_salted_join", "q_skipgram_pmi", "q_tfidf",
    # r10: the streaming quarantine twin shares q_quarantine_stats'
    # builder; its plan is audited identically (map-only, no joins)
}


def _broadcast_over_generate_keys(spark, sf_dir, keys):
    """Keys whose executed plan has a Generate inside (indent-below) a
    BroadcastExchange subtree — the finding-93/94 hazard shape."""
    import re

    flagged = set()
    for key in keys:
        plan = plan_of(spark, sf_dir, key)
        for m in re.finditer(r"BroadcastExchange", plan):
            lines = plan[m.start():].splitlines()
            head = len(lines[0]) - len(lines[0].lstrip(" :+-*"))
            for ln in lines[1:80]:
                ind = len(ln) - len(ln.lstrip(" :+-*"))
                if "Generate" in ln:
                    flagged.add(key)
                    break
                if ind < head and ln.strip():
                    break
            if key in flagged:
                break
    return flagged


def test_finding94_no_new_explode_under_broadcast(spark, sf_dir):
    """REGISTRY-WIDE tripwire: any NEW key whose plan broadcasts a
    relation containing an explode must fail here until it is audited
    (bounded by design, or pinned merge/shuffle_hash like findings
    93/94) and added to the allowlist — the optimizer cannot see explode
    fan-out, so this exact shape is the one non-self-correcting
    mis-broadcast class at scale. Covers every registered key except
    the streaming/sink lanes that EXECUTE on plan build (cost; their
    batch twins are covered)."""
    from automated_property_data_ingestion_document_pipeline_spark.plans.registry import QUERIES

    keys = [
        k
        for k in QUERIES
        if not k.startswith("q_stream_")
        and k not in ("q_partitioned_write", "q_letter_render", "q_report_archive")
    ]
    flagged = _broadcast_over_generate_keys(spark, sf_dir, keys)
    new = flagged - FINDING94_AUDITED
    assert not new, (
        f"unaudited explode-under-broadcast in {sorted(new)}: bound the "
        "broadcast side by design or pin the join (finding 93/94), then "
        "add the key to FINDING94_AUDITED"
    )


def test_finding94_class_a_bounds_hold(spark, sf_dir):
    """The class-(a) 'safe by design' bounds, asserted at build time so
    an edit can't silently grow a broadcast side past broadcastability:
    - ANN entry points: the PQ/IVF-PQ query side is a TYPED contract at
      MAX_QUERY_SIDE (driver-side ADC LUT), enforced, not advisory;
    - centroid_assign: codebook trained on a ≤4096-row deterministic
      sample — the cell count can never exceed the sample;
    - q_decontaminate: the benchmark side is the ≤10-doc eval set, its
      pushed filter visible in the broadcast subtree's scan;
    - q_salted_join: the replicated side's fan-out is a LITERAL 8-salt
      sequence over a post-aggregate relation (estimates self-correct);
    - the ANN lanes' broadcast query sides carry their bounding filter
      (vec_id < 5) pushed into the scan."""
    import pytest as _pytest

    from automated_property_data_ingestion_document_pipeline_spark.operators import similarity as sim

    # 1. the typed query-side contract
    assert sim.MAX_QUERY_SIDE == 65_536
    big = spark.range(sim.MAX_QUERY_SIDE + 1).selectExpr(
        "id as vec_id", "array(cast(id as float)) as embedding"
    )
    with _pytest.raises(ValueError, match="MAX_QUERY_SIDE"):
        sim._bounded_query_rows(big)

    # 2. codebook sample bound (source-level constant wired through
    # semantic_dedup's derived-cells cap)
    assert sim.SEM_DEDUP_MAX_CELLS == 4096

    # 3. decontamination: benchmark filter pushed under the broadcast
    plan = plan_of(spark, sf_dir, "q_decontaminate")
    assert "PushedFilters: [IsNotNull(doc_id), LessThan(doc_id,10)]" in plan, plan[:3000]

    # 4. salted join: the replicated side's fan-out source is a
    # CONSTANT-FOLDED literal array (the 8-salt sequence) — a Generate
    # over UnsafeArrayData, never over a data column
    plan = plan_of(spark, sf_dir, "q_salted_join")
    assert "Generate explode(org.apache.spark.sql.catalyst.expressions.UnsafeArrayData" in plan, plan[:3000]

    # 5. ANN broadcast query sides: bounding filter pushed to the scan
    for key in ("q_knn_lsh", "q_knn_ivf"):
        plan = plan_of(spark, sf_dir, key)
        assert "LessThan(vec_id,5)" in plan, (key, plan[:3000])


def test_winnowing_three_exchange_budget(spark, sf_dir):
    """q_winnowing's executed plan (r10): exactly 3 hash exchanges —
    the doc_id window over gram positions, the fp-keyed incidence
    window (carrying only the winnowed ~2/(w+1) subset), and the final
    per-doc rollup. The DISTINCT over (doc_id, n_grams, fp) must NOT
    add a fourth: hash partitioning on doc_id already clusters every
    distinct group, and EnsureRequirements accepts the subset — a
    regression here means the aggregate stopped riding the window's
    partitioning and the whole gram stream shuffles twice."""
    plan = plan_of(spark, sf_dir, "q_winnowing")
    assert plan.count("Exchange hashpartitioning") == 3, plan[:2000]
    assert plan.count("Generate explode") == 1
    assert "SortMergeJoin" not in plan and "BroadcastHashJoin" not in plan


def test_neardup_incremental_never_broadcasts(spark, sf_dir):
    """q_neardup_incremental (r10; bucketed base r11): every relation
    in the lane is either corpus-scale (base bands, shingle sets) or
    INGEST-RATE-scale (the delta), so nothing may broadcast — every
    join pins merge/shuffle_hash, the finding-93/94 contract applied at
    authoring time instead of after an sf10 OOM. Since r11 the base
    side additionally reads PERSISTED bucket-sorted tables (shingles on
    (doc_id, sh), bands on (band, bh), sizes on doc_id), so all three
    base relations scan with `Bucketed: true` and neither an Exchange
    nor a Sort on the base side — only the delta shuffles."""
    import re

    plan = plan_of(spark, sf_dir, "q_neardup_incremental")
    assert "BroadcastHashJoin" not in plan and "BroadcastNestedLoopJoin" not in plan
    assert plan.count("ShuffledHashJoin") >= 1  # the delta-side sizes join
    assert plan.count("SortMergeJoin") >= 3  # bucket probe + shingle verify + sizes
    assert plan.count("Bucketed: true") == 3, plan[:3000]
    # the finding-104 spill source is DELETED, not just moved: the base
    # tables are bucket-sorted one-file-per-bucket and the session
    # exposes their ordering, so no Sort may appear over the base
    # bands (band, bh) or base shingles (_db, sh_b) attributes — only
    # delta-side sorts remain
    assert not re.search(r"Sort \[(band#|_db#|sh_b#)", plan), plan[:3000]


def test_driver_built_frames_are_local_table_scans(spark, sf_dir):
    """Small frames built on the driver (the reference dimensions, the
    stream lanes' results) are Arrow local tables. ``Scan ExistingRDD``
    here means the build fell back to a Python list, which starts one
    PythonRDD task per core on every read."""
    from automated_property_data_ingestion_document_pipeline_spark import catalog
    from automated_property_data_ingestion_document_pipeline_spark.sources import (
        reference_dims as rd,
    )

    frames = {
        "states": rd.states_df(spark),
        "counties": rd.counties_df(spark),
        "crs_codes": rd.crs_codes_df(spark),
        "empty": catalog.local_frame(spark, [], "doc_id bigint, max_jaccard double"),
        "q_stream_quarantine": QUERIES["q_stream_quarantine"](spark, sf_dir),
    }
    for name, df in frames.items():
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "LocalTableScan" in plan and "ExistingRDD" not in plan, (name, plan)


def test_local_frame_keeps_nulls_types_and_empty_input(spark):
    from automated_property_data_ingestion_document_pipeline_spark.catalog import local_frame

    ddl = "k string, n bigint, x double"
    df = local_frame(spark, [("a", None, 1.5), (None, 2**40, None)], ddl)
    assert df.schema.simpleString() == "struct<k:string,n:bigint,x:double>"
    assert [tuple(r) for r in df.collect()] == [("a", None, 1.5), (None, 2**40, None)]
    empty = local_frame(spark, [], ddl)
    assert empty.schema == df.schema and empty.collect() == []
