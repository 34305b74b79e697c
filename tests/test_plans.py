"""Physical-plan assertions — the scale contract, pinned.

Correctness tests can't see a 100 TB problem; these lock the plan shapes
that decide whether an operator survives the scale-up: filters reaching the
parquet scan, column pruning, broadcast for dimension joins, partial+final
hash aggregation, and whole-stage codegen in scalar paths."""

from __future__ import annotations

from flink_streaming_etl_spark.catalog import load_tables
from flink_streaming_etl_spark.operators import relational
from flink_streaming_etl_spark.plans import audit, plan_text
from tests.conftest import SF_SMOKE


def plan_of(df) -> str:
    return plan_text(df)


def _tables(spark):
    return load_tables(spark, SF_SMOKE, register=False)


def test_filter_pushdown_reaches_scan(spark):
    t = _tables(spark)
    p = plan_of(relational.pricing_summary(t["lineitem"]))
    assert "PushedFilters" in p
    assert "LessThanOrEqual(l_shipdate" in p, p


def test_column_pruning(spark):
    t = _tables(spark)
    p = plan_of(relational.pricing_summary(t["lineitem"]))
    # lineitem has 16 columns; the rollup needs 7. The scan schema must not
    # include untouched wide columns like l_comment.
    assert "l_comment" not in p
    assert "l_partkey" not in p


def test_dimension_join_broadcasts(spark):
    t = _tables(spark)
    p = plan_of(relational.region_rollup(t["customer"], t["nation"], t["region"]))
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p  # dims must not shuffle the fact side


def test_partial_final_aggregation(spark):
    t = _tables(spark)
    p = plan_of(relational.user_day_stats(t["orders"]))
    # Spark plans partial (map-side) + final hash aggregation — the built-in
    # equivalent of the reference's manual 256-bucket salted rollup
    # (flink-ddl.sql:209); this is why user_day_stats_salted ≡ user_day_stats.
    assert p.count("HashAggregate") >= 2, p


def test_whole_stage_codegen(spark):
    t = _tables(spark)
    p = plan_of(relational.scalar_battery(t["events"]))
    # formatted mode marks whole-stage-codegen'd operators with a codegen id
    assert "codegen id" in p, p
    # every operator above the scan must be inside codegen (starred)
    assert "Filter [codegen id" in p and "Project [codegen id" in p


def test_enrichment_join_no_cartesian(spark):
    t = _tables(spark)
    p = plan_of(relational.order_enrich_join(t["orders"], t["customer"]))
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_asof_join_single_shuffle_no_range_join(spark):
    t = _tables(spark)
    a = audit(relational.latest_order_asof(t["events"], t["orders"]))
    # The union+window as-of must not plan any join at all — one exchange
    # per union branch on user_id, zero range-join candidate blowup.
    assert a.joins == [], a.joins
    assert not a.cartesian


def test_audit_api_shape(spark):
    t = _tables(spark)
    a = audit(relational.pricing_summary(t["lineitem"]))
    assert a.pushed_filters and a.read_schemas
    assert a.n_hash_aggregates >= 2 and (a.has_codegen or a.adaptive)


def test_stratified_sample_broadcasts_counts(spark):
    from flink_streaming_etl_spark.operators import text

    t = _tables(spark)
    p = plan_of(text.stratified_sample(t["documents"]))
    # The per-stratum count table is ~#langs rows: it must broadcast; the
    # corpus side must not shuffle for the join.
    assert "BroadcastHashJoin" in p, p
    assert "SortMergeJoin" not in p, p


def test_shipping_priority_topk_not_global_sort(spark):
    from flink_streaming_etl_spark.operators import analytics

    t = _tables(spark)
    p = plan_of(analytics.shipping_priority(t["customer"], t["orders"], t["lineitem"]))
    # top-10 must be a per-partition heap (TakeOrderedAndProject), never a
    # full global Sort+collect of the aggregate.
    assert "TakeOrderedAndProject" in p, p
    assert "CartesianProduct" not in p
    # the three filters must push into their parquet scans
    assert "EqualTo(c_mktsegment,BUILDING)" in p, p
    assert "LessThan(o_orderdate" in p, p
    assert "GreaterThan(l_shipdate" in p, p


def test_local_supplier_volume_plan(spark):
    from flink_streaming_etl_spark.operators import analytics

    t = _tables(spark)
    p = plan_of(
        analytics.local_supplier_volume(
            t["customer"], t["orders"], t["lineitem"],
            t["supplier"], t["nation"], t["region"],
        )
    )
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p
    # supplier and nation⋈region are hinted broadcasts
    assert "BroadcastHashJoin" in p, p
    # date range pushed into the orders scan
    assert "GreaterThanOrEqual(o_orderdate" in p, p


def test_bloom_dedup_bits_broadcast(spark):
    from flink_streaming_etl_spark.operators import dedup

    t = _tables(spark)
    p = plan_of(dedup.bloom_incremental_dedup(t["documents"]))
    # The bloom bit-set (≤ BLOOM_BITS narrow-int rows) must broadcast to
    # the incoming side — that is the entire scale story of this operator.
    assert "BroadcastHashJoin" in p, p


def test_winsorize_bounds_broadcast(spark):
    from flink_streaming_etl_spark.operators import analytics

    t = _tables(spark)
    p = plan_of(analytics.winsorize_values(t["events"]))
    # the per-group bounds table (~|event_types| rows) must broadcast —
    # the big side is never shuffled for the join
    assert "BroadcastHashJoin" in p, p
    assert "SortMergeJoin" not in p, p


def test_rolling_wau_no_range_join(spark):
    from flink_streaming_etl_spark.operators import analytics

    t = _tables(spark)
    p = plan_of(analytics.rolling_wau(t["events"]))
    # the linear explode plan must never degrade to the range-join shape
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "Generate explode" in p or "Generate" in p, p


def test_pack_sequences_single_exchange(spark):
    from flink_streaming_etl_spark.operators import text

    t = _tables(spark)
    p = plan_of(text.pack_sequences(t["documents"]))
    # one key shuffle on lang serves the window cumsum (the loader's
    # round-robin spread is not a key exchange)
    assert p.count("hashpartitioning") == 1, p


def test_profile_hll_no_expand(spark):
    from flink_streaming_etl_spark.operators import analytics

    t = _tables(spark)
    # Default profile: HLL distinct — an ordinary partial+final agg, no
    # Expand row fan-out (the multi-column COUNT(DISTINCT) plan multiplies
    # every input row by #profiled columns before the shuffle).
    p = plan_of(analytics.profile_orders_hll(t["orders"]))
    assert "Expand" not in p, p
    assert p.count("HashAggregate") >= 2, p
    # The exact oracle twin is allowed (and expected) to Expand.
    p_exact = plan_of(analytics.profile_orders(t["orders"]))
    assert "Expand" in p_exact, p_exact


def test_vocab_topk_heap_not_global_window_sort(spark):
    from flink_streaming_etl_spark.operators import analytics, text

    t = _tables(spark)
    # top-k over the aggregated vocabulary must be TakeOrderedAndProject
    # (per-partition heap); the rank window may only run over the k rows
    # that survive the limit — never over the full distinct-token relation.
    for df in (text.vocab_top_tokens(t["documents"]), analytics.bigram_top(t["documents"])):
        p = plan_of(df)
        assert "TakeOrderedAndProject" in p, p


def test_round4_training_ops_plan_shapes(spark):
    from flink_streaming_etl_spark.operators import dedup as dd
    from flink_streaming_etl_spark.operators import text as tx

    t = _tables(spark)
    # gopher_quality: a PURE projection — the distinct-token metrics fold
    # the row's own sorted token array, so there must be no Exchange, no
    # aggregate, and no join anywhere. Build on a bare scan (load_tables
    # adds a round-robin repartition for local-file parallelism, which
    # would show as an Exchange that isn't the operator's).
    bare_docs = t["documents"].sparkSession.read.parquet(f"{SF_SMOKE}/documents.parquet")
    p = plan_of(tx.gopher_quality(bare_docs))
    assert "Exchange" not in p, p
    assert "HashAggregate" not in p and "SortAggregate" not in p, p
    assert "Join" not in p, p
    # span_dedup: span-keyed anti join + ordered reassembly — equi-joins only
    p = plan_of(tx.span_dedup(t["documents"]))
    assert "BroadcastNestedLoopJoin" not in p and "CartesianProduct" not in p, p
    # ngram_novelty: shingle-keyed min-owner agg + equi-join, partial+final
    p = plan_of(dd.ngram_novelty(t["documents"]))
    assert p.count("HashAggregate") >= 2, p
    assert "BroadcastNestedLoopJoin" not in p and "CartesianProduct" not in p, p


def test_runtime_bloom_filter_injects_on_selective_join(spark):
    """The 100 TB lever for selective fact-fact joins: Catalyst builds a
    bloom filter from the filtered side's keys and pushes `might_contain`
    into the big side's scan, killing non-joining rows BEFORE the shuffle.
    Local data is far below the 10 GB application-side threshold, so the
    test lowers it to prove the shape; at cluster scale it triggers
    untouched (tune_session keeps the feature enabled)."""
    from pyspark.sql import functions as F

    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    old = {k: spark.conf.get(k) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        t = _tables(spark)
        o = t["orders"].filter(F.col("o_totalprice") > 400000).select("o_orderkey")
        j = t["lineitem"].join(o, t["lineitem"].l_orderkey == o.o_orderkey)
        p = plan_of(j)
        assert "might_contain" in p, p
        assert "bloom_filter_agg" in p, p
    finally:
        for k, v in old.items():
            spark.conf.set(k, v)


def test_aqe_skew_join_splits_hot_key(spark):
    """The session's AQE skew-join handling actually engages: a join with
    one hot key (95% of rows) gets its oversized partition split at
    runtime (SortMergeJoin marked skew=true in the adaptive plan). This is
    the engine-native replacement for the reference's manual 256-bucket
    salting (flink-ddl.sql:209) on the JOIN side; thresholds are lowered
    locally because test data is KB-sized — at 100 TB the defaults fire."""
    from pyspark.sql import functions as F

    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "1",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "10KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "10KB",
    }
    old = {k: spark.conf.get(k) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        left = (
            spark.range(0, 200000).select(F.lit(0).alias("k"), F.col("id").alias("v"))
            .union(spark.range(0, 10000).select((F.col("id") % 100 + 1).alias("k"), F.col("id").alias("v")))
        )
        right = spark.range(0, 101).select(F.col("id").alias("k"), (F.col("id") * 2).alias("w"))
        j = left.join(right, "k").groupBy().count()
        j.collect()
        p = j._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in p, p[:2000]
    finally:
        for k, v in old.items():
            spark.conf.set(k, v)


def test_repetition_battery_is_pure_projection(spark):
    """Like gopher_quality, the repetition signals fold the row's own
    sorted n-gram arrays — no Exchange, no aggregate, no join."""
    from flink_streaming_etl_spark.operators import text as tx

    bare_docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    p = plan_of(tx.repetition_battery(bare_docs))
    assert "Exchange" not in p, p
    assert "HashAggregate" not in p and "SortAggregate" not in p, p
    assert "Join" not in p, p


def test_round5_training_ops_plan_shapes(spark):
    from flink_streaming_etl_spark.operators import dedup as dd
    from flink_streaming_etl_spark.operators import similarity as sim
    from flink_streaming_etl_spark.operators import text as tx

    t = _tables(spark)
    # pq_encode: the m*k codebook must BROADCAST to the corpus fan-out — a
    # shuffle join on sub_idx would hash the whole corpus across m keys
    # (guaranteed skew); no sort-merge join may appear anywhere.
    p = plan_of(sim.pq_encode(t["embeddings"]))
    assert "BroadcastHashJoin" in p, p
    assert "SortMergeJoin" not in p, p
    assert "CartesianProduct" not in p, p
    # ann_recall_report composes two already-plan-audited operators whose
    # tiny-relation cross/broadcast joins are intentional (cosine_topk's
    # blocked GEMM pairing; ann_ivf's broadcast centroid scoring); the
    # comparison it adds must be a hash semi-join on (query_id,
    # neighbor_id) — assert that join shape exists.
    p = plan_of(sim.ann_recall_report(t["embeddings"]))
    assert "LeftSemi" in p, p
    # neardup_keep_best: equi-joins only (the label-propagation internals
    # may sort-merge the graph-sized relations — that part is correct);
    # never a cartesian or nested-loop join.
    p = plan_of(dd.neardup_keep_best(t["documents"]))
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p, p
    # source_mixture_weights: one source-keyed partial+final aggregate.
    p = plan_of(tx.source_mixture_weights(t["documents"]))
    assert p.count("HashAggregate") >= 2, p


def test_ivf_coarse_assign_partial_agg_not_window(spark):
    """The IVF coarse assignment (every corpus vector → nearest centroid)
    must be a partial-aggregating max_by argmax, NOT row_number() over the
    n·n_centroids cross relation: window functions get no map-side combine,
    so a window there ships centroid-count× more rows through the hottest
    exchange in the ANN family. The only Window operators allowed are (a)
    the probe ranking over the n_queries-sized slice and (b) the final
    per-query top-k — exactly two."""
    import re

    from flink_streaming_etl_spark.operators import similarity as sim

    t = _tables(spark)
    for op in (sim.ann_ivf, sim.ann_ivf_pq):
        p = plan_of(op(t["embeddings"]))
        # map-side combine on the assignment argmax
        assert "partial_max_by" in p, p
        # no third window: assignment never reaches a Window operator
        n_windows = len(re.findall(r"\(\d+\) Window\b", p))
        assert n_windows == 2, f"{op.__name__}: {n_windows} Window nodes\n{p}"


def test_round6_training_ops_plan_shapes(spark):
    from flink_streaming_etl_spark.operators import analytics as an
    from flink_streaming_etl_spark.operators import similarity as sim
    from flink_streaming_etl_spark.operators import text as tx

    t = _tables(spark)
    # banded interval join: the whole point is restoring an EQUI join on
    # (user, hour bucket) — no nested-loop/cartesian pair generation may
    # appear anywhere in the plan.
    p = plan_of(an.clicks_before_purchase_banded(t["events"]))
    assert "BroadcastNestedLoopJoin" not in p and "CartesianProduct" not in p, p
    # semdedup / cluster balance: coarse assignment must keep the
    # partial-aggregating max_by argmax (the intentional broadcast cross
    # against the tiny centroid set remains); no CartesianProduct.
    for op in (sim.semdedup_drop, sim.cluster_balance_report):
        p = plan_of(op(t["embeddings"]))
        assert "partial_max_by" in p, p
        assert "CartesianProduct" not in p, p
    # bm25: the df rollup broadcasts back to the tf relation (vocabulary is
    # tiny vs corpus) — no sort-merge join for it; dl joins ride doc_id.
    p = plan_of(an.bm25_top_terms(t["documents"]))
    assert "BroadcastHashJoin" in p, p
    # packing efficiency: one per-lang window (from pack_sequences) feeding
    # one partial+final aggregate — no join at all.
    p = plan_of(tx.packing_efficiency(t["documents"]))
    assert "Join" not in p, p
    assert p.count("HashAggregate") >= 2, p


def test_round6b_training_ops_plan_shapes(spark):
    import re

    from flink_streaming_etl_spark.operators import analytics as an
    from flink_streaming_etl_spark.operators import dedup as dd
    from flink_streaming_etl_spark.operators import similarity as sim
    from flink_streaming_etl_spark.operators import text as tx

    t = _tables(spark)
    # dsir_importance_weights: the SCORING pass must be a pure projection —
    # the B-bucket model was collected in pass 1 and embedded as a map
    # literal, so the returned plan has no join, no aggregate, no exchange.
    bare_docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    p = plan_of(tx.dsir_importance_weights(bare_docs))
    assert "Join" not in p, p
    assert "Exchange" not in p, p
    assert "HashAggregate" not in p and "SortAggregate" not in p, p
    # source_kl_report: partial+final aggregation on every keyed rollup;
    # term/source joins are equi-joins (vocabulary-sized, never cartesian).
    p = plan_of(tx.source_kl_report(t["documents"]))
    assert p.count("HashAggregate") >= 2, p
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p, p
    # time_decay_engagement: one user-keyed partial+final agg, no join —
    # the reference date is a collected scalar literal, not a cross join.
    p = plan_of(an.time_decay_engagement(t["events"]))
    assert "Join" not in p, p
    assert p.count("HashAggregate") >= 2, p
    # knn_graph: bucket-restricted equi self-join (no cartesian pair
    # generation) and exactly ONE window — the per-vector ranking over the
    # bucket-bounded candidate relation.
    p = plan_of(sim.knn_graph(t["embeddings"]))
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p, p
    assert len(re.findall(r"\(\d+\) Window\b", p)) == 1, p
    # cross_source_dup_matrix: equi-joins only over the (tiny) verified
    # pair relation; final matrix is a partial+final agg.
    p = plan_of(dd.cross_source_dup_matrix(t["documents"]))
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p, p
    assert p.count("HashAggregate") >= 2, p


def test_round6c_ops_plan_shapes(spark):
    from flink_streaming_etl_spark.operators import analytics as an
    from flink_streaming_etl_spark.operators import similarity as sim
    from flink_streaming_etl_spark.operators import text as tx

    t = _tables(spark)
    # Q17 shape: the correlated subquery must decorrelate to a part-keyed
    # partial+final agg + EQUI join back — no cartesian/nested-loop, and
    # map-side combine on the per-part rollup.
    p = plan_of(an.small_quantity_revenue(t["lineitem"]))
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p, p
    assert p.count("HashAggregate") >= 2, p
    # Q2 shape: struct-argmin gets partial aggregation (min gets map-side
    # combine; a window would not), and the supplier dim must broadcast.
    p = plan_of(an.cheapest_supplier_per_part(t["lineitem"], t["supplier"]))
    assert "partial_min" in p, p
    assert "BroadcastHashJoin" in p, p
    assert "Window" not in p, p
    # perplexity buckets: the tercile window runs over the HISTOGRAM
    # relation (post-aggregate), and the cuts broadcast back to the scored
    # relation — never a sort of the corpus-sized relation for ranking.
    p = plan_of(tx.perplexity_buckets(t["documents"]))
    assert "CartesianProduct" not in p, p
    assert p.count("HashAggregate") >= 2, p
    # filtered ANN: label equi-join is the candidate generator — no
    # cartesian pair generation; exactly one ranking window.
    import re

    p = plan_of(sim.filtered_ann(t["embeddings"]))
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p, p
    assert len(re.findall(r"\(\d+\) Window\b", p)) == 1, p


def test_round6d_ops_plan_shapes(spark):
    import re

    from flink_streaming_etl_spark.operators import analytics as an
    from flink_streaming_etl_spark.operators import similarity as sim
    from flink_streaming_etl_spark.operators import text as tx

    t = _tables(spark)
    # Q6: every predicate must reach the parquet scan as a pushed filter;
    # no join anywhere.
    p = plan_of(an.forecast_revenue_change(t["lineitem"]))
    assert "Join" not in p, p
    assert "GreaterThanOrEqual(l_shipdate" in p, p
    assert "LessThan(l_shipdate" in p, p
    assert p.count("HashAggregate") >= 2, p
    # Q13: equi left join + two partial+final aggs, never a cartesian.
    p = plan_of(an.customer_order_histogram(t["customer"], t["orders"]))
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p, p
    assert p.count("HashAggregate") >= 4, p
    # entropy (r7): a ZERO-shuffle per-row fold — no join, no aggregate,
    # no key-hash exchange (the only Exchange allowed is the fixture's
    # round-robin repartition on load); the corpus' characters never
    # enter a shuffle.
    p = plan_of(tx.entropy_filter(t["documents"]))
    assert "Join" not in p, p
    assert "HashAggregate" not in p and "hashpartitioning" not in p, p
    # SQ8 search: encoding is a zero-shuffle projection (model embedded as
    # literals), so the only joins are the broadcast query pairing — no
    # sort-merge join and no per-dim stats join may appear in the search
    # plan; exactly one ranking window.
    p = plan_of(sim.ann_int8_topk(t["embeddings"]))
    assert "SortMergeJoin" not in p, p
    assert "BroadcastNestedLoopJoin" in p or "BroadcastHashJoin" in p, p
    assert len(re.findall(r"\(\d+\) Window\b", p)) == 1, p


def test_tpch_q14_q4_q18_plan_shapes(spark):
    from flink_streaming_etl_spark.operators import analytics as an

    t = _tables(spark)
    # Q14: part is a dimension — must broadcast; date range pushed to scan.
    p = plan_of(an.promo_revenue_share(t["lineitem"], t["part"]))
    assert "BroadcastHashJoin" in p, p
    assert "SortMergeJoin" not in p, p
    assert "GreaterThanOrEqual(l_shipdate" in p, p
    # Q4: EXISTS must plan as a LEFT SEMI equi join (never a cartesian or
    # per-order aggregation detour).
    p = plan_of(an.late_order_priority_check(t["orders"], t["lineitem"]))
    assert "LeftSemi" in p, p
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p, p
    # Q18: the HAVING rollup gets partial+final agg and its survivors
    # broadcast into the assembly joins.
    p = plan_of(
        an.large_volume_customers(t["customer"], t["orders"], t["lineitem"])
    )
    assert p.count("HashAggregate") >= 2, p
    assert "BroadcastHashJoin" in p, p
    assert "CartesianProduct" not in p, p


def test_filter_stack_joins_ride_doc_id(spark):
    from flink_streaming_etl_spark.operators import text as tx

    t = _tables(spark)
    import re

    from flink_streaming_etl_spark.operators import _cache

    _cache.clear_operator_caches()
    p = plan_of(tx.filter_stack(t["documents"]))
    # composition: equi-joins on doc_id only — never a cartesian or
    # nested-loop pair generation anywhere in the stack
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p, p
    # scan economy (r7): all five signals ride ONE memoized token relation
    # — the executed tree has at most one parquet scan NODE (inside the
    # cached relation's build plan); every consumer reads the
    # InMemoryRelation, instead of five independent corpus scans.
    n_scans = len(re.findall(r"\(\d+\) Scan parquet", p))
    assert n_scans <= 1, f"{n_scans} parquet scan nodes\n{p}"
    assert "InMemoryTableScan" in p, p
    _cache.clear_operator_caches()


def test_lm_family_vocab_joins_broadcast(spark):
    """r7 verdict #4: the LM scoring joins must put the vocabulary-side
    count relations on the build side BY CONTRACT — at 100x the corpus a
    silent AQE fallback would shuffle the corpus-sized tf/tf2 relation
    once per count-join. The operators now enrich vocab-side first and
    pin every scoring join broadcast, so the plan may contain NO
    SortMergeJoin anywhere."""
    from flink_streaming_etl_spark.operators import text as tx

    t = _tables(spark)
    docs = t["documents"]
    for build in (
        tx.unigram_logprob_score,
        tx.bigram_logprob_score,
        tx.jm_fluency,
        tx.heldout_perplexity_report,
    ):
        p = plan_of(build(docs))
        assert "BroadcastHashJoin" in p, (build.__name__, p)
        assert "SortMergeJoin" not in p, (build.__name__, p)
        assert "ShuffledHashJoin" not in p, (build.__name__, p)


def test_substring_dedup_plan_shapes(spark):
    """r8 exact-substring tier: the corpus-linear shingle relation must
    never cartesian, the cut stage's dup-hash join must NOT be broadcast-
    pinned (duplicated-mass-bounded, not vocab-bounded — AQE picks the
    build side), and the documents scan must prune to the columns the
    shingle needs (doc_id, text)."""
    from flink_streaming_etl_spark.operators import text as tx

    t = _tables(spark)
    p = plan_of(tx.substring_dup_spans(t["documents"]))
    assert "CartesianProduct" not in p, p
    assert "lang" not in p and "n_chars" not in p, p  # column pruning
    p = plan_of(tx.substring_dedup_cut(t["documents"]))
    assert "CartesianProduct" not in p, p


def test_kmv_and_kn_plan_shapes(spark):
    """kneser_ney joins follow the r8 broadcast contract (no sort-merge
    anywhere); kmv's ranked window is source-partitioned (never a single
    global sort)."""
    from flink_streaming_etl_spark.operators import text as tx

    t = _tables(spark)
    p = plan_of(tx.kneser_ney_fluency(t["documents"]))
    assert "BroadcastHashJoin" in p, p
    assert "SortMergeJoin" not in p and "ShuffledHashJoin" not in p, p
    p = plan_of(tx.kmv_distinct_report(t["documents"]))
    assert "CartesianProduct" not in p, p


def test_round10_wave2_plan_shapes(spark):
    """pagerank iterates over the MEMOIZED edge relation (InMemory scans,
    no cartesian); burstiness is two partial+final hash aggregations;
    rfm's 1-row anchor rides a broadcast nested-loop (never a sort-merge)
    and the outlier report stays bucket-join-shaped."""
    from flink_streaming_etl_spark.operators import _cache, analytics, similarity

    t = _tables(spark)
    _cache.clear_operator_caches()
    try:
        p = plan_of(similarity.pagerank_pinned(t["embeddings"]))
        assert "CartesianProduct" not in p, p
        assert "InMemoryTableScan" in p, p  # both iterations ride the memo
    finally:
        _cache.clear_operator_caches()

    p = plan_of(analytics.burstiness_report(t["events"]))
    assert p.count("HashAggregate") >= 4, p  # 2 aggs x partial+final
    assert "CartesianProduct" not in p, p
    assert "props" not in p, p  # column pruning on the wide events table

    p = plan_of(analytics.rfm_segmentation(t["orders"], t["customer"]))
    assert "BroadcastNestedLoopJoin" in p, p  # the 1-row anchor scalar
    assert "CartesianProduct" not in p, p

    p = plan_of(similarity.knn_outlier_report(t["embeddings"]))
    assert "CartesianProduct" not in p, p


def test_backtrack_join_is_keyed_not_cartesian(spark):
    """The backtracking closed form's candidate join carries the
    user_id equi component — the [a+1, e+1] range rides as a post-join
    filter on a keyed join, never a cartesian/nested-loop product."""
    from flink_streaming_etl_spark.operators import cep

    ev = load_tables(spark, SF_SMOKE, register=False)["events"]
    p = plan_text(cep.cep_backtrack_matches(ev))
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_nfa_flags_are_jvm_projected_before_the_python_scan(spark):
    """The general NFA evaluates DEFINE predicates in ONE codegen'd
    window projection; exactly one Python stage (the per-key Arrow
    scan) appears in the plan."""
    from flink_streaming_etl_spark.operators import cep

    ev = load_tables(spark, SF_SMOKE, register=False)["events"]
    p = plan_text(cep.cep_nfa_backtrack_matches(ev))
    # formatted plans print nodes twice (tree + detail)
    assert p.count("FlatMapGroupsInPandas") <= 2, p
    assert "BatchEvalPython" not in p  # no row-at-a-time Python UDFs


def test_media_ppm_pipeline_stays_arrow_batched(spark):
    """The real decode paths are mapInPandas (Arrow) over a single scan
    — no row-at-a-time Python evaluation anywhere."""
    from flink_streaming_etl_spark.operators import multimodal as mm

    docs = load_tables(spark, SF_SMOKE, register=False)["documents"]
    for df in (mm.media_ppm_features(docs), mm.media_resize_report(docs),
               mm.media_frames_report(docs)):
        p = plan_text(df)
        assert "BatchEvalPython" not in p
        assert "MapInPandas" in p


def test_apply_changelog_is_one_key_shuffle(spark):
    """Folding a changelog chunk into latest state is ONE window over
    state rows ∪ chunk row images: a single hash Exchange on the PK (a
    separate reduction of the chunk would plan a second one)."""
    import re

    from flink_streaming_etl_spark.sources.cdc import CdcSource, apply_changelog
    from tests.test_cdc import ORDER_SCHEMA, env, order, raw_df

    src = CdcSource("orders", ORDER_SCHEMA, "id")
    first = src.parse(raw_df(spark, [env("c", order("o1", "u1", 1.0, "payed"), ts=1)]))
    state = apply_changelog(None, first, "id").localCheckpoint(eager=True)
    chunk = src.parse(raw_df(spark, [
        env("u", order("o1", "u1", 2.0, "closed"), before=order("o1", "u1", 1.0, "payed"), ts=2),
        env("d", before=order("o2", "u1", 3.0, "payed"), ts=3),
    ]))
    p = plan_of(apply_changelog(state, chunk, "id"))
    assert len(re.findall(r"^\(\d+\) Exchange", p, re.M)) == 1, p
    assert re.search(r"hashpartitioning\(id#\d+", p), p


def test_reference_pipeline_never_reads_its_sinks(spark, tmp_path, monkeypatch):
    """Each sink commit of ``ReferencePipeline.run_batch`` is the recomputed
    result written once: no batch scans a sink path, not even once every
    sink exists."""
    from pyspark.sql.readwriter import DataFrameReader

    from flink_streaming_etl_spark.streaming.reference_pipeline import ReferencePipeline
    from tests.test_reference_pipeline import env, parse

    scanned = []
    for method in ("parquet", "load"):
        real = getattr(DataFrameReader, method)

        def spy(self, *paths, _real=real, **kw):
            scanned.extend(str(p) for p in paths)
            return _real(self, *paths, **kw)

        monkeypatch.setattr(DataFrameReader, method, spy)

    root = str(tmp_path / "sinks")
    pipe = ReferencePipeline(spark, root)
    t = "2020-07-30 10:08:22"
    user = {"id": "0001", "name": "Jark", "age": 22, "ctime": t, "utime": t}
    pipe.run_batch({"users": parse(spark, pipe, "users", [env("c", user, ts=1)])})
    renamed = dict(user, name="Sabella")
    pipe.run_batch({"users": parse(spark, pipe, "users", [env("u", renamed, user, ts=2)])})
    assert all(pipe.sinks[name].exists() for name in pipe.sinks)
    assert not [p for p in scanned if p.startswith(root)], scanned
