"""Physical-plan assertions — the scale discipline as executable checks.

Correctness tests prove WHAT each query returns; these prove HOW: filters
reach the parquet reader, dimension joins broadcast instead of shuffling
the fact side, and no query ever falls back to row-at-a-time Python
(BatchEvalPython). A regression here means a 100 TB plan got worse even
though sf0.001 results stayed right."""

import re

import pytest

from kiji_scoring_spark.queries import QUERIES


def executed_plan(spark, sf_dir, name: str) -> str:
    return QUERIES[name].fn(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()


BROADCAST_JOIN_QUERIES = [
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "q10_returned_items",
    "q14_promo_revenue",
    "q18_large_volume_customers",
    "bulk_get_customers",
    "rollup_acctbal_by_nation_segment",
]


@pytest.mark.parametrize("name", BROADCAST_JOIN_QUERIES)
def test_dimension_joins_broadcast(spark, sf_dir, name):
    plan = executed_plan(spark, sf_dir, name)
    assert "BroadcastHashJoin" in plan, f"{name}: no broadcast join in plan"
    assert "SortMergeJoin" not in plan, (
        f"{name}: dimension join fell back to sort-merge (fact side shuffled)"
    )


PUSHDOWN_QUERIES = ["q1_pricing_summary", "q6_forecast_revenue", "filter_in_between_like"]


@pytest.mark.parametrize("name", PUSHDOWN_QUERIES)
def test_filters_reach_parquet_scan(spark, sf_dir, name):
    plan = executed_plan(spark, sf_dir, name)
    assert "PushedFilters: [" in plan
    # at least one scan has a non-empty pushed-filter list
    assert any(
        seg.lstrip().startswith(("IsNotNull", "LessThan", "GreaterThan", "EqualTo", "Or(", "And(", "In("))
        for seg in plan.split("PushedFilters: [")[1:]
    ), f"{name}: every PushedFilters list is empty"


#: Python on purpose: Arrow-batched pandas stages (mapInPandas/applyInPandas)
ARROW_QUERIES = {
    "multimodal_image_features",
    "multimodal_frame_samples",
    "multimodal_video_motion",
    "multimodal_mjpeg_motion",
    "multimodal_mixed_codec_features",
    "multimodal_payload_embeddings",
    "multimodal_audio_features",
    "udaf_trimmed_mean_acctbal",
    "udf_pandas_scalar_discounted_cents",
    # Avro cell codec: pure-Python fallback path is two mapInPandas
    # stages; JVM-side (from_avro) where the connector jar exists
    "avro_cell_roundtrip_nation_stats",
    "avro_nested_cell_roundtrip_orders",
}


def test_no_row_python_anywhere(spark, sf_dir):
    """No registry query may use row-at-a-time Python (BatchEvalPython);
    Python is allowed only as Arrow-batched stages, and only in the
    queries that declare it."""
    offenders, arrow_unexpected = [], []
    for name in sorted(QUERIES):
        if name.startswith("streaming_"):
            continue  # executing the stream here just to read a plan is wasteful
        plan = executed_plan(spark, sf_dir, name)
        if "BatchEvalPython" in plan and "udtf" not in name:
            # UDTFs are the declared row-Python extension point (§2.E),
            # probe-limited by their queries — everything else stays batched
            offenders.append(name)
        if ("ArrowEvalPython" in plan or "MapInPandas" in plan or "FlatMapGroupsInPandas" in plan) \
                and name not in ARROW_QUERIES and "udtf" not in name:
            arrow_unexpected.append(name)
    assert not offenders, f"row-at-a-time Python in: {offenders}"
    assert not arrow_unexpected, f"undeclared pandas stages in: {arrow_unexpected}"


@pytest.mark.parametrize("name", sorted(ARROW_QUERIES))
def test_declared_arrow_stages_are_arrow(spark, sf_dir, name):
    plan = executed_plan(spark, sf_dir, name)
    assert any(
        m in plan for m in ("ArrowEvalPython", "MapInPandas", "FlatMapGroupsInPandas")
    ), f"{name}: expected an Arrow-batched pandas stage"


def test_pandas_freshen_no_forced_broadcast(spark):
    """The scored-stale-rows merge join must NOT carry a broadcast hint:
    with AlwaysFreshen (or any cold table) the stale side is the WHOLE
    table, and a forced broadcast of an unbounded relation is a driver OOM
    at 100 TB. AQE may still choose broadcast at runtime when the side is
    actually small — the gate is on the hint, i.e. the optimized logical
    plan (round-2 fix of fresh.py's pandas path)."""
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from kiji_scoring_spark import model
    from kiji_scoring_spark.fresh import Freshener, FreshTableReader
    from kiji_scoring_spark.policies import AlwaysFreshen
    from kiji_scoring_spark.producers import PandasProducer
    from kiji_scoring_spark.registry import FreshenerRegistry

    schema = StructType(
        [
            StructField("entity_id", StringType(), False),
            StructField("info_visits", model.versions_type(LongType())),
        ]
    )
    df = spark.createDataFrame([("foo", [(1, 10)])], schema)
    producer = PandasProducer(
        batch_fn=lambda pdf: pdf["info_visits"].map(lambda v: 1.0),
        data_request=["info:visits"],
        output_column="info:visits",
    )
    reader = FreshTableReader(spark, "t", df, FreshenerRegistry())
    reader._capsules = {"info:visits": Freshener("info:visits", AlwaysFreshen(), producer)}
    fresh_df = reader.freshen(1_000_000)
    optimized = fresh_df._jdf.queryExecution().optimizedPlan().toString()
    # a forced F.broadcast survives into the optimized plan as a join hint:
    # `Join ..., rightHint=(strategy=broadcast)`
    assert "strategy=broadcast" not in optimized, (
        "freshen pandas path forces a broadcast of the scored stale side"
    )


def test_bucketed_join_is_colocated_no_shuffle(spark, sf_dir):
    """The 100 TB co-located join recipe: write both join sides bucketed
    by the join key (same bucket count), and the join plans with ZERO
    Exchange — neither side shuffles, ever. This is the layout for
    repeated fact-to-fact joins at warehouse scale (bucket pruning +
    shuffle elimination); the test locks the engine's ability to produce
    and exploit it. Broadcast is disabled so the shuffle-free plan is the
    sort-merge join itself, not a broadcast shortcut."""
    from pyspark.sql import functions as F

    from kiji_scoring_spark.sources import load_table

    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    for name in ("b_orders", "b_lineitem"):
        spark.sql(f"DROP TABLE IF EXISTS {name}")
    o.write.bucketBy(8, "o_orderkey").sortBy("o_orderkey").mode("overwrite").saveAsTable("b_orders")
    li.write.bucketBy(8, "l_orderkey").sortBy("l_orderkey").mode("overwrite").saveAsTable("b_lineitem")
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        j = spark.table("b_orders").join(
            spark.table("b_lineitem"),
            F.col("o_orderkey") == F.col("l_orderkey"),
        )
        j.collect()
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan, "bucketed join still shuffled"
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        for name in ("b_orders", "b_lineitem"):
            spark.sql(f"DROP TABLE IF EXISTS {name}")


def test_self_join_reuses_exchange(spark, sf_dir):
    """Catalyst reuses one shuffle for both sides of a self-join over the
    same aggregate (ReusedExchange) — the pattern freshen/analytics reuse
    depends on: deriving two views of one aggregation must not scan or
    shuffle twice."""
    from pyspark.sql import functions as F

    from kiji_scoring_spark.sources import load_table

    li = load_table(spark, sf_dir, "lineitem")
    agg = li.groupBy("l_orderkey").agg(
        F.sum(F.col("l_quantity").cast("decimal(18,2)")).alias("q")
    )
    j = agg.alias("a").join(agg.alias("b"), "l_orderkey").select(
        "l_orderkey", F.col("a.q").alias("qa"), F.col("b.q").alias("qb")
    )
    j.collect()
    plan = j._jdf.queryExecution().executedPlan().toString()
    assert "ReusedExchange" in plan or "ReusedShuffle" in plan, (
        "self-join re-executed the aggregate instead of reusing its shuffle"
    )


def test_sort_within_partitions_no_global_exchange(spark, sf_dir):
    """sortWithinPartitions after a repartition(key) must plan a LOCAL
    sort (global=false) with exactly the one repartition Exchange — the
    write-sorted-runs layout (e.g. bucketBy+sortBy spills) — and the data
    really is sorted within every partition."""
    from pyspark.sql import functions as F

    from kiji_scoring_spark.sources import load_table

    o = load_table(spark, sf_dir, "orders").select("o_custkey", "o_orderkey")
    df = o.repartition(4, "o_custkey").sortWithinPartitions("o_orderkey")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Sort [o_orderkey" in plan and "false, 0" in plan, (
        "expected a local (global=false) sort"
    )
    assert plan.count("Exchange") == 1  # only the repartition, no sort range-exchange
    parts = df.select(F.spark_partition_id().alias("pid"), "o_orderkey").collect()
    seen: dict[int, int] = {}
    for r in parts:
        assert seen.get(r.pid, -1) <= r.o_orderkey  # monotone within partition
        seen[r.pid] = r.o_orderkey


def test_whole_stage_codegen_on_scan_agg(spark, sf_dir):
    df = QUERIES["q1_pricing_summary"].fn(spark, sf_dir)
    df.collect()  # AQE finalizes THIS df's plan only when it itself runs
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in plan
    # codegen stages print as `*(n) Operator` in the plan string
    assert "*(" in plan, "no whole-stage-codegen span in final plan"


def test_contamination_eval_set_broadcasts(spark, sf_dir):
    """The contamination check's eval-shingle join must broadcast (the
    benchmark side is tiny next to the corpus) — a shuffled join here
    would move every training shingle twice at 100 TB."""
    plan = executed_plan(spark, sf_dir, "contamination_ngram_overlap")
    assert "BroadcastHashJoin" in plan, "eval shingle set not broadcast"


def test_repetition_flags_single_shuffle(spark, sf_dir):
    """quality_repetition_flags shares ONE hash exchange (on compact
    pre-explode document rows) between its two aggregation levels; the
    only other exchange is the final presentation sort."""
    plan = executed_plan(spark, sf_dir, "quality_repetition_flags")
    assert plan.count("Exchange hashpartitioning") == 1, (
        "two-level token aggregation stopped sharing its doc_id exchange"
    )


def test_q21_rollup_and_windows_share_exchange(spark, sf_dir):
    """Q21's per-(order,supplier) rollup and both per-order window
    aggregates must all run inside the single l_orderkey exchange the
    explicit repartition provides (subset-satisfaction of the two-key
    grouping) — no second shuffle between aggregate and window."""
    plan = executed_plan(spark, sf_dir, "q21_waiting_suppliers")
    hashes = [
        seg.split(")")[0]
        for seg in plan.split("Exchange hashpartitioning(")[1:]
    ]
    orderkey_exchanges = [h for h in hashes if "l_orderkey" in h]
    assert len(orderkey_exchanges) == 1, (
        f"expected one l_orderkey exchange, saw {len(orderkey_exchanges)}"
    )


def test_contiguous_ids_offsets_broadcast(spark, sf_dir):
    """ids_contiguous_no_global_sort joins bucket offsets back by
    broadcast; the row-numbering sort must be per-bucket (the window's
    local sort), never a single-partition global sort of the data."""
    plan = executed_plan(spark, sf_dir, "ids_contiguous_no_global_sort")
    assert "BroadcastHashJoin" in plan, "bucket offsets not broadcast"


def test_dpp_prunes_partitioned_fact_scan(spark, sf_dir):
    """The priority-partitioned fact scan must carry a
    dynamicpruningexpression in its PartitionFilters — the broadcast
    dim's keys prune fact partitions at runtime. Without DPP the join
    reads every partition of a 100 TB fact table and filters afterward."""
    plan = executed_plan(spark, sf_dir, "dpp_partitioned_orders_join")
    assert "dynamicpruning" in plan.lower(), (
        "no dynamic partition pruning on the partitioned fact scan"
    )


def test_scd2_single_exchange(spark, sf_dir):
    """The whole SCD2 build — lag window, running sum, period aggregate,
    valid_to lead window — must run inside ONE user_id hash exchange
    (subset-satisfaction: HashPartitioning(user_id) serves the
    (user_id, period_seq) aggregate and both windows). A second shuffle
    here doubles the movement of a 100 TB event log."""
    plan = executed_plan(spark, sf_dir, "scd2_event_type_history")
    hashes = [
        seg.split(")")[0]
        for seg in plan.split("Exchange hashpartitioning(")[1:]
    ]
    user_exchanges = [h for h in hashes if "user_id" in h]
    assert len(user_exchanges) == 1, (
        f"expected one user_id exchange, saw {len(user_exchanges)}"
    )


def test_bloom_runtime_filter_prunes_probe_side(spark, sf_dir):
    """With the shuffle path forced (no broadcast), the selective orders
    filter must inject a runtime bloom filter into the lineitem scan
    (BloomFilterMightContain / might_contain) — at 100 TB this prunes the
    probe side BEFORE the join shuffle. The registered query leaves AQE
    free to broadcast instead (same pruning, different mechanism); this
    gate proves the bloom path exists when broadcast is off the table."""
    old_thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    old_creation = spark.conf.get(
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold"
    )
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold",
            "1GB",
        )
        plan = executed_plan(
            spark, sf_dir, "runtimefilter_bloom_join_revenue"
        )
        assert "might_contain" in plan.lower(), (
            "no runtime bloom filter on the lineitem probe side"
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_thresh)
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold",
            old_creation,
        )


ROUND5_BROADCAST_QUERIES = [
    # FK anti-joins against dimension key sets must broadcast
    "dq_constraint_audit",
    # nation/region dims must broadcast under the ratio window
    "window_ratio_to_report",
    # both blocking passes probe with a tiny literal probe set
    "er_multipass_blocking_names",
]


@pytest.mark.parametrize("name", ROUND5_BROADCAST_QUERIES)
def test_round5_dimension_joins_broadcast(spark, sf_dir, name):
    plan = executed_plan(spark, sf_dir, name)
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan, (
        f"{name}: no broadcast join in plan"
    )
    assert "SortMergeJoin" not in plan, (
        f"{name}: small side fell back to sort-merge (fact side shuffled)"
    )


def test_sparse_postings_join_not_cartesian(spark, sf_dir):
    """The inverted-index pair join must be an equi-join on term —
    a CartesianProduct here means the posting join degenerated to
    all-pairs."""
    plan = executed_plan(spark, sf_dir, "similarity_sparse_inverted_index")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


SINGLE_EXCHANGE_QUERIES = [
    # docstring claims "one exchange serves both windows / the whole
    # chain" — hold them to it: weighted median's running+total sums,
    # the pattern funnel's rank+two-anchor windows+aggregate, and CDC
    # apply's rank+count windows each cluster once on their key
    "cdc_apply_changes_ordered",
    "funnel_pattern_no_error_between",
    "stats_weighted_median",
    # r6: first-seen-flag running distinct — both windows cluster on
    # user_id, so the lag() pass and the running sum share one exchange
    "window_running_distinct_types",
]


def test_running_distinct_uses_bounded_state(spark, sf_dir):
    """The scalable running-distinct must be the first-seen-flag plan:
    no collect_set anywhere (the O(distinct-domain)-state translation it
    replaced), state per window row O(1)."""
    plan = executed_plan(spark, sf_dir, "window_running_distinct_types")
    assert "collect_set" not in plan, "running distinct regressed to set-state"


@pytest.mark.parametrize("name", SINGLE_EXCHANGE_QUERIES)
def test_round5_window_chains_single_exchange(spark, sf_dir, name):
    plan = executed_plan(spark, sf_dir, name)
    n = plan.count("Exchange hashpartitioning")
    assert n == 1, f"{name}: expected exactly 1 hash exchange, found {n}"


def test_aqe_splits_skewed_join_partition(spark):
    """The session's AQE config must actually split a hot join key at
    runtime — the safety net under every un-salted join in the registry
    (salting covers the ones we KNOW are skewed; AQE covers the ones we
    don't). A synthetic 80%-one-key join, shuffled (broadcast off) with
    thresholds scaled to test-sized data, must execute with
    SortMergeJoin(skew=true) in the final adaptive plan. If a Spark
    upgrade or conf drift disabled skew handling, this catches it."""
    from pyspark.sql import functions as F

    saved = {
        k: spark.conf.get(k)
        for k in (
            "spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes",
        )
    }
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
        spark.conf.set(
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "64KB"
        )
        spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16KB")
        left = spark.range(0, 300000).select(
            F.when(F.col("id") % 5 != 0, F.lit(0))
            .otherwise(F.col("id") % 100)
            .alias("k"),
            F.col("id").alias("payload"),
        )
        right = spark.range(0, 100).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("w")
        )
        j = left.join(right, "k").groupBy().agg(F.sum("payload").alias("s"))
        j.collect()  # AQE decides at runtime; plan must be executed
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in plan, "AQE did not split the skewed partition"
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


#: r7: the multimodal codec pipelines must stay NARROW — synthesize,
#: metadata, and decode are all mapInPandas/project stages over the same
#: partitioning, so the only exchanges in the plan are the final
#: presentation orderBy (rangepartitioning) and, as of r11, ONE
#: deliberate round-robin spread of the cheap source text BEFORE
#: synthesis (compute-bound pipelines split by rows, not input bytes —
#: sf10's 500 K docs arrived as 2 scan splits). A hashpartitioning
#: exchange appearing here would mean a shuffle crept BETWEEN codec
#: stages — at 100 TB that is moving every payload byte across the
#: cluster for nothing.
MULTIMODAL_NARROW_QUERIES = [
    "multimodal_image_features",
    "multimodal_audio_features",
    "multimodal_frame_samples",
    "multimodal_video_motion",
    "multimodal_mjpeg_motion",
    "multimodal_mixed_codec_features",
    "multimodal_payload_embeddings",
]


@pytest.mark.parametrize("name", MULTIMODAL_NARROW_QUERIES)
def test_multimodal_codec_pipelines_are_narrow(spark, sf_dir, name):
    plan = executed_plan(spark, sf_dir, name)
    n = plan.count("Exchange hashpartitioning")
    assert n == 0, f"{name}: codec pipeline grew a hash shuffle:\n{plan}"


def test_bpe_round_partial_agg_and_broadcast_fold(spark, sf_dir):
    """One BPE merge round's physical shape, gated un-checkpointed:
    (a) the pair-count aggregation must run partial (map-side combine)
    before its single hash exchange — at 100 TB the vocab table shuffles
    combined (l,r) partials, not one record per pair occurrence; (b) the
    one-row winner folds back via a broadcast nested-loop join, never a
    shuffle of the vocab state."""
    from pyspark.sql import functions as F

    from kiji_scoring_spark.queries_train import (
        _bpe_apply,
        _bpe_best,
        _bpe_word_freq,
    )

    # checkpoint the state as _bpe_learn does per round, so the plans
    # below show ONE round's cost, not the corpus pass
    st = (
        _bpe_word_freq(spark, sf_dir)
        .localCheckpoint()
        .withColumn("syms", F.split("s", "[|]"))
    )
    best = _bpe_best(st)
    best.collect()  # finalize AQE
    bplan = best._jdf.queryExecution().executedPlan().toString()
    assert "partial_sum" in bplan, "pair counts lost map-side combine"
    assert "partial_min_by" in bplan, "argmax lost partial aggregation"

    nxt = _bpe_apply(st, best.localCheckpoint())
    nxt.collect()
    nplan = nxt._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" in nplan, "winner fold not broadcast"
    assert "Exchange hashpartitioning" not in nplan, (
        "the merge fold shuffled the vocab state"
    )


def test_census_never_expands_pairs(spark, sf_dir):
    """dedup_minhash_bucket_census (r10): the census is the LINEAR face
    of the minhash family — its whole point is reporting candidate-pair
    totals COMBINATORIALLY (sum k·(k−1)/2 over bucket sizes) without
    ever materializing a pair. The plan must therefore contain no
    Generate (explode) beyond the signature pipeline's shingle explode,
    and the band groupBys must keep map-side partial aggregation."""
    plan = executed_plan(spark, sf_dir, "dedup_minhash_bucket_census")
    # exactly one Generate: the shingle explode inside the signature
    # pipeline; a second one would be a pair expansion sneaking in
    assert plan.count("Generate explode") == 1, (
        "census plan grew an extra explode — pair expansion is exactly "
        "what this query exists to avoid"
    )
    assert "partial_count" in plan or "partial_sum" in plan, (
        "census lost map-side partial aggregation"
    )
    assert "BatchEvalPython" not in plan


def test_quantile_sketch_merge_walk_is_tiny_and_broadcast(spark, sf_dir):
    """sketch_quantile_shard_merge (r10): the scale path is the sketch —
    shards merge by groupBy-sum (partial agg), the cumulative walk runs
    over O(buckets) rows, and every composition join is a broadcast of a
    one-row aggregate (BroadcastNestedLoopJoin), never a shuffle join.
    The one intentional global sort is the pinned-rank exact REFERENCE."""
    plan = executed_plan(spark, sf_dir, "sketch_quantile_shard_merge")
    assert "BroadcastNestedLoopJoin" in plan, (
        "one-row totals/est/exact composition lost its broadcast"
    )
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan, (
        "a one-row composition join fell back to a shuffle join"
    )
    assert "partial_sum" in plan, "shard merge lost map-side combine"
    assert "BatchEvalPython" not in plan


def test_topk_sketch_merge_stays_small_side_broadcast(spark, sf_dir):
    """sketch_topk_shard_merge (r11): the scale path is the ≤K-row
    summary — shard weights merge by groupBy-sum (partial agg), every
    join against the summary or a one-row aggregate broadcasts (never a
    shuffle join), and the exact top-3 REFERENCE is a TakeOrdered top-k,
    not a global sort of the item space."""
    plan = executed_plan(spark, sf_dir, "sketch_topk_shard_merge")
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan, (
        "a summary/one-row composition join fell back to a shuffle join"
    )
    assert "BroadcastNestedLoopJoin" in plan, (
        "one-row totals/flags composition lost its broadcast"
    )
    assert "TakeOrderedAndProject" in plan, (
        "exact top-3 reference became a full global sort"
    )
    assert "partial_sum" in plan, "shard weight merge lost map-side combine"
    assert "partial_count" in plan, "exact counts lost map-side combine"
    assert "BatchEvalPython" not in plan


def test_bottomk_sketch_merge_is_takeordered_and_broadcast(spark, sf_dir):
    """sketch_bottomk_sample_shards (r11): the merged bottom-K must be a
    TakeOrdered top-k over the ≤ shards*K stored sample rows — never a
    full global sort — and the one-row totals/exact/sample composition
    joins must broadcast. The exact distinct reference keeps partial
    aggregation; nothing touches Python."""
    plan = executed_plan(spark, sf_dir, "sketch_bottomk_sample_shards")
    assert "TakeOrderedAndProject" in plan, (
        "merged bottom-K became a full global sort"
    )
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan, (
        "a one-row composition join fell back to a shuffle join"
    )
    assert "BroadcastNestedLoopJoin" in plan, (
        "one-row totals/exact/sample composition lost its broadcast"
    )
    assert "partial_count" in plan, "exact distinct lost partial aggregation"
    assert "BatchEvalPython" not in plan


def test_streaming_sketch_fold_final_plan_is_takeordered_broadcast(spark, sf_dir):
    """streaming_sketch_incremental_merge (r12): the returned plan reads
    the ≤K-row folded state + one-row meta — the sample ranking must be
    a window over ≤K rows with the meta×sample composition a broadcast
    (never a shuffle join), and nothing touches Python. The per-batch
    fold plans inside foreachBatch are TakeOrdered(K) by construction
    (orderBy().limit() on a micro-batch); the state files they leave
    behind are what this final plan consumes."""
    plan = executed_plan(spark, sf_dir, "streaming_sketch_incremental_merge")
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan, (
        "meta x sample one-row composition fell back to a shuffle join"
    )
    assert "BroadcastNestedLoopJoin" in plan, (
        "meta x sample composition lost its broadcast"
    )
    assert "BatchEvalPython" not in plan


def test_pq_adc_query_phase_is_broadcast_only(spark, sf_dir):
    """similarity_pq_adc_topk (r12): the ADC query phase reads the
    persisted codes table and must never shuffle-join the corpus — the
    LUT rides a ONE-ROW broadcast of per-subspace maps (pure
    try_element_at lookups in the scan, zero corpus joins — the
    register-resident-LUT shape real ADC uses), the winners' exact
    join-back is a broadcast hash join, the top-10 a TakeOrdered, and
    nothing touches Python. (The tiny exchanges that remain feed the
    1-row probe limit and the 10-row winner window, not corpus data.)"""
    QUERIES["similarity_pq_adc_topk"].fn(spark, sf_dir).count()  # build codes
    plan = executed_plan(spark, sf_dir, "similarity_pq_adc_topk")
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan, (
        "a PQ query-phase join fell back to a shuffle join"
    )
    assert "BroadcastHashJoin" in plan, (
        "the winners' exact join-back lost its broadcast"
    )
    assert "BroadcastNestedLoopJoin" in plan, (
        "the one-row LUT-map composition lost its broadcast"
    )
    assert "TakeOrderedAndProject" in plan, (
        "ADC top-10 became a full global sort"
    )
    assert "BatchEvalPython" not in plan


def test_theta_set_ops_composition_is_broadcast_only(spark, sf_dir):
    """sketch_theta_set_ops (r12): the set-op phase works over two ≤K-row
    persisted samples and one-row aggregates — the sample-intersection
    join must broadcast (never shuffle), every one-row composition is a
    broadcast nested-loop, the exact reference keeps map-side partial
    aggregation, and nothing touches Python."""
    plan = executed_plan(spark, sf_dir, "sketch_theta_set_ops")
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan, (
        "a sample/one-row composition join fell back to a shuffle join"
    )
    assert "BroadcastHashJoin" in plan, (
        "the sample-intersection join lost its broadcast"
    )
    assert "BroadcastNestedLoopJoin" in plan, (
        "one-row stats/theta/exact composition lost its broadcast"
    )
    assert "partial_count" in plan, "sample stats lost partial aggregation"
    assert "partial_sum" in plan, "exact reference lost map-side combine"
    assert "BatchEvalPython" not in plan


def _build_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _sketch_build_frames(spark, sf_dir):
    """The three persisted-sketch state builds, as written to parquet."""
    from pyspark.sql import functions as F

    from kiji_scoring_spark.queries_graph import (
        _kmv_bottomk_build,
        _mg_item,
        _mg_shard_build,
        _theta_sample_build,
    )
    from kiji_scoring_spark.sources import load_table

    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_partkey").isNotNull() & F.col("l_orderkey").isNotNull()
    )
    kmv_src = li.select(
        F.col("l_partkey").alias("key"),
        F.pmod(F.col("l_orderkey"), F.lit(8)).alias("shard"),
    )
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_custkey").isNotNull())
    theta_src = o.select(
        F.col("o_custkey").alias("key"),
        F.when(F.col("o_orderpriority") == "1-URGENT", 1).otherwise(0).alias("in_a"),
        F.when(F.col("o_orderpriority") == "5-LOW", 1).otherwise(0).alias("in_b"),
    )
    mg_src = _mg_item(load_table(spark, sf_dir, "lineitem"))
    return {
        "kmv_bottomk": _kmv_bottomk_build(kmv_src),
        "theta_samples": _theta_sample_build(theta_src),
        "mg_shards": _mg_shard_build(mg_src),
    }


def test_sketch_state_builds_have_no_single_task_population_sort(spark, sf_dir):
    """r12 verdict's one scale flaw: the theta/bottom-k/Misra-Gries state
    builds ranked each population with a window keyed by a LOW-CARDINALITY
    group (2 pops / 8 shards) — a single-task sort of n/groups rows at a
    100 TB key space. The r13 `_grouped_top_k` rewrite must show in the
    executed plan:

    - exactly two rank windows, and the one that sees the FULL population
      (the deeper one) is keyed by (group, _slice=spark_partition_id()) —
      as many parallel sort tasks as input partitions, each bounded by
      its partition's rows;
    - the group-only window sits ABOVE it, so its input is only the
      stage-1 survivors (<= partitions*K rows per group);
    - Catalyst's rank-limit pushdown (WindowGroupLimit Partial) fires
      below BOTH exchanges, so no shuffle carries more than K rows per
      group per upstream partition.
    """
    import re

    for name, df in _sketch_build_frames(spark, sf_dir).items():
        plan = _build_plan(df)
        lines = plan.splitlines()
        win_idx = [
            i for i, l in enumerate(lines) if re.search(r"\bWindow \[row_number", l)
        ]
        # a build consumed twice (Misra-Gries' ck1 + kept branches)
        # duplicates the whole subtree: windows come in (outer, inner)
        # pairs, outer (final, group-only) printed above its inner
        # (sliced, full-population) one
        group_wins = [i for i in win_idx if "_slice" not in lines[i]]
        slice_wins = [i for i in win_idx if "_slice" in lines[i]]
        assert group_wins and len(group_wins) == len(slice_wins), (
            f"{name}: rank windows don't pair group-only with sliced "
            f"({len(group_wins)} vs {len(slice_wins)})"
        )
        for outer in group_wins:
            inner = next((j for j in slice_wins if j > outer), None)
            assert inner is not None, (
                f"{name}: a per-group rank window has no per-Spark-partition "
                "stage below it — single-task population sort is back"
            )
            # the exchange feeding the final window must sit BETWEEN the
            # two — i.e. it shuffles stage-1 survivors, not the population
            assert any(
                "Exchange hashpartitioning" in lines[i] and "_slice" not in lines[i]
                for i in range(outer, inner)
            ), f"{name}: no survivor exchange between the paired rank windows"
        partials = [l for l in lines if "WindowGroupLimit" in l and "Partial" in l]
        assert len(partials) >= 2 * len(group_wins), (
            f"{name}: WindowGroupLimit Partial did not fire below every "
            f"exchange (got {len(partials)}, want >= {2 * len(group_wins)})"
        )
        assert "BatchEvalPython" not in plan


def test_streaming_family_fold_final_plan_is_broadcast_only(spark, sf_dir):
    """streaming_sketch_family_fold (r13): the returned plan reads the
    folded HLL/DDSketch/MG state (1 + O(buckets) + <=K rows) plus the
    one-pass exact references — every composition join must broadcast
    (never shuffle-join), the <=K-row MG-vs-exact joins must be broadcast
    hash joins, the exact top-1 a TakeOrdered, and nothing touches
    Python."""
    plan = executed_plan(spark, sf_dir, "streaming_sketch_family_fold")
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan, (
        "a state/one-row composition join fell back to a shuffle join"
    )
    assert "BroadcastHashJoin" in plan, (
        "the MG-summary-vs-exact-counts join lost its broadcast"
    )
    assert "BroadcastNestedLoopJoin" in plan, (
        "a one-row flag/meta composition lost its broadcast"
    )
    assert "TakeOrderedAndProject" in plan, (
        "the exact top-1 became a full global sort"
    )
    assert "BatchEvalPython" not in plan
    # the per-item exact counts grow with the data: no hash join may
    # build on them (the <= K-row MG state is the broadcast side)
    lines = plan.splitlines()
    for i, line in enumerate(lines):
        if "BroadcastExchange HashedRelationBroadcastMode" not in line:
            continue
        col = line.index("BroadcastExchange")
        for below in lines[i + 1:]:
            node = re.search(r"[A-Za-z*]", below)
            if node is None or node.start() <= col:
                break
            assert not re.search(r"Scan ExistingRDD\[item#\d+L?,cnt#", below), (
                "the unbounded per-item counts are broadcast"
            )


def test_delta_theta_contamination_is_broadcast_only(spark, sf_dir):
    """contamination_delta_theta_overlap (r13): the set-op phase works
    over two <=K-row samples and one-row aggregates, and the exact
    reference's eval side is benchmark-sized — every join must broadcast
    (never shuffle-join) and nothing touches Python. The delta itself
    arrives by FILE-level snapshot read (read_delta), so no anti-join
    appears anywhere."""
    plan = executed_plan(spark, sf_dir, "contamination_delta_theta_overlap")
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan, (
        "a sample/eval composition join fell back to a shuffle join"
    )
    assert "BroadcastHashJoin" in plan, (
        "the sample-intersection / eval-reference join lost its broadcast"
    )
    assert "BroadcastNestedLoopJoin" in plan, (
        "a one-row stats/theta composition lost its broadcast"
    )
    assert "BatchEvalPython" not in plan


def test_ivfpq_scan_is_partition_pruned_broadcast_only(spark, sf_dir):
    """similarity_ivfpq_pruned_adc_topk (r13): the inverted lists are
    hive partitions of the codes table, and the 2-cell routing must
    reach the scan as DYNAMIC PARTITION PRUNING — "search two cells" ==
    "read two directories". The rest is the PQ contract: no shuffle
    joins anywhere (broadcast LUT row, broadcast join-back), top-10 a
    TakeOrdered, no Python."""
    QUERIES["similarity_ivfpq_pruned_adc_topk"].fn(spark, sf_dir).count()  # build
    plan = executed_plan(spark, sf_dir, "similarity_ivfpq_pruned_adc_topk")
    assert "dynamicpruning" in plan, (
        "the cell-routing join is not pruning the codes scan's partitions"
    )
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan, (
        "an IVF-PQ query-phase join fell back to a shuffle join"
    )
    assert "BroadcastHashJoin" in plan, (
        "the cell routing / winner join-back lost its broadcast"
    )
    assert "TakeOrderedAndProject" in plan, (
        "ADC top-10 became a full global sort"
    )
    assert "BatchEvalPython" not in plan


def test_streaming_ann_ingest_final_plan_is_pruned_broadcast_only(spark, sf_dir):
    """streaming_ann_index_ingest (r13): the final probe over the
    stream-accumulated index must keep the IVF-PQ contract — dynamic
    partition pruning on the codes scan, no shuffle joins, TakeOrdered
    top-10, no Python. (The per-batch encode runs inside foreachBatch;
    this gates the serving plan the ingest leaves behind.)"""
    plan = executed_plan(spark, sf_dir, "streaming_ann_index_ingest")
    assert "dynamicpruning" in plan, (
        "the cell routing is not pruning the accumulated index's partitions"
    )
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan, (
        "a query-phase join fell back to a shuffle join"
    )
    assert "BroadcastHashJoin" in plan
    assert "TakeOrderedAndProject" in plan
    assert "BatchEvalPython" not in plan
