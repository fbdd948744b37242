"""Physical-plan assertions — the 100 TB design checks (SURVEY.md §4).

Correctness says the query returns the right rows; these tests pin the
PLAN SHAPE that makes it scale: filters pushed to the parquet scan,
column pruning in ReadSchema, broadcast joins where a dimension is
small, whole-stage codegen present, no shuffle where none is needed.
"""

import re

from pyspark.sql import functions as F

from bigdata06_spark.catalog import load_table
from bigdata06_spark.queries import load_all_queries

SPECS = load_all_queries()


def plan_of(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")


def count_plan_nodes(plan: str, node: str) -> int:
    """Count operator occurrences in the plan TREE (the formatted output
    repeats each node in the detail section below the tree)."""
    return len(re.findall(rf"^[\s:+-]*[+:]- {node}", plan, flags=re.M))


def test_filter_pushdown_to_parquet(spark, sf_dir):
    df = SPECS["ref_filter_eq"].fn(spark, sf_dir)
    plan = plan_of(df)
    assert "PushedFilters" in plan
    assert re.search(r"PushedFilters: \[.*l_returnflag.*\]", plan), plan


def test_column_pruning_in_readschema(spark, sf_dir):
    li = load_table(spark, "lineitem", sf_dir).select("l_orderkey", "l_quantity")
    plan = plan_of(li)
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m, plan
    cols = m.group(1)
    assert "l_orderkey" in cols and "l_quantity" in cols
    assert "l_extendedprice" not in cols  # unused columns pruned at scan


def test_flagship_uses_broadcast_joins(spark, sf_dir):
    plan = plan_of(SPECS["q5_revenue_by_nation"].fn(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    # the one big shuffle is the fact join; dims must not add sort-merge joins
    assert plan.count("SortMergeJoin") <= 1, plan


def test_flagship_topk_no_global_sort(spark, sf_dir):
    plan = plan_of(SPECS["ref_sort_topk"].fn(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan, plan


def test_q1_partial_agg_single_shuffle(spark, sf_dir):
    plan = plan_of(SPECS["q1_pricing_summary"].fn(spark, sf_dir))
    assert "partial_sum" in plan  # map-side partial aggregation
    # shuffle carries only (#groups x #tasks) pre-aggregated rows, once
    assert count_plan_nodes(plan, "Exchange") == 1, plan


def test_enrichment_join_no_fact_shuffle(spark, sf_dir):
    plan = plan_of(SPECS["ref_enrichment_join"].fn(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan  # fact side must not shuffle


def test_projection_only_query_no_exchange(spark, sf_dir):
    plan = plan_of(SPECS["ref_derived_columns"].fn(spark, sf_dir))
    assert "Exchange" not in plan  # narrow projection: zero shuffles


def test_asof_join_single_shuffle(spark, sf_dir):
    plan = plan_of(SPECS["join_asof"].fn(spark, sf_dir))
    # union-marker implementation: the only shuffle is the user_id window
    n_exchanges = count_plan_nodes(plan, "Exchange")
    assert n_exchanges == 1, f"as-of join should shuffle exactly once:\n{plan}"


def test_q6_pushdown_and_single_exchange(spark, sf_dir):
    """Q6 is the pushdown probe: all three predicates reach the scan,
    and the only exchange is the 1-row partial-aggregate gather."""
    plan = plan_of(SPECS["q6_forecast_revenue"].fn(spark, sf_dir))
    assert re.search(r"PushedFilters: \[.*l_shipdate.*\]", plan), plan
    assert re.search(r"PushedFilters: \[.*l_quantity.*\]", plan), plan
    assert count_plan_nodes(plan, "Exchange") == 1, plan
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m and "l_returnflag" not in m.group(1)  # unused columns pruned


def test_q7_q9_dims_all_broadcast(spark, sf_dir):
    """Five-way joins where every dimension side broadcasts: no
    sort-merge join may appear for supplier/customer/nation/part."""
    for name in ("q7_volume_shipping", "q9_profit_by_nation"):
        plan = plan_of(SPECS[name].fn(spark, sf_dir))
        assert "BroadcastHashJoin" in plan, plan
        assert plan.count("SortMergeJoin") <= 1, f"{name}: dims must broadcast\n{plan}"


def test_q19_single_scan_broadcast_join(spark, sf_dir):
    """Disjunctive-predicate join: part broadcasts, lineitem never
    shuffles pre-aggregate — one exchange total (the 1-row gather)."""
    plan = plan_of(SPECS["q19_disjunctive_revenue"].fn(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan, plan
    assert count_plan_nodes(plan, "Exchange") == 1, plan


def test_bucketed_join_no_shuffle(spark, sf_dir, tmp_path):
    """Two tables bucketed+sorted on the join key: the join plan has no
    Exchange and no Sort — the physical layout replaces both."""
    from bigdata06_spark.operators.scale import write_bucketed

    li = load_table(spark, "lineitem", sf_dir).select("l_orderkey", "l_quantity")
    o = load_table(spark, "orders", sf_dir).select("o_orderkey", "o_totalprice")
    write_bucketed(li, "li_b", str(tmp_path / "li_b"), "l_orderkey", 8)
    write_bucketed(o, "o_b", str(tmp_path / "o_b"), "o_orderkey", 8)
    thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        # at sf0.01 both tables fit the broadcast threshold, which would
        # hide the property under test (no shuffle for a LARGE-LARGE
        # join); disable broadcast to get the 100 TB plan
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        j = spark.table("li_b").join(
            spark.table("o_b"), F.col("l_orderkey") == F.col("o_orderkey")
        )
        plan = plan_of(j)
        assert "SortMergeJoin" in plan, plan
        assert count_plan_nodes(plan, "Exchange") == 0, f"bucketed join must not shuffle:\n{plan}"
        assert j.count() == li.count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thresh)
        spark.sql("DROP TABLE IF EXISTS li_b")
        spark.sql("DROP TABLE IF EXISTS o_b")


def test_salted_join_matches_plain_join(spark, sf_dir):
    """Salted join == plain join on a skewed input (one hot key with
    half the rows), and the join key carries the salt column."""
    from bigdata06_spark.operators.scale import salted_join

    li = load_table(spark, "lineitem", sf_dir)
    # make a skewed big side: map half the rows onto one hot orderkey
    big = li.select(
        F.when(F.col("l_linenumber") % 2 == 0, F.lit(1)).otherwise(F.col("l_orderkey"))
        .alias("l_orderkey"),
        "l_quantity",
    )
    o = load_table(spark, "orders", sf_dir).select(
        F.col("o_orderkey").alias("l_orderkey"), "o_totalprice"
    )
    plain = big.join(o, "l_orderkey").agg(
        F.count(F.lit(1)).alias("n"), F.sum("l_quantity").alias("q")
    ).collect()[0]
    salted = salted_join(big, o, "l_orderkey").agg(
        F.count(F.lit(1)).alias("n"), F.sum("l_quantity").alias("q")
    ).collect()[0]
    assert plain.n == salted.n and plain.q == salted.q
    plan = plan_of(salted_join(big, o, "l_orderkey"))
    assert "_salt" in plan  # salt participates in the join key


def test_decontaminate_broadcasts_eval_side(spark, sf_dir):
    """The eval-shingle side is tiny (benchmarks vs corpus): it must
    broadcast, and the training-side explode must not shuffle pre-join."""
    plan = plan_of(SPECS["corpus_decontaminate"].fn(spark, sf_dir))
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_redact_pii_zero_shuffle(spark, sf_dir):
    """Scrubbing is a per-row projection: no exchange anywhere."""
    plan = plan_of(SPECS["text_redact_pii"].fn(spark, sf_dir))
    assert "Exchange" not in plan, plan


def test_vocabulary_single_scan(spark, sf_dir):
    """The corpus is scanned and exploded exactly once; the coverage
    denominator comes from a window frame, not a second scan."""
    plan = plan_of(SPECS["text_vocabulary"].fn(spark, sf_dir))
    assert count_plan_nodes(plan, "Scan parquet") == 1, plan
    # vocab-sized single-partition window + two agg exchanges only
    assert count_plan_nodes(plan, "Exchange") <= 3, plan


def test_split_assign_zero_shuffle(spark, sf_dir):
    plan = plan_of(SPECS["corpus_split_assign"].fn(spark, sf_dir))
    assert count_plan_nodes(plan, "Exchange") == 0, plan


def test_weighted_sample_topk_no_shuffle(spark, sf_dir):
    plan = plan_of(SPECS["sample_weighted"].fn(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan, plan
    assert count_plan_nodes(plan, "Exchange") == 0, plan


def test_zscore_stats_broadcast_no_fact_shuffle(spark, sf_dir):
    plan = plan_of(SPECS["events_zscore_outliers"].fn(spark, sf_dir))
    # per-type stats broadcast back onto the scan: the only exchange is
    # the |types|-row aggregation's, never the events fact
    assert "BroadcastHashJoin" in plan, plan
    assert count_plan_nodes(plan, "Exchange") <= 1, plan
    assert "SortMergeJoin" not in plan, plan


def test_repetition_stats_copartitioned_join(spark, sf_dir):
    plan = plan_of(SPECS["text_repetition_stats"].fn(spark, sf_dir))
    # 2 aggs per n-gram side; the final doc_id join must broadcast or
    # co-locate, never add a 5th exchange
    assert count_plan_nodes(plan, "Exchange") <= 4, plan


def test_simhash_no_distinct_exchange(spark, sf_dir):
    plan = plan_of(SPECS["dedup_simhash"].fn(spark, sf_dir))
    # pair dedup is the inline first-matching-chunk predicate, not a
    # .distinct(): exchanges = signature agg + chunk-key join sides only
    assert count_plan_nodes(plan, "Exchange") <= 3, plan


def test_salted_agg_matches_direct_agg(spark, sf_dir):
    """Two-phase salted aggregation must be row-identical to the direct
    groupBy, and its first phase must key on (key, salt) — the skew
    spread — with partial aggregation in both phases."""
    from bigdata06_spark.operators.scale import salted_agg

    li = load_table(spark, "lineitem", sf_dir)
    got = salted_agg(
        li, "l_returnflag", {"l_quantity": "sum", "l_orderkey": "count"}, n_salts=8
    )
    exp = li.groupBy("l_returnflag").agg(
        F.sum("l_quantity").alias("l_quantity_sum"),
        F.count(F.lit(1)).alias("l_orderkey_count"),
    )
    g = {tuple(r) for r in got.collect()}
    e = {tuple(r) for r in exp.collect()}
    assert g == e
    plan = plan_of(got)
    assert "_salt" in plan


def test_quantize_zero_shuffle(spark, sf_dir):
    plan = plan_of(SPECS["embedding_quantize_int8"].fn(spark, sf_dir))
    assert count_plan_nodes(plan, "Exchange") == 0, plan


def test_trending_decay_broadcast_single_agg(spark, sf_dir):
    # 1-row max-ts broadcast onto the scan; exchanges = the 1-row
    # partial-max gather + the final per-type aggregation — never a
    # fact-wide join shuffle
    plan = plan_of(SPECS["events_trending_decay"].fn(spark, sf_dir))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan, plan
    assert count_plan_nodes(plan, "Exchange") <= 2, plan
    assert "SortMergeJoin" not in plan, plan


def test_bins_lookup_no_fact_sort(spark, sf_dir):
    # the scoring pass must not globally sort the fact: the only sort
    # belongs to the 9-row edge-fitting window
    plan = plan_of(SPECS["feature_bins_lookup"].fn(spark, sf_dir))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan, plan


def test_payload_flatten_queries_zero_exchange(spark, sf_dir):
    """The manufactured-struct payload flattens (playlist/category) are
    pure projections — zero shuffles, like every connector flatten."""
    for name in ("ref_playlist_flatten", "ref_category_flatten"):
        plan = plan_of(SPECS[name].fn(spark, sf_dir))
        assert count_plan_nodes(plan, "Exchange") == 0, f"{name}:\n{plan}"


def test_winnowing_single_exchange(spark, sf_dir):
    """Winnowing's only shuffle is the amplification rebalance on
    doc_id: the per-doc window sorts within those partitions, and the
    final distinct's grouping keys are a superset of the partitioning
    key, so neither adds an exchange."""
    plan = plan_of(SPECS["text_winnowing_fingerprints"].fn(spark, sf_dir))
    assert count_plan_nodes(plan, "Exchange") == 1, plan


def test_lsh_ann_arrow_stage_and_no_smj(spark, sf_dir):
    """The ANN signature computation is Arrow-vectorized (one matmul
    per batch, not interpreted HOFs) and the bucket join must never be
    a sort-merge join of exploded rows at fixture scale."""
    plan = plan_of(SPECS["knn_lsh_ann"].fn(spark, sf_dir))
    assert "ArrowEvalPython" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_rebalance_for_amplification_semantics(spark, sf_dir):
    """The rebalance helper repartitions a narrow input to default
    parallelism on the key — and is a NO-OP (returns the same plan
    object) when the input already has at least that many partitions,
    the property that makes it free at cluster scale."""
    from bigdata06_spark.operators.scale import rebalance_for_amplification

    docs = load_table(spark, "documents", sf_dir)
    assert docs.rdd.getNumPartitions() == 1  # small file: one split
    target = spark.sparkContext.defaultParallelism
    out = rebalance_for_amplification(docs, "doc_id")
    assert out.rdd.getNumPartitions() == target
    wide = docs.repartition(target * 2)
    assert rebalance_for_amplification(wide, "doc_id") is wide


def test_scd2_single_exchange(spark, sf_dir):
    """cdc_scd2_history: lag-window, run-sum window, run groupBy, and
    the closing lead-window all cluster on user_id — HashPartitioning
    on user_id satisfies every later (coarser) clustering requirement,
    so the whole gaps-and-islands pipeline rides ONE exchange."""
    plan = plan_of(SPECS["cdc_scd2_history"].fn(spark, sf_dir))
    assert count_plan_nodes(plan, "Exchange") == 1, plan


def test_runtime_bloom_filter_injectable(spark, sf_dir):
    """Runtime bloom-filter semi-join reduction: for a shuffle join
    whose build side carries a selective filter, the optimizer injects
    a bloom filter built from the small side's join keys and applies
    `might_contain` on the big side BEFORE its shuffle — rows that
    can't match never enter the exchange. At 100 TB this is the cheap
    version of a semi-join pre-reduction; thresholds are lowered here
    because the mechanism (not the default sizing) is what must hold.
    Confs are runtime-settable optimizer flags, restored after."""
    saved = {
        k: spark.conf.get(k, None)
        for k in (
            "spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.adaptive.autoBroadcastJoinThreshold",
            "spark.sql.optimizer.runtime.bloomFilter.enabled",
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold",
        )
    }
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0"
        )
        spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold", "100MB")
        o = load_table(spark, "orders", sf_dir).filter(F.col("o_orderpriority") == "1-URGENT")
        li = load_table(spark, "lineitem", sf_dir)
        df = li.join(o, li.l_orderkey == o.o_orderkey).groupBy("o_orderpriority").count()
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        assert "might_contain" in plan, plan
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_aqe_skew_join_splits_hot_partition(spark, sf_dir):
    """AQE skew handling observed at RUNTIME, not just configured: a
    join with one hot key (>100x the median partition) runs under
    lowered skew thresholds and the FINAL adaptive plan marks the
    sort-merge join skew=true — the hot partition was split across
    tasks instead of becoming the straggler. This is skew policy #2
    from SCALE.md doing its job without any query rewrite."""
    saved = {
        k: spark.conf.get(k, None)
        for k in (
            "spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.adaptive.autoBroadcastJoinThreshold",
            "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes",
            "spark.sql.adaptive.coalescePartitions.minPartitionSize",
        )
    }
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
        spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "16KB")
        spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16KB")

        hot = spark.range(1_000_000).select(F.lit(1).alias("k"), F.col("id").alias("v"))
        tail = spark.range(2, 2_000).select(F.col("id").alias("k"), F.col("id").alias("v"))
        big = hot.unionAll(tail)
        dim = spark.range(1, 2_000).select(F.col("id").alias("k"), (F.col("id") * 2).alias("w"))
        # the aggregate must NOT cluster on the join key: skew-split
        # breaks the join's hash-partitioning guarantee, so AQE skips
        # it when a downstream stage requires that distribution (a
        # groupBy("k") here silently disables the optimization)
        out = big.join(dim, "k").agg(
            F.sum(F.col("w") + F.col("v")).alias("tw"), F.count(F.lit(1)).alias("n")
        )
        rows = out.collect()
        assert rows[0].n == 1_001_998
        final = plan_of(out)
        assert "isFinalPlan=true" in final
        assert "skew=true" in final, final
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_spill_thresholds_do_not_change_results(spark, sf_dir):
    """Spill-safety: with window/join/agg buffer-spill thresholds forced
    to a few rows, every buffered operator runs through its spill path
    — results must be identical. At 100 TB spilling is routine, not
    exceptional; an operator that only works in-memory is wrong."""
    names = ["topk_per_group", "window_running_sum", "sessionize_events", "q18_large_volume_customers"]
    expected = {n: sorted(map(tuple, SPECS[n].fn(spark, sf_dir).collect())) for n in names}
    keys = (
        "spark.sql.windowExecBufferSpillThreshold",
        "spark.sql.sortMergeJoinExecBufferSpillThreshold",
        "spark.sql.cartesianProductExecBufferSpillThreshold",
    )
    saved = {k: spark.conf.get(k, None) for k in keys}
    try:
        for k in keys:
            spark.conf.set(k, "4")
        for n in names:
            got = sorted(map(tuple, SPECS[n].fn(spark, sf_dir).collect()))
            assert got == expected[n], n
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_bm25_dims_broadcast(spark, sf_dir):
    """BM25's df/corpus-stats relations are vocabulary-/single-row-sized
    — they must broadcast; the only sort-merge-scale joins allowed are
    none (tf joins dl on the doc id, both doc-sized but AQE-planned)."""
    plan = plan_of(SPECS["text_bm25_topk"].fn(spark, sf_dir))
    assert "BroadcastHashJoin" in plan, plan


def test_cumulative_distinct_two_exchanges(spark, sf_dir):
    """First-seen rewrite: one shuffle per aggregate level (user, then
    day) and the single-partition cumsum — never a per-day rescan."""
    plan = plan_of(SPECS["events_cumulative_distinct"].fn(spark, sf_dir))
    assert count_plan_nodes(plan, "Exchange") <= 3, plan


def test_null_safe_join_is_hash_join(spark, sf_dir):
    """Null-safe equality must still plan a hash join (NULL hashes as a
    key value) — not degrade to nested-loop."""
    plan = plan_of(SPECS["join_null_safe"].fn(spark, sf_dir))
    assert "BroadcastHashJoin" in plan or "SortMergeJoin" in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_affinity_graph_no_cartesian(spark, sf_dir):
    """The bipartite projection must come from the part-key inverted
    index join, never a supplier×supplier cross product."""
    plan = plan_of(SPECS["supplier_affinity_graph"].fn(spark, sf_dir))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_embedding_cosine_blocked_no_nested_loop(spark, sf_dir):
    """VERDICT r2 #1: the exact all-pairs cosine query must plan a
    shuffled EQUI-join on the tile key — never a CartesianProduct or
    BroadcastNestedLoopJoin. (Why it stays exact rather than
    ANN-candidates: see operators/similarity.py:allpairs_blocked.)"""
    plan = plan_of(SPECS["dedup_embedding_cosine"].fn(spark, sf_dir))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    # any equi-join is fine (BHJ at tiny SF where the build side is
    # KBs; stats pick SMJ/SHJ at scale) — the pin is "no nested loop".
    assert (
        "SortMergeJoin" in plan or "ShuffledHashJoin" in plan or "BroadcastHashJoin" in plan
    ), plan


def test_stop_shingle_df_no_window_shuffle(spark, sf_dir):
    """VERDICT r2 #2: the max_df document-frequency pass must be a
    map-side-combined groupBy + broadcast anti-join — never a Window
    over the shingle key (which would shuffle the full index on the
    very keys the feature exists to remove)."""
    plan = plan_of(SPECS["dedup_jaccard_stop_shingles"].fn(spark, sf_dir))
    assert "Window" not in plan, plan
    assert re.search(r"BroadcastHashJoin LeftAnti", plan), plan


def test_salted_join_bounds_max_partition(spark):
    """VERDICT r2 #6: measured skew proof, not just a plan pin. A
    Zipf-like keyed fact (hot key = 50% of rows, second key = 25%,
    tail uniform) joined to a per-key dim: the salted join must spread
    the hot key across reducers — max post-join partition ≤ 1/3 of the
    plain join's straggler — while the row set is identical. AQE and
    broadcast are disabled for the measurement (AQE's skew split would
    mask the property; salting is the lever for engines/paths where
    that isn't available, e.g. streaming state or partial-agg skew)."""
    from bigdata06_spark.operators.scale import salted_join

    n, n_keys = 40_000, 100
    base = spark.range(n)
    big = base.select(
        F.when(F.col("id") % 2 == 0, F.lit(0))
        .when(F.col("id") % 4 == 1, F.lit(1))
        .otherwise(F.col("id") % n_keys)
        .alias("k"),
        F.col("id").alias("payload"),
    )
    small = spark.range(n_keys).select(F.col("id").alias("k"), (F.col("id") * 10).alias("dim"))

    saved = {
        "spark.sql.adaptive.enabled": spark.conf.get("spark.sql.adaptive.enabled"),
        "spark.sql.autoBroadcastJoinThreshold": spark.conf.get(
            "spark.sql.autoBroadcastJoinThreshold"
        ),
    }
    try:
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")

        def max_partition(df):
            sizes = (
                df.withColumn("pid", F.spark_partition_id())
                .groupBy("pid")
                .count()
                .collect()
            )
            return max(r["count"] for r in sizes)

        plain = big.join(small, "k")
        salted = salted_join(big, small, "k")
        plain_max, salted_max = max_partition(plain), max_partition(salted)
        # hot key alone is n/2 rows in ONE reducer unsalted; salted it
        # spreads over n_salts=8 reducers
        assert plain_max >= n // 2, plain_max
        assert salted_max <= plain_max // 3, (plain_max, salted_max)
        # ...and the join result is unchanged
        assert sorted(map(tuple, salted.collect())) == sorted(map(tuple, plain.collect()))
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


def test_semantic_dedup_no_cartesian(spark, sf_dir):
    """SemDeDup's pairwise pass must ride the cluster equi-join —
    never a corpus-wide cartesian. The only nested-loop joins allowed
    are kmeans_assign's deliberate k-row centroid broadcasts
    (Cross/no-condition against a bounded build side); the pair
    predicate must not appear in any of them, and an equi-join on the
    cluster key must exist."""
    plan = plan_of(SPECS["dedup_semantic"].fn(spark, sf_dir))
    assert "CartesianProduct" not in plan, plan
    # pair join is an equi-join keyed on cluster
    assert re.search(
        r"(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin)[\s\S]{0,200}cluster", plan
    ), plan
    # no BNLJ block carries the pair predicate (dup_of/vec_id compare)
    for blk in plan.split("\n\n"):
        if blk.strip().startswith("(") and "BroadcastNestedLoopJoin" in blk.splitlines()[0]:
            assert "dup_of" not in blk and "Join condition: None" in blk, blk


def test_knn_filtered_pushes_label_filter(spark, sf_dir):
    """Filtered vector search: the metadata predicate must reach the
    corpus parquet scan (candidate shrink at the source), not run
    post-ranking."""
    plan = plan_of(SPECS["knn_filtered"].fn(spark, sf_dir))
    assert re.search(r"PushedFilters: \[.*label.*\]", plan), plan


def test_fuzzy_er_join_is_blocked_equijoin(spark, sf_dir):
    """The edit-distance similarity join must ride the blocking-key
    equi-join (quadratic term confined to blocks) — never a
    name-cross-name nested loop."""
    plan = plan_of(SPECS["join_fuzzy_entity_resolution"].fn(spark, sf_dir))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_affinity_capped_degree_pass_salted_predrop(spark, sf_dir):
    """VERDICT r3 #1 (shape updated r11, guard closed r12): the
    max_deg hot-part cap must apply BEFORE any pair expansion, the
    projection must never degrade to a cross product, and — r12 —
    no hot part's full supplier set may ever assemble in one
    aggregation buffer. The pre-drop runs as the salted two-level
    cap-or-null aggregation (collect_set per (p, salt-of-supplier);
    merge aggregate sums partial sizes for the exact degree and
    collects only partials <= max_deg, so its buffer is bounded at
    _NSALT·max_deg). The guarded projection is eagerly checkpointed at
    `cosupply_pairs`, so its shape is pinned on the HELPER's own plan;
    the query-level plan is pinned for expansion sanity."""
    from bigdata06_spark.catalog import load_table
    from bigdata06_spark.operators.graph import (
        affinity_edges,
        capped_part_supplier_sets,
    )

    li = load_table(spark, "lineitem", sf_dir).select("l_partkey", "l_suppkey")
    hplan = plan_of(capped_part_supplier_sets(li, 33))
    # salted stage-1 key is present...
    assert "xxhash64" in hplan and "pmod" in hplan, hplan
    # ...two aggregation levels (partial sets, then the bounded
    # merge), object-hash — never a Window, sort-aggregate chain,
    # join, or raw-row round-robin/repartition exchange
    assert len(re.findall(r"ObjectHashAggregate \(\d+\)", hplan)) >= 2, hplan
    assert "Window" not in hplan, hplan
    assert "Join" not in hplan, hplan
    assert "SortAggregate" not in hplan, hplan
    # both exchanges are hash exchanges keyed by aggregate keys (the
    # rejected repartition('p') variant would show a raw-row exchange
    # directly above the scan — no partial aggregate below it)
    for m in re.finditer(r"\+- Exchange hashpartitioning", hplan):
        below = hplan[m.end():m.end() + 900]
        agg = below.find("ObjectHashAggregate")
        scan = below.find("Scan parquet")
        assert agg != -1 and (scan == -1 or agg < scan), below
    plan = plan_of(SPECS["supplier_affinity_graph_capped"].fn(spark, sf_dir))
    assert "Generate" in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    # the cap itself executes inside the checkpointed projection (not
    # visible in the downstream plan), so pin its SEMANTICS: a part
    # above max_deg contributes no pairs at all
    rows = [("s%02d" % i, "hot") for i in range(5)] + [
        ("s%02d" % i, "cold") for i in range(3)
    ]
    li = spark.createDataFrame(rows, ["l_suppkey", "l_partkey"])
    got = affinity_edges(li, 4, threshold=0.0).collect()
    touched = {r.s_a for r in got} | {r.s_b for r in got}
    assert touched == {"s00", "s01", "s02"}, got  # hot part (deg 5) dropped
    assert all(r.shared_parts == 1 for r in got), got


def test_lsh_probe_broadcasts_query_buckets(spark, sf_dir):
    """r8 serving probes: the candidate-generation join must BROADCAST
    the query side (Q·bands rows) against the corpus bucket relation —
    never a corpus self-join or a shuffle keyed by the corpus. A
    SortMergeJoin on (band, bh) would mean the tiny query table is
    being treated as a full join side."""
    plan = plan_of(SPECS["dedup_lsh_probe"].fn(spark, sf_dir))
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_phash_probe_broadcasts_query_bands(spark, sf_dir):
    """Image probe: same serving contract — query band table
    broadcasts, corpus hash relation scans once, no nested loop."""
    plan = plan_of(SPECS["multimodal_phash_probe"].fn(spark, sf_dir))
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_count_min_sketch_partial_agg_and_broadcast_lookup(spark, sf_dir):
    """CMS: the cell build must map-side combine (partial_count before
    the exchange — each partition collapses to ≤ depth×width rows),
    and the probe lookup must broadcast the 2048-cell grid."""
    plan = plan_of(SPECS["agg_count_min_sketch"].fn(spark, sf_dir))
    assert "partial_count" in plan, plan
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_zipf_fit_window_on_vocab_only(spark, sf_dir):
    """Zipf OLS: the rank window and 5-sum aggregate run on the
    vocab-sized relation — exactly one corpus scan feeds the plan
    (one parquet scan of documents), and the final agg is a partial
    (map-side) sum tree."""
    plan = plan_of(SPECS["text_zipf_fit"].fn(spark, sf_dir))
    assert count_plan_nodes(plan, "Scan parquet") == 1, plan
    assert "partial_sum" in plan or "partial_count" in plan, plan


def test_bloom_prune_filters_at_scan_before_join(spark, sf_dir):
    """r8 runtime bloom join: the xxhash64 bit-probe predicate must be
    a Filter ON THE FACT SCAN side — before the join, not after it —
    and the exact join that removes false positives must broadcast the
    dim. If the probe appeared only post-join, the reduction would be
    doing nothing."""
    df = SPECS["join_bloom_prune"].fn(spark, sf_dir)
    plan = plan_of(df)
    assert "xxhash64" in plan, plan
    assert "BroadcastHashJoin" in plan, plan
    # the probe filter must sit below the join in the tree: in the
    # formatted tree the Filter node containing xxhash64 appears, and
    # no SortMergeJoin/Cartesian replaces the broadcast
    assert "SortMergeJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_heavy_hitters_semi_join_broadcasts_candidates(spark, sf_dir):
    """r8 exact heavy hitters: pass 2's candidate confinement must be
    a BROADCAST left-semi hash join (candidate set is bounded by
    partitions x capacity, never the key space), and the recount must
    map-side combine before its exchange."""
    plan = plan_of(SPECS["agg_heavy_hitters"].fn(spark, sf_dir))
    assert re.search(r"BroadcastHashJoin .*LeftSemi", plan), plan
    assert "partial_count" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_profile_columns_split_aggregate_two_scans(spark, sf_dir):
    """r11 split profiler: the 24 measures come from TWO keyless
    aggregates over two scans of orders — the 6-way count-distinct
    block (Expand -> HashAggregate, no sort-forcing var-length
    buffers mixed in) crossed with the min/max block — never six
    per-column re-scans, and never the old single SortAggregate
    chain that forced two full sorts."""
    plan = plan_of(SPECS["dq_profile_columns"].fn(spark, sf_dir))
    assert count_plan_nodes(plan, "Scan parquet") == 2, plan
    assert "Expand" in plan, plan
    # distinct-count block: Expand feeds HashAggregate, never SortAggregate
    assert re.search(r"HashAggregate \(\d+\)\n[:\s]*\+- Expand", plan), plan
    # keyless min/max block may be a SortAggregate (string buffers), but it
    # must consume the scan directly -- no Sort node below any aggregate
    assert not re.search(r"SortAggregate \(\d+\)\n[:\s]*\+- Sort ", plan), plan


def test_mann_whitney_window_on_distinct_values_only(spark, sf_dir):
    """r8 rank-sum test: the running-sum window must consume the
    per-value AGGREGATE (groupBy x first), not raw rows — one scan of
    orders feeds the plan and a partial aggregate precedes the window's
    exchange."""
    plan = plan_of(SPECS["stats_mann_whitney"].fn(spark, sf_dir))
    assert count_plan_nodes(plan, "Scan parquet") == 1, plan
    assert "partial_count" in plan or "partial_sum" in plan, plan
    assert "Window" in plan, plan


def test_wordpiece_one_corpus_scan_vocab_sized_python(spark, sf_dir):
    """r8 subword tokenizer: exactly ONE scan of documents feeds the
    token-count plan (the wf relation is reused; the vocab pull happens
    at build time), and the only Python stage (greedy segmentation)
    consumes the distinct-word AGGREGATE, not corpus rows — a partial
    aggregate precedes it."""
    plan = plan_of(SPECS["text_wordpiece_tokenize"].fn(spark, sf_dir))
    assert count_plan_nodes(plan, "Scan parquet") == 1, plan
    assert "partial_count" in plan or "partial_sum" in plan, plan


def test_skew_salted_join_query_two_sided_salt(spark, sf_dir):
    """r8 salted join query: the registered shape must join on
    (key, salt) — the plan shows the salt projection on both sides and
    no nested loop; output equality to the plain join is the oracle's
    job, partition bounding is test_salted_join_bounds_max_partition's."""
    plan = plan_of(SPECS["join_skew_salted"].fn(spark, sf_dir))
    assert "_salt" in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_quantile_twopass_refine_scan_is_pushed(spark, sf_dir):
    """r8 exact quantile: the final (refinement) plan must carry the
    widened RANGE predicate down to the parquet scan (PushedFilters on
    x's source column) and top with TakeOrderedAndProject — never a
    global sort."""
    import bigdata06_spark.queries.analytics as A
    from bigdata06_spark.catalog import load_table

    li = load_table(spark, sf_dir=sf_dir, name="lineitem").select(
        F.col("l_extendedprice").alias("x")
    )
    stats = li.agg(
        F.count(F.lit(1)).alias("n"), F.min("x").alias("mn"), F.max("x").alias("mx")
    ).collect()[0]
    mn, mx = float(stats["mn"]), float(stats["mx"])
    width = (mx - mn) / A._Q2P_BINS or 1.0
    bin_expr = F.least(
        F.floor((F.col("x") - F.lit(mn)) / F.lit(width)).cast("int"),
        F.lit(A._Q2P_BINS - 1),
    )
    refine = (
        li.filter((F.col("x") >= mn) & (F.col("x") <= mn + 3 * width))
        .filter(bin_expr == 0)
        .orderBy("x")
        .limit(5)
    )
    plan = plan_of(refine)
    assert re.search(r"PushedFilters: \[.*l_extendedprice.*\]", plan), plan
    assert "TakeOrderedAndProject" in plan, plan


def test_graph_greedy_build_is_equi_join(spark, sf_dir):
    """r9 knn_graph_greedy: the LSH-bucketed graph build must be an
    EQUI-join on (table, bucket) — never an all-pairs nested loop (the
    exact build was quadratic and stalled the sf1 probe) — and the
    per-hop serve joins stay hash joins over the degree-bounded edge
    list."""
    plan = plan_of(SPECS["knn_graph_greedy"].fn(spark, sf_dir))
    assert "CartesianProduct" not in plan, plan
    # the only nested-loop allowed is the 1-row entry-vector broadcast
    assert plan.count("BroadcastNestedLoopJoin") <= 1, plan


def test_kcore_and_community_no_cartesian(spark, sf_dir):
    """r9 graph family: the shared co-supply projection joins on the
    part key and the iterative stages on node keys — no plan may
    degrade to a cross product."""
    for name in ("graph_kcore", "graph_community_components"):
        plan = plan_of(SPECS[name].fn(spark, sf_dir))
        assert "CartesianProduct" not in plan, (name, plan)


def test_link_prediction_two_hop_is_equi_join_topk(spark, sf_dir):
    """r10 graph_link_prediction: the two-hop candidate stage must be
    an EQUI-join on the shared-neighbor key over the degree-bounded
    edge list (never a cross product), the existing-edge exclusion a
    hash anti-join, and the global top-20 a TakeOrderedAndProject (no
    full sort of the candidate relation)."""
    plan = plan_of(SPECS["graph_link_prediction"].fn(spark, sf_dir))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "LeftAnti" in plan, plan
    assert "TakeOrderedAndProject" in plan, plan


def test_prefix_jaccard_joins_on_shingle(spark, sf_dir):
    """r9 jaccard_pairs_prefix: the candidate join must be a shuffled
    or broadcast EQUI-join on the shingle key (prefix rows only) and
    the verify stage equi-joins on the pair ids — never a cross
    product; the df-rank window must reuse the doc-id partitioning
    (no window over the shingle key, the skew axis)."""
    from bigdata06_spark.catalog import load_table as _lt
    from bigdata06_spark.operators.dedup import jaccard_pairs_prefix

    plan = plan_of(jaccard_pairs_prefix(_lt(spark, "documents", sf_dir)))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_kendall_cell_join_is_bounded_broadcast(spark, sf_dir):
    """r9 stats_kendall_tau: the concordance double-sum is a DELIBERATE
    nested-loop join, but only over the domain-bounded cell table —
    the pin is that the cell aggregation (groupBy onto |X|*|Y| rows)
    happens BEFORE the cross join, so N never enters the quadratic
    term. localCheckpoint materializes the cells, so the final plan's
    inputs must be checkpoint scans, not raw parquet."""
    plan = plan_of(SPECS["stats_kendall_tau"].fn(spark, sf_dir))
    # no raw fact scan may feed the cross join: the checkpointed cell
    # relation replaces the parquet lineage entirely
    assert "Scan ExistingRDD" in plan or "LocalTableScan" in plan, plan
    assert "Scan parquet" not in plan, plan
