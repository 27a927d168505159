"""Physical-plan assertions — the 100 TB design contract, enforced.

Correctness says the operators compute the right rows; these tests pin
the *shape* of the physical plan Catalyst produces, because that shape
is what survives (or dies) at 1000 executors:

- dimension joins must broadcast (no fact-table shuffle for small dims);
- scans must prune columns and push predicates into parquet;
- top-k must compile to TakeOrderedAndProject (no global sort);
- aggregations must have a map-side partial before the exchange;
- nothing may fall back to CartesianProduct.

If a refactor regresses any of these, correctness tests stay green but
the cluster plan quietly becomes O(shuffle-everything) — this file is
the tripwire.
"""

from __future__ import annotations

from ai_iceberg_demo_spark.registry import all_registries
from tests.conftest import SF_DIR


def plan_of(spark, name: str, mode: str = "formatted") -> str:
    from ai_iceberg_demo_spark.plans import explain_str

    fn = all_registries().specs[name].fn
    return explain_str(fn(spark, SF_DIR), mode)


def test_j1_broadcasts_orders_and_prunes_lineitem(spark):
    plan = plan_of(spark, "j1_parent_children_join")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    # lineitem scan must read exactly the join key + the aggregated col
    assert "ReadSchema: struct<l_orderkey:bigint,l_extendedprice:double>" in plan


def test_j7_star_join_broadcasts_all_dimensions(spark):
    plan = plan_of(spark, "j7_star_join")
    assert plan.count("BroadcastHashJoin") >= 3  # customer, nation, region
    assert "CartesianProduct" not in plan


def test_point_lookup_pushes_predicate_to_parquet(spark):
    plan = plan_of(spark, "s2_point_lookup")
    assert "PushedFilters: [" in plan
    assert "EqualTo" in plan or "IsNotNull" in plan


def test_topk_compiles_to_take_ordered(spark):
    for name in ("o4_topk_by_score", "v3_cosine_topk"):
        plan = plan_of(spark, name)
        assert "TakeOrderedAndProject" in plan, name
        # no global Sort node — top-k must not sort the full input
        assert "\n   Sort " not in plan, name


def test_aggregations_do_map_side_partials(spark):
    for name in ("a1_max_per_group", "t8_tumbling_window", "q1_pricing_summary"):
        plan = plan_of(spark, name)
        # partial + final HashAggregate pair around the exchange
        assert plan.count("HashAggregate") >= 2, name
        assert "partial_" in plan, name


def test_no_cartesian_products_anywhere(spark):
    specs = all_registries().specs
    offenders = []
    for name in specs:
        plan = plan_of(spark, name)
        if "CartesianProduct" in plan:
            offenders.append(name)
    assert offenders == [], f"cartesian fallback in: {offenders}"


def test_whole_stage_codegen_covers_relational_core(spark):
    # the hot relational path must stay inside codegen (JVM, no Python).
    # AQE wraps codegen stages only at runtime, so inspect the static
    # plan with AQE off — same operators, codegen stars visible.
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        for name in ("j1_parent_children_join", "q1_pricing_summary", "w1_last_per_group"):
            fn = all_registries().specs[name].fn
            df = fn(spark, SF_DIR)
            executed = df._jdf.queryExecution().executedPlan().toString()
            assert "*(" in executed, f"{name}: no WholeStageCodegen stage found"
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")


def test_flagship_timeline_single_pass(spark):
    plan = plan_of(spark, "flagship_timeline")
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan or "SortMergeJoin" in plan


def test_minhash_signature_build_is_map_side(spark):
    """r13: the MinHash signature is a per-document reduction, so the
    build shuffles NOTHING — no (doc, shingle) distinct exchange, no
    doc-keyed min-agg exchange (the pre-r13 shape this test's ancestor
    pinned as 'partial agg present'). The only exchanges left in d3
    are the band-collision self-join and the candidate distinct; in
    particular no exchange is keyed by doc_id anywhere."""
    plan = plan_of(spark, "d3_minhash_lsh")
    assert "hashpartitioning(doc_id" not in plan, plan
    assert "array_min" in plan  # the map-side signature reduction
    assert "SortMergeJoin" not in plan


def test_epoch_shuffle_never_range_partitions(spark):
    """u11's whole point: the global hash-order rank is computed WITHOUT
    a total sort — no rangepartitioning exchange anywhere (that's the
    single-funnel a naive ROW_NUMBER() OVER (ORDER BY ...) would
    compile to over the whole corpus); only hash exchanges on the
    256-way bucket key, and the offset table side broadcasts."""
    plan = plan_of(spark, "u11_epoch_shuffle", mode="simple")
    corpus_range_lines = [
        ln
        for ln in plan.splitlines()
        if "rangepartitioning" in ln and "doc_id" in ln
    ]
    assert corpus_range_lines == [], plan
    assert "BroadcastHashJoin" in plan  # offsets join, not a shuffle join


def test_quality_canonical_broadcasts_membership(spark):
    """d9: cluster membership (tiny) must broadcast onto the corpus-side
    quality scan, and the final canonical argmax must partial-aggregate
    map-side."""
    plan = plan_of(spark, "d9_quality_canonical")
    assert "BroadcastHashJoin" in plan
    assert "partial_" in plan
    assert "CartesianProduct" not in plan


def test_pair_search_dedups_persist_their_self_join_side(spark):
    """d2/d5/d8 feed one frame into both halves of a pair self-join;
    the persist that stops the upstream recomputing per consumer
    (measured 1.5-3.5x at sf0.1) must stay in the plan."""
    for name in ("d2_ngram_jaccard", "d5_embedding_dedup", "d8_semdedup"):
        plan = plan_of(spark, name, mode="simple")
        assert "InMemoryTableScan" in plan, f"{name}: self-join side persist dropped"


def test_training_prep_persists_diamonds_and_never_range_partitions(spark):
    """pipeline_training_prep chains three diamond-shaped stages
    (rates, bucket offsets, shard offsets); each must read its reused
    frame from cache (InMemoryTableScan), not re-expand the upstream
    plan 2^3 times — and the shuffle+pack stages must never fall back
    to a corpus-wide rangepartitioning sort."""
    plan = plan_of(spark, "pipeline_training_prep", mode="simple")
    assert "InMemoryTableScan" in plan, "diamond persist dropped"
    assert not [
        ln for ln in plan.splitlines() if "rangepartitioning" in ln and "doc_id" in ln
    ], plan
    assert "CartesianProduct" not in plan


def test_bucketed_join_has_no_exchange(spark):
    """The 100 TB layout claim, proven: orders and lineitem written
    bucketed by orderkey into the same bucket count join with NO
    shuffle exchange on either side (co-located SMJ). On Iceberg the
    same layout is PARTITIONED BY (bucket(N, key))."""
    from ai_iceberg_demo_spark.tables import load_table, write_bucketed

    write_bucketed(load_table(spark, "orders", SF_DIR), "b_orders", "o_orderkey", 8)
    write_bucketed(load_table(spark, "lineitem", SF_DIR), "b_lineitem", "l_orderkey", 8)
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = spark.table("b_orders").join(
            spark.table("b_lineitem"),
            spark.table("b_orders").o_orderkey == spark.table("b_lineitem").l_orderkey,
        )
        jmode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
        plan = joined._jdf.queryExecution().explainString(jmode)
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan, "bucketed join still shuffles"
        # and the result is still right
        assert joined.count() == spark.table("b_lineitem").count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_lineitem")


def test_curation_funnel_shuffles_once(spark):
    """pipeline_curation: filters fuse into the scan stage; the only
    exchange is the fingerprint-dedup groupBy. v1_hash_embedding
    (relational formulation): partial-agg shuffles over compact
    (doc_id, bucket) rows only — never a shuffle of raw text — and
    map-side combine on the counts agg."""
    plan = plan_of(spark, "pipeline_curation", mode="simple")
    assert plan.count("Exchange") == 1, plan
    assert "partial_" in plan_of(spark, "pipeline_curation")  # map-side combine

    emb_plan = plan_of(spark, "v1_hash_embedding")
    assert "partial_sum" in emb_plan, emb_plan  # map-side combine on counts
    # the wide text column never reaches an exchange: tokens are
    # bucketed to ints before the first hash partitioning
    simple = plan_of(spark, "v1_hash_embedding", mode="simple")
    for line in simple.splitlines():
        if "Exchange hashpartitioning" in line:
            assert "text#" not in line, simple


def test_curriculum_order_never_range_partitions(spark):
    """u14 inherits u11's contract: a global easy-to-hard rank with NO
    total-sort exchange over the corpus — only (band, bucket) hash
    windows plus the broadcast prefix-count join."""
    plan = plan_of(spark, "u14_curriculum_order", mode="simple")
    corpus_range_lines = [
        ln
        for ln in plan.splitlines()
        if "rangepartitioning" in ln and "doc_id" in ln
    ]
    assert corpus_range_lines == [], plan
    assert "BroadcastHashJoin" in plan


def test_watermark_audit_never_range_partitions(spark):
    """t13's running max is day-sharded: no total-order exchange over
    the events table; the shard-top prefix table broadcasts."""
    plan = plan_of(spark, "t13_watermark_audit", mode="simple")
    corpus_range_lines = [
        ln
        for ln in plan.splitlines()
        if "rangepartitioning" in ln and "event_id" in ln
    ]
    assert corpus_range_lines == [], plan
    assert "BroadcastHashJoin" in plan


def test_snapshot_diff_joins_key_partitioned_and_filters_unchanged(spark):
    """m8: the CDC join must be a key-partitioned SortMergeJoin (both
    sides fact-sized — broadcasting either would OOM at scale) with
    the change filter ABOVE it, and no unchanged-row explosion shape
    (no cartesian, no nested-loop)."""
    plan = plan_of(spark, "m8_snapshot_diff")
    assert "SortMergeJoin" in plan and "FullOuter" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_knn_graph_never_goes_all_pairs(spark):
    """v18: candidates must come from the (t,b) bucket equi-join —
    an all-pairs fallback shows up as cartesian/nested-loop over the
    corpus. The Python stage must be the Arrow signature kernel, not
    row-at-a-time eval."""
    plan = plan_of(spark, "v18_knn_graph")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "ArrowEvalPython" in plan
    assert "BatchEvalPython" not in plan


def test_maintenance_plans_keep_inventory_aggs_partial(spark):
    """m9/m11/m12: the file-inventory aggregation must map-side
    combine (partial_sum) — at 100 TB the inventory agg is the only
    data-touching stage, so losing the partial doubles the shuffle."""
    for name in ("m9_compaction_plan", "m11_orphan_files", "m12_maintenance_plan"):
        plan = plan_of(spark, name)
        assert "partial_" in plan, f"{name}: inventory agg lost its partial"


def test_rate_limit_is_one_window_pass(spark):
    """t30: exactly one exchange (the user-keyed window shuffle) — a
    correlated-count spelling would add a second events scan + join."""
    import re

    plan = plan_of(spark, "t30_rate_limit")
    n_ex = len(set(re.findall(r"(?<![A-Za-z])Exchange \((\d+)\)", plan)))
    assert n_ex == 1, plan[:500]
    assert "Join" not in plan


def test_bucketed_snapshot_diff_has_no_exchange(spark):
    """m8's scale claim, proven: two snapshots written bucketed by the
    merge key diff with ZERO shuffle exchange — the full-outer CDC
    join runs co-located per bucket, so a 100 TB changelog fallback
    costs one pass over each side. (Iceberg: bucket(N, key) on both
    snapshots.)"""
    from ai_iceberg_demo_spark.operators.mutations import snapshot_diff
    from ai_iceberg_demo_spark.tables import load_table, write_bucketed

    snap0 = load_table(spark, "orders", SF_DIR).select(
        "o_orderkey", "o_totalprice"
    )
    snap1 = snap0.filter("o_orderkey % 7 != 3").withColumn(
        "o_totalprice", snap0.o_totalprice + 1.0
    )
    write_bucketed(snap0, "b_snap0", "o_orderkey", 8)
    write_bucketed(snap1, "b_snap1", "o_orderkey", 8)
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        diff = snapshot_diff(
            spark.table("b_snap0"),
            spark.table("b_snap1"),
            keys=["o_orderkey"],
            compare_cols=["o_totalprice"],
        )
        jmode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
        plan = diff._jdf.queryExecution().explainString(jmode)
        assert "SortMergeJoin" in plan and "FullOuter" in plan
        assert "Exchange" not in plan, "bucketed CDC join still shuffles"
        n_deleted = diff.filter("change_type = 'delete'").count()
        assert n_deleted == snap0.filter("o_orderkey % 7 = 3").count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        spark.sql("DROP TABLE IF EXISTS b_snap0")
        spark.sql("DROP TABLE IF EXISTS b_snap1")


def test_aqe_splits_skewed_join_partitions(spark):
    """SCALE.md's join-skew claim, proven at runtime: a join where one
    key holds 2/3 of the left side re-plans under AQE with
    SortMergeJoin(skew=true) — the hot partition is split instead of
    serializing one task. (Holistic AGGREGATION skew needs a9's
    deterministic salting; AQE only re-plans joins.)"""
    import pyspark.sql.functions as PF

    saved = {
        k: spark.conf.get(k)
        for k in (
            "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes",
            "spark.sql.autoBroadcastJoinThreshold",
        )
    }
    spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2.0")
    spark.conf.set(
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "8192"
    )
    spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8192")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        left = spark.range(300_000).select(
            PF.when(PF.col("id") < 200_000, 0).otherwise(PF.col("id")).alias("k"),
            PF.col("id").alias("v"),
        )
        right = spark.range(1_000).select(
            PF.col("id").alias("k"), (PF.col("id") * 2).alias("w")
        )
        j = left.join(right, "k")
        assert len(j.collect()) == 200_000  # hot key 0 matches all its rows
        jmode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
        plan = j._jdf.queryExecution().explainString(jmode)
        assert "SortMergeJoin(skew=true)" in plan, "AQE did not split the hot partition"
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


def test_tpch_dims_broadcast_and_facts_shuffle_once(spark):
    """The tpch module's contract: dimensions broadcast (no
    SortMergeJoin against a dim), q19's disjunction stays one filter
    pass over one lineitem scan, and nothing goes cartesian."""
    import re

    for name in ("q8_market_share", "q9_product_profit", "q19_discounted_revenue"):
        plan = plan_of(spark, name)
        assert "BroadcastHashJoin" in plan, name
        assert "CartesianProduct" not in plan, name
    # q19's three OR arms must NOT become a union of three scans:
    # exactly two scan NODES (lineitem + part), counted by operator id
    q19 = plan_of(spark, "q19_discounted_revenue")
    assert len(re.findall(r"Scan parquet\s+\(\d+\)", q19)) == 2


def test_q21_folds_exists_pair_into_one_fact_pass(spark):
    """q21's EXISTS + NOT-EXISTS must be the per-(order,supplier) agg
    reformulation with map-side partials — never a cartesian, never a
    third lineitem pass (the per_os diamond reuses one exchange; the
    plan has exactly one lineitem⋈orders join subtree feeding both the
    rollup and the verdict filter)."""
    plan = plan_of(spark, "q21_waiting_suppliers")
    assert "partial_" in plan
    assert "CartesianProduct" not in plan
    # one orders scan with the status filter pushed
    assert plan.count("o_orderstatus") >= 1


def test_q13_left_outer_keeps_zero_order_customers(spark):
    """q13 without the outer join silently drops the c_count=0 row —
    pin the join type, not just the values."""
    plan = plan_of(spark, "q13_customer_distribution")
    assert "LeftOuter" in plan


def test_tpch_scalar_subquery_diamonds_are_persisted(spark):
    """q2/q11/q15/q17 feed one grouped table into BOTH a scalar
    re-aggregation and the output branch. Column-pruning differences
    between the branches defeat Catalyst's exchange reuse (verified:
    the unpersisted spelling scans lineitem twice at runtime), so the
    diamond must be persisted — InMemoryTableScan in the plan is the
    tripwire."""
    for name in (
        "q2_min_cost_supplier",
        "q11_important_parts",
        "q15_top_supplier",
        "q17_small_quantity_revenue",
    ):
        plan = plan_of(spark, name)
        assert "InMemoryTableScan" in plan, name


def test_auc_two_phase_never_range_partitions(spark):
    """t65's point: the rows-below prefix sum must run on bucket-local
    windows (hash exchange on the bounded score-range shard), never a
    rangepartitioning funnel over the score order."""
    plan = plan_of(spark, "t65_roc_auc", mode="simple")
    corpus_range_lines = [
        ln
        for ln in plan.splitlines()
        if "rangepartitioning" in ln and "score" in ln
    ]
    assert corpus_range_lines == [], plan


def test_band_join_is_equi_not_nested_loop(spark):
    """j11's point: |a-b|<=eps must execute as bucket equi-joins —
    BroadcastNestedLoopJoin / CartesianProduct would be the theta-join
    fallback that nested-loops the whole table."""
    plan = plan_of(spark, "j11_band_join")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_ivf_pq_broadcasts_codebooks_and_luts(spark):
    """v32: the codebook/LUT sides must broadcast — a shuffle join on
    the (m, code) key would move the corpus-sized code table through
    an exchange keyed by a 128-value key (skew catastrophe)."""
    plan = plan_of(spark, "v32_ivf_pq")
    assert plan.count("BroadcastHashJoin") >= 3
    assert "CartesianProduct" not in plan


def test_prf_expansion_broadcasts_query_side(spark):
    """t85: both scoring passes join the posting relation against
    BROADCAST query-term / feedback frames — the index side must never
    shuffle to meet a handful of terms."""
    plan = plan_of(spark, "t85_prf_expansion")
    assert plan.count("BroadcastHashJoin") >= 2
    assert "CartesianProduct" not in plan


def test_feature_store_join_single_user_exchange(spark):
    """t89 = j8's shape: ONE hash exchange on user_id feeds the ordered
    window; no join node at all (the union trick)."""
    plan = plan_of(spark, "t89_feature_store_join", mode="simple")
    assert "Join" not in plan  # window carry, not a join
    assert plan.count("hashpartitioning(user_id") >= 1


def test_eval_metrics_single_keyed_exchange(spark):
    """r12: the overlap-metric family (t98/t105/t106) shuffles the raw
    pair rows ONCE (hash by doc_id) and computes every gram aggregate
    partition-local — the exploded (doc, n, gram) rows and the former
    refg⋈candg gram join must never reappear as exchanges. Two
    Exchange nodes max (one per scan branch; AQE reuses the stage),
    and the only join is the co-partitioned doc_id output join."""
    for name in ("t98_rouge2_eval", "t105_bleu_eval", "t106_chrf_eval"):
        plan = plan_of(spark, name)
        tree = plan.split("\n\n")[0]
        n_ex = sum("Exchange" in ln and "Reused" not in ln for ln in tree.splitlines())
        assert n_ex <= 2, f"{name}: {n_ex} exchanges\n{tree}"
        assert "SortMergeJoin" not in plan, name
        # the gram join is gone: at most one join node (the output join)
        n_join = tree.count("Join")
        assert n_join <= 1, f"{name}: {n_join} joins\n{tree}"


def test_eval_card_reads_one_keyed_sample_exchange(spark):
    """pipeline_eval_card builds the 1-in-10 sample once and hands it to
    t98, t105, t106 and t109: its executed plan runs ONE doc_id-keyed
    exchange, and the other four reads (t109 reads its pairs twice: the
    vocab count and the encode) are ReusedExchange of it."""
    df = all_registries().specs["pipeline_eval_card"].fn(spark, SF_DIR)
    df.collect()
    stack = [df._jdf.queryExecution().executedPlan().executedPlan()]
    keyed = []
    while stack:
        node = stack.pop()
        if node.getClass().getSimpleName().endswith("QueryStageExec"):
            stack.append(node.plan())
            continue
        if "hashpartitioning(doc_id" in node.simpleString(100):
            keyed.append(node.nodeName())
        kids = node.children()
        stack.extend(kids.apply(i) for i in range(kids.size()))
    assert sorted(keyed) == ["Exchange"] + ["ReusedExchange"] * 4, keyed


def test_safety_card_scans_documents_once(spark):
    """pipeline_safety_card selects the four gates' per-doc values from
    one read of documents and reduces them in one aggregate."""
    tree = plan_of(spark, "pipeline_safety_card").split("\n\n")[0]
    assert tree.count("Scan parquet") == 1, tree


def test_wer_encode_is_map_side(spark):
    """r12: t109 encodes via ONE broadcast ≤94-entry vocab map over the
    intact token arrays — no doc-keyed reassembly shuffle (the former
    collect_list+array_sort), no posexplode of the corpus feeding a
    join. The only corpus-keyed exchange is the tiny token-count
    partial agg for the global top-k."""
    plan = plan_of(spark, "t109_wer_eval")
    tree = plan.split("\n\n")[0]
    assert "hashpartitioning(doc_id" not in plan, plan
    # the only collect_list is the ≤94-entry vocab map build, never a
    # doc-keyed corpus reassembly
    for ln in plan.splitlines():
        if "collect_list" in ln:
            assert "struct(tok" in ln, ln
    import re

    # unique node ids — the cached fan-out subtree prints twice
    n_ex = len(set(re.findall(r"\bExchange \((\d+)\)", tree)))
    assert n_ex <= 3, f"t109: {n_ex} exchanges\n{tree}"


def test_drift_parts_shuffle_light(spark):
    """r12: the drift detectors never shuffle a distribution table into
    a join. t84 bins ref+cmp side-tagged in one pass (one broadcast
    edge join, no rp/cp join); t70 folds per-source counts into maps
    (lookups, not probe joins); t113 tags the period in one scan (no
    two-branch Union)."""
    # the drift parts persist their compact stats frames; a prior test
    # that executed them leaves those caches in the shared session and
    # the plan collapses to InMemoryTableScans — clear so the asserted
    # shape is the cold plan
    from ai_iceberg_demo_spark.tables import clear_table_cache

    spark.catalog.clearCache()
    clear_table_cache(spark)
    t84 = plan_of(spark, "t84_psi_drift")
    tree = t84.split("\n\n")[0]
    assert "SortMergeJoin" not in t84
    assert tree.count("Join") == 1, tree  # the broadcast edge attach
    assert "Window" in t84  # per-type totals over the tiny bin frame

    t70 = plan_of(spark, "t70_js_divergence")
    assert "SortMergeJoin" not in t70 and "ShuffledHashJoin" not in t70
    # only the enumerable-pair / 1-row-map cross joins remain
    for ln in t70.split("\n\n")[0].splitlines():
        if "Join" in ln and "BroadcastNestedLoopJoin" not in ln:
            raise AssertionError(ln)

    t113 = plan_of(spark, "t113_ks_test")
    assert "Union" not in t113.split("\n\n")[0]  # one tagged scan


def _window_subtrees_are_post_aggregate(tree: str) -> None:
    """Every Window node must sit ABOVE an aggregation: walking its
    printed subtree (deeper-indented lines), a HashAggregate must
    appear before any parquet scan. This is the claim that makes the
    bench's 'WindowExec: No Partition Defined' chorus provably benign
    for the drift family — the windows only ever see frames already
    reduced to ≤ types×bins / distinct-value rows, never the corpus."""
    lines = tree.splitlines()

    def indent(ln: str) -> int:
        return len(ln) - len(ln.lstrip(" :+-"))

    for i, ln in enumerate(lines):
        if "Window (" not in ln:
            continue
        base = indent(ln)
        seen_agg = False
        for sub in lines[i + 1 :]:
            if sub.strip() and indent(sub) <= base:
                break
            if "HashAggregate" in sub or "InMemoryTableScan" in sub:
                seen_agg = True  # aggregated (or persisted stats) input
                break
            if "Scan parquet" in sub:
                break
        assert seen_agg, f"Window over un-aggregated input:\n{ln}\n{tree}"


def test_drift_windows_only_see_aggregated_frames(spark):
    """r12 verdict follow-up: pin the compactness claim for the
    t84/t113 totals windows (global/per-type windows are fine at scale
    ONLY because their input is the aggregated stats frame)."""
    from ai_iceberg_demo_spark.tables import clear_table_cache

    spark.catalog.clearCache()
    clear_table_cache(spark)
    for name in ("t84_psi_drift", "t113_ks_test"):
        tree = plan_of(spark, name).split("\n\n")[0]
        assert "Window (" in tree, tree
        _window_subtrees_are_post_aggregate(tree)


def test_drift_card_builds_its_side_tagged_frame_once(spark, monkeypatch):
    """pipeline_drift_card builds drift_sides once and hands it to t84's
    and t113's builders, so each of its events reads (t84's edge
    quantiles and binning, t113's per-value counts) is a parquet scan
    carrying that one frame's ts guard in its data filters."""
    import re

    from ai_iceberg_demo_spark.streaming import events
    from ai_iceberg_demo_spark.tables import clear_table_cache

    calls = []
    build = events.drift_sides

    def counting(ev):
        calls.append(1)
        return build(ev)

    monkeypatch.setattr(events, "drift_sides", counting)
    spark.catalog.clearCache()
    clear_table_cache(spark)
    plan = events.pipeline_drift_card(spark, SF_DIR)._jdf.queryExecution().executedPlan().toString()
    assert len(calls) == 1
    reads = [s for s in re.findall(r"FileScan parquet[^\n]*", plan) if "events.parquet" in s]
    assert len(reads) >= 3, plan
    assert all(re.search(r"DataFilters: \[[^\]]*isnotnull\(ts#", r) for r in reads), reads


def _final_plan(df) -> str:
    """The AQE final plan of an executed frame, without the initial plan
    AdaptiveSparkPlanExec prints below it."""
    return df._jdf.queryExecution().executedPlan().toString().split("== Initial Plan ==")[0]


def test_model_eval_reuses_the_per_score_exchange(spark):
    """pipeline_model_eval hands one labeled-score frame to t47, t64 and
    t65, and t47's counters and t65's ranks read one score_counts
    aggregate: after a collect, the final plan runs its
    hashpartitioning(score) exchange once and reuses it, so the card
    scans events twice (t64's bins and the per-score aggregate)."""
    import re

    from ai_iceberg_demo_spark.tables import clear_table_cache

    spark.catalog.clearCache()
    clear_table_cache(spark)
    df = all_registries().specs["pipeline_model_eval"].fn(spark, SF_DIR)
    df.collect()
    plan = _final_plan(df)
    assert re.search(r"ReusedExchange [^\n]*Exchange hashpartitioning\(score#", plan), plan
    scans = re.findall(r"FileScan parquet[^\n]*", plan)
    assert sum("events.parquet" in s for s in scans) == 2, plan


def test_events_is_a_plain_scan_so_aqe_reuses_its_exchanges(spark):
    """load_table persists nothing, so two identical events aggregates
    in one plan run one exchange and AQE reuses it."""
    from pyspark.storagelevel import StorageLevel

    from ai_iceberg_demo_spark.tables import TABLE_NAMES, clear_table_cache, load_table

    # CacheManager matches canonical plans: a plain read made after a
    # persisted one would still be served from memory
    spark.catalog.clearCache()
    clear_table_cache(spark)
    ev = load_table(spark, "events", SF_DIR)
    both = ev.groupBy("event_type").count().union(ev.groupBy("event_type").count())
    both.collect()
    assert _final_plan(both).count("ReusedExchange") == 1, _final_plan(both)
    for name in TABLE_NAMES:
        assert load_table(spark, name, SF_DIR).storageLevel == StorageLevel.NONE, name
