"""Plan-shape audits: the queries must not only be right — they must carry
the physical plan we'd want at 100 TB (broadcasts, pushdown, pruning, no
Python UDFs in batch paths)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from join_example_spark.plans.audit import (
    executed_plan,
    has_broadcast_hash_join,
    has_python_udf,
    pushed_filters,
    read_schema_columns,
)
from join_example_spark.registry import load_all
from join_example_spark.sources.readers import read_table
from tests.conftest import SF_SMOKE

_REG = load_all()


def test_broadcast_join_is_broadcast(spark):
    df = _REG["q_join_broadcast"].fn(spark, SF_SMOKE)
    assert has_broadcast_hash_join(df)


def test_flagship_enrichment_broadcasts_dim(spark):
    df = _REG["q_flagship_daily_enrich"].fn(spark, SF_SMOKE)
    assert has_broadcast_hash_join(df)


def test_filter_pushdown_reaches_parquet_scan(spark):
    df = _REG["q_filter_pred"].fn(spark, SF_SMOKE)
    pushed = pushed_filters(df)
    assert pushed, "no PushedFilters on the lineitem scan"
    assert any("l_shipdate" in p for p in pushed)


def test_column_pruning_reaches_scan(spark):
    # A 3-column projection over the 11-column lineitem must scan 4 cols max.
    df = _REG["q_project_rename"].fn(spark, SF_SMOKE)
    schemas = read_schema_columns(df)
    assert schemas and all(len(cols) <= 5 for cols in schemas), schemas


@pytest.fixture(scope="module")
def all_plans(spark):
    """Every declared query's DataFrame, built once at sf0.001 for the
    whole-registry gates below (plan building fires the iterative
    operators' eager checkpoint jobs, so each rebuild costs real time)."""
    return {name: spec.fn(spark, SF_SMOKE) for name, spec in _REG.items()}


def test_no_python_udfs_in_batch_queries(all_plans):
    offenders = []
    for name, df in all_plans.items():
        if "multimodal" in _REG[name].tags:
            # The one sanctioned Arrow boundary (mapInPandas media decode);
            # its correctness is certified by its own oracle hash-match.
            continue
        if has_python_udf(df):
            offenders.append(name)
    assert not offenders, f"Python UDFs in batch plans: {offenders}"


def test_all_query_outputs_are_flat_scalars(all_plans):
    # The driver canonicalizes EVERY query's output (rows-only included)
    # with pandas sort_values, which crashes on list cells (unhashable) —
    # CORRECTNESS_r01: q_fn_regex, q_agg_approx_percentile. No declared
    # query may emit array/map/struct output columns.
    from pyspark.sql.types import ArrayType, MapType, StructType

    offenders = []
    for name, df in all_plans.items():
        bad = [
            f.name
            for f in df.schema.fields
            if isinstance(f.dataType, (ArrayType, MapType, StructType))
        ]
        if bad:
            offenders.append(f"{name}: {bad}")
    assert not offenders, f"non-scalar output columns: {offenders}"


def test_asof_join_has_no_pair_inflation(spark):
    # The as-of join must use the linear merge formulation: union + window,
    # never join-then-rank (which inflates each left row by every earlier
    # right row of its key — quadratic on hot keys at 100 TB).
    for qname in ("q_join_asof", "q_join_asof_left"):
        plan = executed_plan(_REG[qname].fn(spark, SF_SMOKE))
        assert "Union" in plan and "Window" in plan, qname
        for join_kind in (
            "SortMergeJoin",
            "BroadcastHashJoin",
            "ShuffledHashJoin",
            "BroadcastNestedLoopJoin",
            "CartesianProduct",
        ):
            assert join_kind not in plan, f"{qname}: {join_kind} in as-of plan"


def test_driver_priority_names_are_live(spark):
    # DRIVER_PRIORITY controls which queries the driver's fixed-size
    # correctness check reaches; a stale name (renamed/deleted query)
    # silently no-ops, and a duplicate would double-count a slot.
    from join_example_spark.registry import DRIVER_PRIORITY

    assert len(set(DRIVER_PRIORITY)) == len(DRIVER_PRIORITY), "duplicate names"
    stale = [n for n in DRIVER_PRIORITY if n not in _REG]
    assert not stale, f"DRIVER_PRIORITY names not in registry: {stale}"
    # Unlisted registry names are allowed (they deliberately sort first),
    # but flag them so each new query gets consciously placed.
    unlisted = [n for n in _REG if n not in DRIVER_PRIORITY]
    assert not unlisted, f"queries missing from DRIVER_PRIORITY: {unlisted}"


def test_map_side_training_ops_have_no_exchange(spark):
    # Deterministic sampling and split assignment are pure filters /
    # projections over the scan: a shuffle here would be a plan regression.
    # q_llm_embed_quantize joins them (round 3): quantization + its audit
    # are one pass over the embeddings scan by design.
    for qname in ("q_llm_sample_hash", "q_llm_split_assign", "q_llm_embed_quantize"):
        plan = executed_plan(_REG[qname].fn(spark, SF_SMOKE))
        assert "Exchange" not in plan, f"{qname} shuffles: {plan}"


def test_incremental_dedup_joins_are_hash_joins(spark):
    # Batch-vs-corpus dedup must plan as hash/sort-merge equi-joins on the
    # content hash and (lang-or-bucket) keys — never a nested loop (the
    # corpus side is the big one at scale).
    plan = executed_plan(_REG["q_llm_dedup_incremental"].fn(spark, SF_SMOKE))
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan, plan


def test_bucketed_join_has_no_shuffle(spark, tmp_path):
    # Both sides bucketed into the same bucket count on the join key =>
    # the join plans with zero Exchange: the shuffle was paid at write time.
    # This is SCALE.md §2.2's storage-layout story, executed for real.
    from join_example_spark.sources.formats import write_bucketed_table

    cust = read_table(spark, SF_SMOKE, "customer").select("c_custkey", "c_name")
    orders = read_table(spark, SF_SMOKE, "orders").select(
        "o_custkey", "o_orderkey", "o_totalprice"
    )
    write_bucketed_table(
        cust, "bt_customer", 4, ("c_custkey",), ("c_custkey",),
        path=str(tmp_path / "bt_customer"),
    )
    write_bucketed_table(
        orders, "bt_orders", 4, ("o_custkey",), ("o_custkey",),
        path=str(tmp_path / "bt_orders"),
    )
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = spark.table("bt_orders").join(
            spark.table("bt_customer"),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        plan = executed_plan(joined)
        assert "SortMergeJoin" in plan, plan
        assert "Exchange" not in plan, plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS bt_customer")
        spark.sql("DROP TABLE IF EXISTS bt_orders")


def test_sort_limit_uses_take_ordered(spark):
    df = _REG["q_sort_limit"].fn(spark, SF_SMOKE)
    assert "TakeOrderedAndProject" in executed_plan(df)


def test_range_join_has_equality_component(spark):
    # The theta/range join must plan as a hash join on user_id with the
    # interval as residual — never a nested-loop/cartesian.
    df = _REG["q_join_theta_range"].fn(spark, SF_SMOKE)
    plan = executed_plan(df)
    assert "NestedLoop" not in plan and "Cartesian" not in plan, plan


def test_aqe_splits_skewed_join_partition(spark):
    """SCALE.md §1: AQE skew handling is not just a conf we set — prove it
    fires. One hot key (300k rows, incompressible values) against a uniform
    right side must re-plan as SortMergeJoin(skew=true) with a skewed
    shuffle read once broadcast is disabled and thresholds scaled to the
    fixture size."""
    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "16KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "16KB",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
    }
    saved = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        hot = spark.range(300_000).select(
            F.lit(0).alias("k"), (F.rand(seed=1) * 1e9).cast("long").alias("v")
        )
        cold = spark.range(100_000).select(
            (F.col("id") % 100 + 1).alias("k"), F.col("id").alias("v")
        )
        right = spark.range(50_000).select(
            (F.col("id") % 101).alias("k"), (F.col("id") * 10).alias("w")
        )
        j = hot.union(cold).join(right, "k").groupBy().count()
        assert j.collect()[0][0] > 0
        plan = executed_plan(j).split("== Initial Plan ==")[0]
        assert "skew=true" in plan, plan
    finally:
        for k, v in saved.items():
            if v is not None:
                spark.conf.set(k, v)


def test_runtime_bloom_filter_prunes_fact_scan(spark):
    """Runtime filtering: a selective dim-side predicate should inject a
    bloom filter into the fact side's scan (bloom_filter_agg on the creation
    side, might_contain on the application side). Default thresholds target
    10 GB fact tables, so they're scaled down to fixture size — the
    mechanism, not the threshold, is what must keep working."""
    from join_example_spark.sources.readers import read_table

    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
    }
    saved = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        li = read_table(spark, SF_SMOKE, "lineitem")
        o = read_table(spark, SF_SMOKE, "orders").where(
            F.col("o_totalprice") > 450000.0
        )
        j = li.join(o, li.l_orderkey == o.o_orderkey).groupBy().count()
        opt = j._jdf.queryExecution().optimizedPlan().toString()
        assert "bloom_filter_agg" in opt, opt
        assert j.collect()[0][0] >= 0
    finally:
        for k, v in saved.items():
            if v is not None:
                spark.conf.set(k, v)


def test_new_tpch_composites_plan_shapes(spark):
    # Q14/Q19: part must be the broadcast side of the lineitem join.
    for name in ("q_tpch_q14", "q_tpch_q19"):
        df = _REG[name].fn(spark, SF_SMOKE)
        assert has_broadcast_hash_join(df), name
    # Q4: the correlated EXISTS must rewrite to a semi join, never a
    # cartesian/nested-loop on the correlation.
    plan4 = executed_plan(_REG["q_tpch_q4"].fn(spark, SF_SMOKE))
    assert "LeftSemi" in plan4, plan4[:1000]
    # Q22: the NOT EXISTS must rewrite to an anti join, and the scalar AVG
    # subquery must be a Subquery node (computed once), not a per-row join.
    plan22 = executed_plan(_REG["q_tpch_q22"].fn(spark, SF_SMOKE))
    assert "LeftAnti" in plan22, plan22[:1000]
    assert "Subquery" in plan22, plan22[:1000]


def test_tpch_suite_completion_plan_shapes(spark):
    # The 14 round-2 adaptations that complete the 22-query TPC-H suite.
    # None may fall back to a cartesian / nested-loop join — every
    # correlation must extract an equi-join component.
    suite = (
        "q_tpch_q1", "q_tpch_q2", "q_tpch_q6", "q_tpch_q7", "q_tpch_q8",
        "q_tpch_q9", "q_tpch_q11", "q_tpch_q12", "q_tpch_q13", "q_tpch_q15",
        "q_tpch_q16", "q_tpch_q17", "q_tpch_q20", "q_tpch_q21",
    )
    for name in suite:
        plan = executed_plan(_REG[name].fn(spark, SF_SMOKE))
        assert "CartesianProduct" not in plan, name
        assert "BroadcastNestedLoopJoin" not in plan, name
    # Q1/Q6 are single-pass scan-aggs: exactly one shuffle (the partial->
    # final agg exchange), so 100 TB collapses map-side before moving.
    # Q1 groups (hash exchange); Q6 is a global agg (single-partition
    # exchange of one decimal cell per task).
    plan1 = executed_plan(_REG["q_tpch_q1"].fn(spark, SF_SMOKE))
    assert plan1.count("Exchange hashpartitioning") == 1, plan1[:1000]
    plan6 = executed_plan(_REG["q_tpch_q6"].fn(spark, SF_SMOKE))
    assert plan6.count("Exchange hashpartitioning") == 0, plan6[:1000]
    assert plan6.count("Exchange SinglePartition") == 1, plan6[:1000]
    # Q21's EXISTS/NOT-EXISTS double correlation must decorrelate to
    # semi + anti joins on the order key.
    plan21 = executed_plan(_REG["q_tpch_q21"].fn(spark, SF_SMOKE))
    assert "LeftSemi" in plan21, plan21[:1000]
    assert "LeftAnti" in plan21, plan21[:1000]
    # Q2's top-100 must be TakeOrderedAndProject (never a global sort).
    plan2 = executed_plan(_REG["q_tpch_q2"].fn(spark, SF_SMOKE))
    assert "TakeOrderedAndProject" in plan2, plan2[:1000]


def test_keep_best_adds_one_window_past_clustering(spark):
    # The finisher must not re-run pair generation: exactly one Window node
    # computes both row_number and the cluster-size count.
    plan = executed_plan(_REG["q_llm_dedup_keep_best"].fn(spark, SF_SMOKE))
    assert plan.count("Window") >= 1
    assert "CartesianProduct" not in plan


def test_stratified_sample_is_map_side(spark):
    # The CASE-gated hash filter must ride the scan — no Exchange at all.
    plan = executed_plan(_REG["q_llm_sample_stratified"].fn(spark, SF_SMOKE))
    assert "Exchange" not in plan, plan[:1000]


def test_multimodal_prune_filters_before_decode(spark):
    # The metadata predicate must reach the parquet scan (below the Python
    # stage) so pruned rows never cross the Arrow boundary.
    df = _REG["q_multimodal_prune"].fn(spark, SF_SMOKE)
    pushed = pushed_filters(df)
    assert pushed and any("lang" in p or "n_chars" in p for p in pushed), pushed


def test_outlier_iqr_broadcasts_fence_table(spark):
    # The tiny per-source fence aggregate must broadcast back to the fact
    # scan, not shuffle the documents table a second time.
    df = _REG["q_outlier_iqr"].fn(spark, SF_SMOKE)
    assert has_broadcast_hash_join(df)


def test_train_pipeline_has_exactly_two_shuffles(spark):
    # sample is map-side; dedup shuffles on the content hash; the shard
    # window shuffles on source; the final (source, shard_id) group-by must
    # REUSE the source partitioning (source alone co-locates every group).
    plan = executed_plan(_REG["q_llm_train_pipeline"].fn(spark, SF_SMOKE))
    assert plan.count("Exchange hashpartitioning") == 2, plan[:1500]


def test_imi_pair_join_exchanges_are_pinned(spark):
    # The IMI cell join is a pair-generating join (tiny input bytes,
    # quadratic output) — both sides must carry the explicit-N
    # repartition that exempts the exchange from AQE's bytes-based
    # coalescing (the round-5 `_by_cell` rule; 17.6 s vs 3.2 s measured
    # on the 8x decontamination join when this regresses).
    plan = executed_plan(_REG["q_llm_sim_imi"].fn(spark, SF_SMOKE))
    pinned = [
        ln for ln in plan.splitlines()
        if "Exchange hashpartitioning(cell" in ln and "REPARTITION_BY_NUM" in ln
    ]
    assert len(pinned) >= 2, plan[:1500]


def test_bm25_broadcasts_and_takes_ordered(spark):
    # df/stats are broadcast (never a fact-side shuffle for dictionary-sized
    # tables) and top-10 is TakeOrderedAndProject, not a global-order window
    # over the scored corpus.
    df = _REG["q_llm_bm25_search"].fn(spark, SF_SMOKE)
    plan = executed_plan(df)
    assert "TakeOrderedAndProject" in plan
    assert has_broadcast_hash_join(df)


def test_prefix_filter_join_is_never_cartesian(spark):
    # The whole point of the PPJoin rewrite: candidate generation is an
    # equi-join on prefix tokens. A CartesianProduct anywhere would mean
    # the quadratic space leaked back into the plan.
    df = _REG["q_llm_dedup_prefix"].fn(spark, SF_SMOKE)
    assert "CartesianProduct" not in executed_plan(df)


def test_ewma_has_no_window_operator(spark):
    # The dyadic-shift EWMA is rollup + map-side explode + grouped sum —
    # the scale win over a per-row weighted frame is that NO window
    # operator (densify-and-sort hazard) appears at all.
    df = _REG["q_ts_ewma"].fn(spark, SF_SMOKE)
    plan = executed_plan(df)
    assert "Window" not in plan
    assert "CartesianProduct" not in plan


def test_weighted_sample_takes_ordered(spark):
    df = _REG["q_llm_sample_weighted"].fn(spark, SF_SMOKE)
    assert "TakeOrderedAndProject" in executed_plan(df)


def test_twap_single_keyed_window(spark):
    # One LEAD window partitioned by event_type; no unpartitioned window
    # (the "Moving all data to a single partition" hazard) anywhere.
    df = _REG["q_ts_twap"].fn(spark, SF_SMOKE)
    plan = executed_plan(df)
    assert plan.count("Window") >= 1
    import re as _re

    for m in _re.finditer(r"Window \[", plan):
        # every Window operator line must carry a partition spec
        line = plan[m.start() : plan.index("\n", m.start())]
        assert "event_type" in line, f"unpartitioned window: {line}"


def test_curate_pipeline_takes_ordered(spark):
    df = _REG["q_llm_curate_pipeline"].fn(spark, SF_SMOKE)
    assert "TakeOrderedAndProject" in executed_plan(df)


def _assert_all_windows_partitioned(plan: str, expect_any_of: tuple[str, ...]):
    import re as _re

    for m in _re.finditer(r"Window \[", plan):
        line = plan[m.start() : plan.index("\n", m.start())]
        assert any(k in line for k in expect_any_of), (
            f"unpartitioned window: {line}"
        )


def test_concurrency_windows_are_partitioned(spark):
    # Session windows partition by user_id; the sweep's running sum by day.
    # No Window operator may run unpartitioned (the single-partition
    # densify hazard).
    df = _REG["q_ts_concurrency"].fn(spark, SF_SMOKE)
    _assert_all_windows_partitioned(
        executed_plan(df), ("user_id", "day")
    )


def test_locf_fill_window_partitioned_by_type(spark):
    df = _REG["q_resample_locf"].fn(spark, SF_SMOKE)
    _assert_all_windows_partitioned(executed_plan(df), ("event_type", "m"))


def test_trend_and_holt_have_no_window_operator(spark):
    # Both are rollup + broadcast-spine + grouped-sum shapes; the moment
    # a Window sneaks in, the scale posture claim in their notes is wrong.
    for name in ("q_ts_trend", "q_ts_holt_forecast"):
        plan = executed_plan(_REG[name].fn(spark, SF_SMOKE))
        assert "Window" not in plan, name


def test_dsir_histogram_broadcasts_and_takes_ordered(spark):
    # The 8192-bucket feature histogram must BROADCAST back to the token
    # stream (not shuffle the corpus a second time), and the top-100
    # selection must be TakeOrderedAndProject, never a global sort.
    df = _REG["q_llm_select_dsir"].fn(spark, SF_SMOKE)
    assert has_broadcast_hash_join(df)
    plan = executed_plan(df)
    assert "TakeOrderedAndProject" in plan, plan[:1000]


def test_basket_dim_join_is_broadcast_and_bounded(spark):
    # The part->brand dim join must be a broadcast-hash join, and the
    # only pairwise step is the per-order itemset self-join — never a
    # cartesian product.
    df = _REG["q_orders_basket"].fn(spark, SF_SMOKE)
    assert has_broadcast_hash_join(df)
    plan = executed_plan(df)
    assert "CartesianProduct" not in plan
    assert "TakeOrderedAndProject" in plan, plan[:1000]


def test_attribution_single_user_shuffle(spark):
    # Attribution must be the one-window formulation: exactly one
    # corpus-sized hashpartitioning exchange (the user_id window) and no
    # events-by-events self-join (the tiny 3-row rollup reuses the
    # window's partitioning only via SinglePartition/broadcast steps).
    plan = executed_plan(_REG["q_events_attribution"].fn(spark, SF_SMOKE))
    assert "SortMergeJoin" not in plan, plan[:1500]
    assert plan.count("Exchange hashpartitioning(user_id") == 1, plan[:1500]


def test_bpe_pairs_takes_ordered(spark):
    plan = executed_plan(_REG["q_llm_bpe_pairs"].fn(spark, SF_SMOKE))
    assert "TakeOrderedAndProject" in plan, plan[:1000]


def test_one_pass_families_scan_their_fact_table_once(spark):
    # Round-6 fix class: totals/bounds/type-sets must not re-execute the
    # corpus pass (windows over tiny aggregates, or localCheckpoint for
    # true self-joins). The executed plan of each fixed query may contain
    # at most ONE scan of its fact table (checkpointed subplans hide the
    # scan entirely); regressing to the agg+crossJoin double-reference
    # form re-introduces 2-6 scans and fails this pin.
    import re
    from collections import Counter

    fixed = {
        "q_events_attribution": "events",
        "q_ts_seasonal": "events",
        "q_ts_changepoint": "events",
        "q_ts_autocorr": "events",
        "q_ts_ewma": "events",
        "q_ts_holt_forecast": "events",
        "q_ts_trend": "events",
        "q_ts_rolling_corr": "events",
        "q_resample_locf": "events",
        "q_ts_sim_search": "events",
        "q_funnel_stages": "events",
        "q_funnel_latency": "events",
        "q_profile_skew": "events",
        "q_llm_shard_plan": "documents",
        "q_llm_quality_calibration": "documents",
        "q_llm_mix_epochs": "documents",
        "q_orders_rfm": "orders",
        "q_supplier_pareto": "lineitem",
    }
    for name, table in fixed.items():
        plan = executed_plan(_REG[name].fn(spark, SF_SMOKE))
        scans = Counter(re.findall(r"Scan parquet[^\n]*?(\w+)\.parquet", plan))
        assert scans.get(table, 0) <= 1, (name, dict(scans))


# Round-16 (VERDICT r15 task 8): the suite-wide InferFiltersFromGenerate
# exclusion (conf.py) is result-identical by construction — a non-outer
# explode of a NULL/empty input yields zero rows with or without the
# inferred guard. Its only risk is PERFORMANCE on a future query whose
# generator input is genuinely nullable and feeds a selective join (the
# inferred isnotnull would have been a free pruning filter there). This
# gate makes the invariant self-enforcing: any NEW declared query whose
# optimized plan contains a Generate over a schema-nullable input must be
# consciously admitted here (after checking the input is semantically
# never-NULL/empty, or adding an explicit cheap guard — see CLAUDE.md
# round-15 lessons for the coalesce-sentinel pattern).
_NULLABLE_GENERATE_ALLOWLIST = frozenset({
    # splits/transforms of filtered-non-null text (attribute nullability
    # is not narrowed by Catalyst after a Filter, so these are
    # schema-nullable but semantically never NULL):
    "q_agg_approx_topk", "q_explode_pos", "q_llm_bigram_surprisal",
    "q_llm_bm25_search", "q_llm_bpe_pairs", "q_llm_char_entropy",
    "q_llm_chunk_overlap", "q_llm_curate_pipeline", "q_llm_decontaminate",
    "q_llm_decontaminate_substring", "q_llm_dedup_containment",
    "q_llm_dedup_prefix", "q_llm_dedup_simhash", "q_llm_dedup_simhash_exact",
    "q_llm_dedup_substring", "q_llm_quality_model", "q_llm_search_hybrid",
    "q_llm_select_dsir", "q_llm_text_stats", "q_llm_tfidf",
    "q_llm_train_pipeline", "q_llm_zipf",
    # fixed-dimension stored arrays / aggregate-derived bounds:
    "q_llm_kmeans_converged", "q_llm_kmeans_iter", "q_llm_sim_knn_scale",
    "q_profile_columns", "q_resample_gapfill", "q_resample_locf",
    "q_set_except_all", "q_set_intersect_all",
    "q_ts_concurrency", "q_ts_ewma", "q_ts_holt_forecast",
    "q_ts_rolling_corr", "q_ts_sim_search", "q_ts_trend",
})


def test_nullable_generator_inputs_are_consciously_admitted(all_plans):
    """Walk every declared optimized plan; any Generate whose generator
    input is schema-nullable must be on the allowlist above."""
    def walk(node):
        yield node
        ch = node.children()
        for i in range(ch.length()):
            yield from walk(ch.apply(i))

    offenders = []
    for name, df in all_plans.items():
        plan = df._jdf.queryExecution().optimizedPlan()
        for n in walk(plan):
            if n.getClass().getSimpleName() != "Generate":
                continue
            g = n.generator()
            chs = g.children()
            for i in range(chs.length()):
                if chs.apply(i).nullable() and name not in _NULLABLE_GENERATE_ALLOWLIST:
                    offenders.append(f"{name}: {chs.apply(i).sql()[:80]}")
    assert not offenders, (
        "new nullable generator input(s) under the InferFiltersFromGenerate "
        f"exclusion — prove never-NULL or add a guard, then admit: {offenders}"
    )
