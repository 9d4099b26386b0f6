"""The declared-query registry — the contract surface of the engine.

Every operator from SURVEY.md §2 is registered here as a
``(spark, sf_dir) -> DataFrame`` callable plus, where DuckDB can express the
same computation, an ANSI-SQL oracle string. ``__spark_entry__.py`` exposes
this registry to the driver.

Determinism conventions (SURVEY.md §5.3, extended):

- Alias every computed column identically on both sides.
- **Decimal-sum bridge**: never emit a raw floating SUM/AVG. Both sides
  compute ``CAST(SUM(CAST(x AS DECIMAL(25,6))) AS DOUBLE)`` — decimal
  addition is exact and order-independent, so the result is bit-identical
  regardless of partition/summation order, with no rounding-boundary risk.
  AVG is expressed as exact-decimal-sum / COUNT (one IEEE division of
  identical operands on both sides).
- Integral computed outputs are cast to BIGINT on both sides (Spark and
  DuckDB disagree on the natural width of e.g. ``length()``/``floor()``).
- Every LIMIT/top-k sits under a total order (unique-key tiebreak); every
  ``row_number`` tie is broken by a unique column.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class QuerySpec:
    name: str
    fn: QueryFn
    oracle: str | None = None  # None => rows-only check (R in SURVEY §2)
    note: str = ""
    tags: tuple[str, ...] = field(default_factory=tuple)


#: name -> spec, in registration order.
REGISTRY: dict[str, QuerySpec] = {}


def register(
    name: str,
    oracle: str | None = None,
    note: str = "",
    tags: tuple[str, ...] = (),
) -> Callable[[QueryFn], QueryFn]:
    """Decorator: register a declared query (optionally with its oracle)."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in REGISTRY:
            raise ValueError(f"duplicate query name: {name}")
        REGISTRY[name] = QuerySpec(name=name, fn=fn, oracle=oracle, note=note, tags=tags)
        return fn

    return deco


#: Driver-facing verification order. Each round's driver check consumes
#: exactly the first ~50 registry entries, so ordering is load-bearing:
#: queries that still need a driver CORRECTNESS row on the CURRENT fixture
#: go FIRST, already-certified queries go LAST. Names registered but absent
#: from this list are placed before everything else so new work is always
#: checked first (a gate test also requires every query be listed).
#:
#: BEGIN AUTO-ROTATION
#: (rewritten by tools/rotate_driver_priority.py --write — do not
#: hand-edit; the tool regenerates comment AND tuple together)
#: Ordering: never-proven/replanned first (11: q_graph_bfs, q_graph_kcore, q_graph_label_prop, q_llm_cluster_dbscan, q_llm_dedup_cluster_star, q_llm_dedup_keep_best, q_llm_dedup_semantic, q_llm_kmeans_converged, q_llm_kmeans_iter, q_llm_split_leakage_safe, q_recursive_chain),
#: then ascending latest-driver-green round, name-ordered within a
#: round. Latest-green histogram: r10x9, r11x36, r12x42, r13x45, r14x43, r15x46.
#: Head-50 composition: newx11, r10x9, r11x30. Derived from CORRECTNESS_r{4..15}.json.
DRIVER_PRIORITY: tuple[str, ...] = (
    "q_graph_bfs",
    "q_graph_kcore",
    "q_graph_label_prop",
    "q_llm_cluster_dbscan",
    "q_llm_dedup_cluster_star",
    "q_llm_dedup_keep_best",
    "q_llm_dedup_semantic",
    "q_llm_kmeans_converged",
    "q_llm_kmeans_iter",
    "q_llm_split_leakage_safe",
    "q_recursive_chain",
    "q_tpch_q5",
    "q_ts_concurrency",
    "q_ts_ewma",
    "q_ts_holt_forecast",
    "q_ts_rolling_corr",
    "q_ts_sim_search",
    "q_ts_trend",
    "q_ts_twap",
    "q_win_sliding_distinct_hll",
    "q_agg_any_all",
    "q_agg_distinct",
    "q_agg_filter_clause",
    "q_agg_global",
    "q_agg_groupingsets",
    "q_join_right",
    "q_join_semi",
    "q_llm_dedup_containment",
    "q_llm_dedup_cosine_lossless",
    "q_llm_dedup_exact",
    "q_llm_dedup_minhash_exact",
    "q_llm_dedup_near",
    "q_llm_embed_near",
    "q_llm_fingerprint",
    "q_llm_lang_filter",
    "q_llm_langid",
    "q_llm_mix_epochs",
    "q_llm_pipeline",
    "q_llm_quality",
    "q_llm_quality_auc",
    "q_llm_quality_calibration",
    "q_llm_shard_plan",
    "q_llm_sim_ivf",
    "q_llm_sim_ivf_sym",
    "q_llm_sim_topk",
    "q_llm_text_stats",
    "q_llm_tfidf",
    "q_llm_tokens",
    "q_llm_zipf",
    "q_multimodal_decode",
    "q_orders_basket",
    "q_orders_rfm",
    "q_supplier_pareto",
    "q_ts_autocorr",
    "q_ts_changepoint",
    "q_ts_seasonal",
    "q_agg_approx_distinct",
    "q_agg_approx_topk",
    "q_agg_bitwise",
    "q_agg_having",
    "q_agg_mode",
    "q_agg_rollup",
    "q_agg_stats",
    "q_agg_string_agg",
    "q_cohort_retention",
    "q_event_transitions",
    "q_explode_pos",
    "q_fn_array",
    "q_fn_bitwise",
    "q_fn_codec",
    "q_fn_cond",
    "q_fn_date",
    "q_fn_math",
    "q_fn_nulls",
    "q_fn_regex",
    "q_fn_string",
    "q_fn_struct",
    "q_join_anti",
    "q_join_broadcast",
    "q_join_cross",
    "q_join_exists_correlated",
    "q_join_salted",
    "q_llm_ann_recall",
    "q_llm_sim_imi",
    "q_multimodal_prune",
    "q_outlier_iqr",
    "q_pivot",
    "q_scalar_correlated",
    "q_scalar_subquery",
    "q_snapshot_diff",
    "q_stream_distinct_users",
    "q_tpch_q14",
    "q_tpch_q19",
    "q_tpch_q22",
    "q_tpch_q4",
    "q_unpivot",
    "q_win_share",
    "q_zorder_layout",
    "q_agg_approx_percentile",
    "q_agg_cube",
    "q_funnel_stages",
    "q_join_asof",
    "q_join_asof_left",
    "q_join_asof_tolerance",
    "q_join_ktable",
    "q_join_range_bucketed",
    "q_llm_bigram_surprisal",
    "q_llm_char_entropy",
    "q_llm_dedup_block_audit",
    "q_llm_dedup_incremental",
    "q_llm_dedup_minhash",
    "q_llm_dedup_url",
    "q_llm_domain_cap",
    "q_llm_embed_quantize",
    "q_llm_quality_gate",
    "q_profile_skew",
    "q_resample_gapfill",
    "q_scan_count",
    "q_scan_json_props",
    "q_scd2_intervals",
    "q_set_intersect",
    "q_set_union_all",
    "q_stream_dedup",
    "q_stream_session",
    "q_stream_sliding",
    "q_stream_tumbling",
    "q_time_rollup",
    "q_tpch_q11",
    "q_tpch_q12",
    "q_tpch_q13",
    "q_tpch_q15",
    "q_tpch_q16",
    "q_tpch_q17",
    "q_tpch_q2",
    "q_tpch_q20",
    "q_tpch_q21",
    "q_tpch_q6",
    "q_tpch_q7",
    "q_tpch_q8",
    "q_tpch_q9",
    "q_win_first_last",
    "q_win_lead_lag",
    "q_win_time_range",
    "q_agg_latest_per_key",
    "q_agg_percentile",
    "q_audience_overlap_hll",
    "q_dq_constraints",
    "q_dq_robust_mad",
    "q_dq_stats_drift",
    "q_dq_volume_anomaly",
    "q_events_attribution",
    "q_filter_branch",
    "q_filter_pred",
    "q_flagship_daily_enrich",
    "q_fn_json",
    "q_fn_map",
    "q_funnel_latency",
    "q_gaps_islands",
    "q_incremental_agg",
    "q_join_theta_range",
    "q_limit_offset",
    "q_llm_chunk_overlap",
    "q_llm_decontaminate",
    "q_llm_decontaminate_semantic",
    "q_llm_dedup_semantic_incr",
    "q_llm_mix_sources",
    "q_llm_pack_chunks",
    "q_llm_sample_hash",
    "q_llm_sample_stratified",
    "q_llm_sim_ivf_probe",
    "q_llm_source_token_cap",
    "q_llm_split_assign",
    "q_llm_train_pipeline",
    "q_multimodal_frames",
    "q_profile_columns",
    "q_scan_parquet",
    "q_set_except",
    "q_set_except_all",
    "q_set_intersect_all",
    "q_set_union_distinct",
    "q_sort_limit",
    "q_win_ntile_percent",
    "q_win_rank",
    "q_win_running",
    "q_win_sliding_distinct",
    "q_win_topk_per_group",
    "q_agg_group",
    "q_graph_pagerank",
    "q_graph_triangles",
    "q_histogram",
    "q_join_bloom",
    "q_join_full",
    "q_join_inner",
    "q_join_left",
    "q_join_multiway",
    "q_lateral_topk",
    "q_llm_ann_recall_nprobe",
    "q_llm_bm25_search",
    "q_llm_bpe_pairs",
    "q_llm_cluster_quality",
    "q_llm_curate_pipeline",
    "q_llm_decontaminate_substring",
    "q_llm_dedup_editdist",
    "q_llm_dedup_fuzzy",
    "q_llm_dedup_ngram",
    "q_llm_dedup_prefix",
    "q_llm_dedup_simhash",
    "q_llm_dedup_simhash_exact",
    "q_llm_dedup_substring",
    "q_llm_embed_outliers",
    "q_llm_imi_recall",
    "q_llm_mine_margin_ivf",
    "q_llm_mine_margin_ratio_ivf",
    "q_llm_mine_margin_recall",
    "q_llm_mix_temperature",
    "q_llm_pii_redact",
    "q_llm_pq_quantize",
    "q_llm_quality_model",
    "q_llm_repetition",
    "q_llm_sample_weighted",
    "q_llm_search_hybrid",
    "q_llm_select_dsir",
    "q_llm_sim_imipq",
    "q_llm_sim_ivfpq",
    "q_llm_sim_knn_scale",
    "q_llm_sim_pq_adc",
    "q_project_rename",
    "q_resample_locf",
    "q_tpch_q1",
    "q_tpch_q10",
    "q_tpch_q18",
    "q_tpch_q3",
)


def load_all() -> dict[str, QuerySpec]:
    """Import every query module (side effect: fills REGISTRY) and return it
    re-ordered by ``DRIVER_PRIORITY`` (unlisted/new queries first)."""
    # Imports are localized so `import join_example_spark` stays cheap.
    from join_example_spark.queries import (  # noqa: F401
        aggregates,
        analytics_ext,
        composite,
        composite2,
        filters,
        functions_scalar,
        joins,
        llm_cleaning,
        llm_dedup,
        llm_similarity,
        llm_text,
        llm_training,
        multimodal_q,
        scans,
        setops,
        sorts,
        streaming_equiv,
        windows,
    )

    rank = {name: i for i, name in enumerate(DRIVER_PRIORITY)}
    ordered = sorted(REGISTRY, key=lambda n: rank.get(n, -1))
    return {name: REGISTRY[name] for name in ordered}

