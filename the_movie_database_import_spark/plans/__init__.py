"""Query plan registry — importing this package populates REGISTRY.

Registration order is CURATED: the driver's correctness gate records the
first 50 ``queries()`` entries, so DRIVER_WINDOW rotates driver evidence
oldest-first while always covering (a) queries the driver has never
checked and (b) operators whose internals changed in the current round.
The tail past 50 holds rows that were driver-green in a recent
CORRECTNESS_r*.json (for the r14 layout every tail row is r10-green or
newer; the r10-era leftovers head the r15 rotation queue) and remains
locally oracle-checked by tests/test_oracle_parity.py and
tools/exact_parity.py at every SF.
"""

from .registry import REGISTRY, QuerySpec, register  # noqa: F401

from . import relational  # noqa: F401,E402
from . import windows_sets  # noqa: F401,E402
from . import streaming_batch  # noqa: F401,E402
from . import extensions  # noqa: F401,E402
from . import sampling  # noqa: F401,E402
from . import analytics  # noqa: F401,E402
from . import sql_text  # noqa: F401,E402
from . import udfs  # noqa: F401,E402
from . import stats  # noqa: F401,E402

# First 50 = the driver-checked window. ROUND-14 LAYOUT — data-driven from
# the per-query last-green-driver-row ages (recomputed this round over every
# CORRECTNESS_r*.json; pre-rotation distribution: r07x2, r09x20, r10x43,
# r11x45, r12x47, r13x50; never-checked: none):
#
# - VERDICT r13 #5 verbatim: the deferred rotation queue rotates in — BOTH
#   remaining r07-era rows (q_agg_cube, q_positive_or_null) and ALL 20
#   r09-era rows (which subsume the annotated five displaced for the
#   late-r13 operators: q_value_outliers, q_quality_calibrated_keep,
#   q_fk_orphan_audit, q_substring_search_trgm, q_events_cusum, plus
#   q_benford_audit and the family-redundant leftovers). After this window
#   lands, no query's newest driver evidence predates r10.
# - Every operator whose INTERNALS round 14 touched earns a re-check slot
#   (standing rule): q_graph_pagerank (dst-partitioned edge checkpoint,
#   ebe109f), the seven connected-components consumers (budget-guarded
#   contraction finish, 72e8ad0), q_graph_triangles and
#   q_dedup_setjoin_prefix (element-volume broadcast budgets, 1a114f5),
#   and q_pipeline_end_to_end (prologue-midpoint localCheckpoint,
#   17e7650). The r14 session's other candidates (MinHash verify rewrite,
#   job-floor configs) were REJECTED on measurement — those paths are
#   code-identical to their r12/r13-green rows and stay in the tail.
# - The remaining 17 slots refresh the oldest (r10-era) evidence in the
#   documented queue order.
DRIVER_WINDOW = [
    # --- r07-era evidence, the last two (VERDICT r12 #1 / r13 #5 queue) ---
    "q_positive_or_null",
    "q_agg_cube",
    # --- all 20 r09-era rows (clears r09 entirely; includes the five
    # deferred-for-late-r13-operators rows VERDICT r13 #5 names) ---
    "q_attribution_last_touch",
    "q_benford_audit",
    "q_chi2_independence",
    "q_conversion_by_deadline",
    "q_embedding_centroids",
    "q_events_cusum",
    "q_events_ewma",
    "q_except_all",
    "q_fk_orphan_audit",
    "q_join_full_outer",
    "q_quality_calibrated_keep",
    "q_resample_interpolate",
    "q_rolling_active_users",
    "q_substring_search_trgm",
    "q_text_bigram_nll",
    "q_token_pair_lift",
    "q_union_schema_evolution",
    "q_unpivot_melt",
    "q_value_outliers",
    "q_welch_ttest",
    # --- operators whose internals round 14 changed (pagerank edge
    # checkpoint; CC contraction finish x7 consumers; element-volume
    # broadcast budgets; pipeline prologue checkpoint) ---
    "q_graph_pagerank",
    "q_graph_triangles",
    "q_dedup_clusters",
    "q_split_leakage_safe",
    "q_dedup_savings_minhash",
    "q_entity_resolution",
    "q_dedup_savings",
    "q_dedup_survivors",
    "q_source_syndication",
    "q_dedup_setjoin_prefix",
    # --- r10-era refresh, queue order (q_pipeline_end_to_end doubles
    # as the r14-touched composite's re-check slot) ---
    "q_pipeline_end_to_end",
    "q_ab_funnel_lift",
    "q_agg_avg_per_key",
    "q_conversion_latency",
    "q_corpus_mix_temperature",
    "q_decontaminate_containment",
    "q_dedup_by_key",
    "q_dedup_first_event",
    "q_dedup_spans_incremental",
    "q_dedup_substring_spans",
    "q_doc_fingerprint",
    "q_embedding_pca_spectrum",
    "q_events_sessionize",
    "q_hybrid_rrf_topk",
    "q_label_coherence",
    "q_local_supplier_volume",
    "q_mad_per_type",
    "q_psi_value_drift",
]


# Tail: ordered by evidence freshness — youngest displaced rows first (they
# can vacate precisely because their evidence is newest), the remaining
# r10-era rows last; those r10 leftovers HEAD THE r15 ROTATION QUEUE.
# Functionally only the first 50 of the registry matter to the driver; the
# tail order documents the rotation queue. All tail queries remain locally
# oracle-checked by tests/test_oracle_parity.py + tools/exact_parity.py at
# every SF per round (0 failed / 185 checked at sf0.01 this round).
TAIL_PRIORITY = [
    # --- green r13 rows displaced by the r14 refresh rotation ---
    "q_agg_count_distinct",
    "q_agg_first_nonnull",
    "q_agg_grouping_sets",
    "q_agg_percentiles_approx",
    "q_agg_pivot",
    "q_ann_hard_negatives",
    "q_attribution_linear",
    "q_bootstrap_se",
    "q_bpe_encode",
    "q_bpe_pair_census",
    "q_bpe_train",
    "q_dedup_semantic",
    "q_dedup_within_doc",
    "q_dsir_importance",
    "q_er_sorted_neighborhood",
    "q_event_transitions",
    "q_events_autocorr",
    "q_except",
    "q_flagship_star_revenue",
    "q_golden_record",
    "q_interevent_gaps",
    "q_interval_coalesce",
    "q_join_asof",
    "q_join_bloom_prefilter",
    "q_join_broadcast",
    "q_join_multiway_star",
    "q_key_skew_census",
    "q_km_survival",
    "q_math_fns",
    "q_multimodal_decode_audio",
    "q_multimodal_decode_image",
    "q_quality_c4_lines",
    "q_quality_gopher_rules",
    "q_safe_cast",
    "q_similarity_topk_cosine",
    "q_topk_per_group",
    "q_twap_per_user",
    "q_union_distinct",
    "q_win_rank",
    "q_win_sliding_frame",
    # --- green r12 rows ---
    "q_agg_collect_set",
    "q_applyinpandas_group_pct",
    "q_bm25_topk",
    "q_corpus_curation",
    "q_corpus_delta",
    "q_corpus_mix_epochs",
    "q_data_quality_audit",
    "q_date_fns",
    "q_dedup_embedding_cosine_lsh",
    "q_dedup_exact",
    "q_dedup_minhash_incremental",
    "q_dedup_minhash_lsh",
    "q_events_funnel",
    "q_filter_pred",
    "q_fuzzy_name_pairs",
    "q_incremental_dedup",
    "q_intersect",
    "q_join_anti",
    "q_join_inner_equi",
    "q_join_range_binned",
    "q_join_theta_range",
    "q_multimodal_dedup",
    "q_multimodal_features",
    "q_multimodal_metadata",
    "q_multimodal_resize",
    "q_pandas_udf_scalar",
    "q_pricing_summary",
    "q_project_rename",
    "q_sample_fixed_k",
    "q_sample_stratified",
    "q_sample_weighted_k",
    "q_sort_multi_key",
    "q_sql_shared_window",
    "q_stream_stream_join",
    "q_string_fns",
    "q_text_decontaminate",
    "q_text_langid",
    "q_text_repetition",
    "q_text_unigram_nll",
    "q_token_burstiness",
    "q_token_burstiness_incremental",
    "q_training_order",
    "q_vocab_incremental",
    "q_win_lag_lead",
    "q_window_session",
    "q_window_sliding",
    "q_window_watermark",
    # --- green r11 rows ---
    "q_agg_approx_count_distinct",
    "q_agg_count_by_value",
    "q_agg_multi",
    "q_agg_percentiles",
    "q_agg_rollup",
    "q_ann_recall_probe",
    "q_apply_delta",
    "q_array_fns",
    "q_boilerplate_census",
    "q_corpus_mix",
    "q_dedup_canonical",
    "q_dedup_embedding_cosine",
    "q_dedup_paragraphs",
    "q_dedup_simhash",
    "q_heavy_hitters",
    "q_join_left_outer",
    "q_join_salted_skew",
    "q_join_semi",
    "q_json_fns",
    "q_ks_value_drift",
    "q_mann_whitney_u",
    "q_multimodal_frame_sample",
    "q_numeric_histogram",
    "q_oov_rate",
    "q_pack_greedy",
    "q_pandas_udf_grouped_agg",
    "q_retention_cohorts",
    "q_scd2_history",
    "q_shuffle_shards",
    "q_similarity_ivf_topk",
    "q_similarity_ivfpq_served",
    "q_source_vocab_overlap",
    "q_sql_shared_text",
    "q_stateful_user_totals",
    "q_surrogate_keys",
    "q_text_ngram_jaccard",
    "q_text_quality",
    "q_text_redact_pii",
    "q_text_tfidf_cosine_pairs",
    "q_text_tfidf_top_term",
    "q_token_count",
    "q_vocab_growth",
    "q_win_ntile_pctrank",
    "q_win_running_sum",
    "q_window_tumbling",
    # --- r10-era leftovers — the r15 rotation queue head ---
    "q_quality_classifier",
    "q_resample_daily",
    "q_revenue_change_q6",
    "q_sample_split",
    "q_sample_weighted_per_source",
    "q_seasonal_zscore",
    "q_select_token_budget",
    "q_shipping_priority_q3",
    "q_similarity_ivfpq_topk",
    "q_similarity_lsh_topk",
    "q_similarity_pq_served",
    "q_similarity_pq_topk",
    "q_source_concentration",
    "q_temporal_dim_join",
    "q_text_chunks",
    "q_text_jaccard_pairs",
    "q_text_vocab_coverage",
    "q_token_entropy",
    "q_token_kl_divergence",
    "q_topk_global",
    "q_trend_per_type",
    "q_union_all",
    "q_win_time_range",
    "q_winsorized_mean",
    "q_zipf_fit",
]


def _wrap_release(spec: QuerySpec) -> QuerySpec:
    """Starting a query releases the PREVIOUS query's tracked caches, so a
    long-lived session sweeping the registry retains at most one query's
    working set (VERDICT r01 #8). The current query's own caches stay live —
    its returned DataFrame hasn't executed yet.

    ASSUMPTION: builders and executions interleave strictly (build q1 ->
    execute q1 -> build q2 -> ...), which is how the driver, bench.py, and
    tests consume the registry. A consumer that builds several DataFrames
    before executing the first would have its earlier queries' caches
    released mid-flight — results stay CORRECT (unpersist only drops the
    materialized blocks; lineage recomputes), but the intra-query cache
    reuse degrades to recomputation. If such a consumer appears, release on
    execution boundaries (QueryExecutionListener) instead of build time."""
    import dataclasses

    from ..session import release_caches

    inner = spec.spark_fn

    def fn(spark, sf_dir):
        release_caches()
        return inner(spark, sf_dir)

    fn.__doc__ = inner.__doc__
    fn.__name__ = inner.__name__
    return dataclasses.replace(spec, spark_fn=fn)


def _ordered_names(window: list[str], tail: list[str]) -> list[str]:
    """Registry order: ``window``, then ``tail``, then every other name in
    registration order. A name in either list that is not registered is a
    stale list entry and raises."""
    for label, names in (("DRIVER_WINDOW", window), ("TAIL_PRIORITY", tail)):
        missing = [n for n in names if n not in REGISTRY]
        if missing:
            raise RuntimeError(f"{label} names not registered: {missing}")
    placed = set(window) | set(tail)
    return [*window, *tail, *(n for n in REGISTRY if n not in placed)]


def _reorder() -> None:
    ordered = {
        n: _wrap_release(REGISTRY[n])
        for n in _ordered_names(DRIVER_WINDOW, TAIL_PRIORITY)
    }
    REGISTRY.clear()
    REGISTRY.update(ordered)


_reorder()
