"""Query catalog: every operator from SURVEY.md §2 that is exposed through the
driver harness registers here as a (spark_fn, oracle_sql) pair.

``spark_fn(spark, sf_dir) -> DataFrame`` is the Spark-native implementation;
``oracle_sql`` is the equivalent ANSI SQL DuckDB runs on the same parquet
(None for non-SQL-expressible ops → driver does a rows-only check).

Cross-engine determinism rules (see queries/exact.py):
  * sums/avgs of doubles accumulate in DECIMAL (exact) and cast back to double
  * array folds run left-to-right in both engines (aggregate ↔ list_reduce)
  * every ORDER BY carries a unique tie-break key
  * all computed columns share the same alias on both sides
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession


@dataclass
class Query:
    name: str
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None  # DuckDB SQL; None => rows-only check
    doc: str = ""
    bench: bool = True  # include in bench.py headline set
    tags: list[str] = field(default_factory=list)
    priority: int = 0  # lower = earlier in the driver-checked prefix


REGISTRY: dict[str, Query] = {}


def register(
    name: str,
    oracle: str | None = None,
    doc: str = "",
    bench: bool = True,
    tags: list[str] | None = None,
    priority: int = 0,
):
    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        REGISTRY[name] = Query(name, fn, oracle, doc, bench, tags or [], priority)
        return fn

    return deco


# The driver's correctness harness checks only the FIRST 50 registered
# entries each round, but the registry has outgrown that cap, so coverage
# is made cumulative by ROTATING the window per round:
#
#   round 1: all 41 then-registered queries fit -> all driver-checked.
#   round 2: oracle-backed-first ordering -> the 50 core oracle queries.
#   round 3: the 18 round-2 additions + rows-only entries + round-3 adds.
#   round 4: the 15 late-round-3 advanced.py additions + the round-4
#     additions; result: 47 hash-green, 2 rows-only-by-design, 1 red
#     (q_jsonl_roundtrip — oracle HUGEINT bug, fixed this round).
#   round 5: the 30 late-round-4 additions + q_jsonl_roundtrip (fixed
#     oracle went hash-green) -> 46 hash-green, 3 rows-only-by-design,
#     1 red (q_rrf_fusion — Spark-side DECIMAL output from a bare 1.0
#     selectExpr literal; values identical, type flipped the hash).
#   round 6: q_rrf_fusion (the r5 red, fixed) + 8 never-checked r5
#     additions + 2 promoted oracles fronted, remaining slots from the
#     r2 cohort; result 50/50 green — the first zero-red zero-waiver
#     window, and every one of the 203 registered queries now has a
#     green driver row somewhere in CORRECTNESS_r0{1..6}.
#   round 7: the staleness drain — the 12 r2-stale veterans then the r3
#     cohort; q_approx_percentile fronted for its PROMOTED oracle.
#     Result: 50/50 green again, nothing older than r3 remains.
#   round 8 (this list): two changed oracles fronted — q_approx_distinct
#     (PROMOTED from rows-only to the 5x-rsd certificate, the
#     q_approx_percentile pattern) and q_semdedup (oracle changed in
#     lockstep with the SD_CELL_CAP sub-blocking that linearized its sf1
#     scaling) — then the final staleness tail: the 7 remaining r3-cohort
#     veterans (q_sessionize .. q_multimodal_decode) and the r4 cohort
#     (48 queries) by staleness; ~41 of those fit, the handful that spill
#     stay at r4 so the post-r8 invariant is "no driver row predates r4".
#   round 9 (this list): the 4 late-r8 literal-oracle promotions fronted
#     (q_phash_dedup, q_audio_fingerprint, q_video_frames, q_image_resize
#     — their new golden-pin oracles have never seen a driver row; green
#     here makes the registry 100%-driver-hash-verified), then the 8
#     remaining r4 veterans (q_zorder_skipping, q_forecast_revenue,
#     q_volume_shipping, q_shipmode_priority, q_parts_supplier_count,
#     q_potential_promotion, q_commitlog_roundtrip, q_scd2_lookup), then
#     ~38 of the 46 non-fronted r5 cohort by staleness; the ~8 that spill
#     stay at r5 so the post-r9 invariant is "no driver row predates r5".
#   round 10 (this list): the four changed-text queries fronted (see
#     _WINDOW_FRONT; q_acf joined after the self-review extended the
#     variance clamp), then the three round-10 additions enter as
#     never-checked, then the staleness drain continues: the 9 r5
#     veterans (q_anomaly_seasonal is already fronted; the other 8 follow
#     via _LAST_GREEN order), then the r6 cohort by staleness; the 13
#     that spill stay at r6 so the post-r10 invariant is "no driver row
#     predates r6".
#
# Every name listed here is green in the local twin at sf0.01, so promoting
# it into the checked prefix is low-risk.
_WINDOW_FRONT = [
    # round 14: no r13 reds (ninth consecutive 50/50) — the window is a
    # pure staleness drain: the 21 r9 spillovers (q_abtest_cuped,
    # q_audio_fingerprint, q_bigram_novelty, q_bm25, q_changepoint,
    # q_cooccurrence_pmi, q_embedding_quantize, q_forecast_revenue,
    # q_image_resize, q_kmeans_lloyd, q_mutual_information,
    # q_parts_supplier_count, q_phash_dedup, q_potential_promotion,
    # q_random_projection, q_scd2_lookup, q_shipmode_priority,
    # q_skyline_2d, q_video_frames, q_volume_shipping,
    # q_zorder_skipping) enter via _LAST_GREEN order, then the r10
    # cohort by staleness.  Entries appended here during the round are
    # queries whose ENGINE text changed in this optimization round (the
    # oracle strings are frozen; a rewritten engine must see a driver
    # row against its unchanged oracle before the round ends).
    # Round-14 engine changes: one-pass explode symmetrize
    # (since folded into operators/iterate.py `undirected`)
    # + banded threshold Levenshtein (queries/advanced.py) + graph_ann
    # hops=0 guard (operators/similarity.py; default path plan-identical
    # but the operator file changed).
    "q_entity_resolution",
    "q_fuzzy_match",
    "q_dedup_clusters",
    "q_kcore",
    "q_label_propagation",
    "q_graph_ann",
    # loops moved onto operators/iterate.py (per-round checkpoints); the
    # other loop queries are already fronted above
    "q_pagerank",
    "q_shortest_path",
    "q_similarity_ivf",
]

# Last driver-GREEN round per query, mechanically derived from
# CORRECTNESS_r01..r12.json via tools/regen_last_green.py (hash_match
# true, or rows-only with rows returned).  Orders the veteran fill of
# the window: stalest first.  Queries absent from this map have never
# been driver-checked and sort ahead of all veterans automatically.
_LAST_GREEN = {
    "q_dedup_exact": 10, "q_dedup_ngram_jaccard": 10,
    "q_dedup_minhash_lsh": 10, "q_dedup_clusters": 10, "q_dedup_simhash": 10,
    "q_dedup_embedding": 11, "q_instrument_peak_hrr": 12,
    "q_instrument_sta_mass_loss": 13, "q_filter_project": 10,
    "q_pricing_summary": 10, "q_agg_group": 10, "q_agg_distinct": 10,
    "q_approx_distinct": 13, "q_shipping_priority": 10,
    "q_local_supplier_volume": 10, "q_hash_join_inner": 10,
    "q_broadcast_join": 10, "q_semi_join": 10, "q_anti_join": 11,
    "q_range_join": 10, "q_window_rank": 10, "q_window_frame": 10,
    "q_sort_limit_topk": 10, "q_set_ops": 10, "q_scalar_fns": 10,
    "q_array_fns": 10, "q_map_fns": 10, "q_skew_join_salted": 10,
    "q_shuffle_hash_join": 10, "q_outer_join": 10, "q_scalar_subquery": 10,
    "q_pivot_wide": 10, "q_unpivot": 10, "q_grouping_sets": 10,
    "q_percentile_exact": 10, "q_deterministic_sample": 10,
    "q_similarity_topk": 10, "q_similarity_blocked": 11,
    "q_similarity_ivf": 11, "q_text_stats": 11, "q_text_quality": 11,
    "q_text_fingerprint": 11, "q_token_histogram": 11,
    "q_text_tokens_bpe": 11, "q_text_rolling_hash": 11, "q_lang_id_ngram": 12,
    "q_stream_tumbling": 11, "q_rollup_cube": 10, "q_stream_session": 11,
    "q_stream_sliding": 11, "q_asof_align": 11, "q_interp_linear": 11,
    "q_interp_by_key": 11, "q_interval_join": 11, "q_zscore_anomaly": 12,
    "q_stratified_sample": 12, "q_seq_packing": 12, "q_training_shuffle": 12,
    "q_embedding_lsh": 12, "q_embedding_stats": 12, "q_text_repetition": 12,
    "q_contamination": 12, "q_pii_redact": 12, "q_tfidf": 12,
    "q_quality_filter": 12, "q_asof_join": 12, "q_funnel": 12,
    "q_sessionize": 13, "q_retention": 13, "q_interarrival": 13,
    "q_stream_hourly_users": 13, "q_stream_stateful_ewma": 11,
    "q_approx_percentile": 11, "q_hierarchical_rollup": 11,
    "q_lake_roundtrip": 11, "q_returned_items": 11, "q_promo_revenue": 11,
    "q_top_supplier": 11, "q_large_volume_customer": 11,
    "q_region_market_share": 11, "q_json_functions": 11,
    "q_doc_source_stats": 11, "q_sequence_budget": 11,
    "q_dedup_cross_source": 12, "q_customer_order_counts": 11,
    "q_small_qty_revenue": 11, "q_idle_customers": 11,
    "q_nation_year_profit": 12, "q_disjunctive_join": 12,
    "q_multimodal_decode": 13, "q_window_distribution": 12,
    "q_zorder_skipping": 9, "q_frequent_ngrams": 12, "q_argmin_join": 12,
    "q_exists_agg": 12, "q_sole_supplier_wait": 12, "q_global_share": 12,
    "q_scd2_build": 12, "q_vocab_oov": 12, "q_source_mix_weights": 12,
    "q_cdc_merge": 12, "q_pagerank": 12, "q_event_pattern": 12,
    "q_schema_evolution": 12, "q_null_semantics": 12, "q_fuzzy_match": 12,
    "q_doc_chunking": 12, "q_group_sample": 12, "q_robust_stats": 12,
    "q_entity_resolution": 12, "q_hll_rollup": 10, "q_forecast_revenue": 9,
    "q_volume_shipping": 9, "q_shipmode_priority": 9,
    "q_parts_supplier_count": 9, "q_potential_promotion": 9,
    "q_commitlog_roundtrip": 12, "q_heavy_hitters_cms": 12,
    "q_kmv_distinct": 12, "q_bloom_join_prune": 12, "q_triangle_count": 12,
    "q_ewma_batch": 13, "q_rolling_1h": 13, "q_bucketed_join": 13,
    "q_partition_pruning": 13, "q_incremental_agg": 13, "q_linreg_trend": 10,
    "q_time_travel": 13, "q_user_purge": 13, "q_histogram": 13,
    "q_data_quality": 13, "q_curation_pipeline": 13, "q_stream_cms_merge": 12,
    "q_orc_roundtrip": 13, "q_video_frames": 9, "q_sql_udf": 13,
    "q_scd2_lookup": 9, "q_dynamic_partition_pruning": 13,
    "q_date_spine_fill": 12, "q_rfm_segmentation": 12,
    "q_gini_concentration": 12, "q_jsonl_roundtrip": 10,
    "q_corrupt_records": 10, "q_setsim_join": 13, "q_dedup_passages": 13,
    "q_dedup_containment": 13, "q_bm25": 9, "q_cooccurrence_pmi": 9,
    "q_bigram_novelty": 9, "q_udtf_token_offsets": 13, "q_stats_pruning": 13,
    "q_point_lookup_bloom": 13, "q_xml_roundtrip": 13, "q_kmv_intersect": 13,
    "q_shortest_path": 13, "q_weighted_sample": 13, "q_negative_sampling": 13,
    "q_embedding_quantize": 9, "q_corr_matrix": 13, "q_changepoint": 9,
    "q_attribution": 10, "q_seasonal_decompose": 10, "q_anomaly_seasonal": 10,
    "q_stream_enrich": 10, "q_top_movers": 10, "q_transition_matrix": 10,
    "q_market_basket": 13, "q_recursive_cte": 13, "q_dtw_distance": 10,
    "q_phash_dedup": 9, "q_audio_fingerprint": 9, "q_image_resize": 9,
    "q_unigram_logprob": 13, "q_feature_hashing": 13, "q_kl_divergence": 13,
    "q_bpe_train": 13, "q_stream_dedup": 13, "q_kcore": 13,
    "q_hll_portable": 13, "q_quantile_histogram": 13,
    "q_label_propagation": 13, "q_lsh_recall": 13, "q_dp_counts": 13,
    "q_bootstrap_ci": 13, "q_kanonymity": 13, "q_mutual_information": 9,
    "q_skyline_2d": 9, "q_abtest_cuped": 9, "q_random_projection": 9,
    "q_kmeans_lloyd": 9, "q_rrf_fusion": 11, "q_acf": 10,
    "q_arrow_roundtrip": 11, "q_attribution_markov": 11,
    "q_funnel_windowed": 11, "q_interval_merge": 11, "q_langid_confusion": 11,
    "q_ntile_binning": 11, "q_webdataset_roundtrip": 11,
    "q_bottomk_quantile": 10, "q_semdedup": 12, "q_pq_adc": 11,
    "q_importance_resampling": 11, "q_semdedup_kmeans": 11, "q_graph_ann": 11,
    "q_dedup_incremental": 12, "q_delta_export": 13,
    "q_embedding_quality": 10, "q_parquet_footer_stats": 11,
    "q_footer_pruned_scan": 11, "q_stream_running_stats": 11,
    "q_purge_dv": 11, "q_version_diff": 12, "q_upsert_dv": 13,
    "q_cdf_consumer": 13,
}

# ROUND-15 ROTATION DUTY: regenerate _LAST_GREEN from CORRECTNESS_r01..r14
# (tools/regen_last_green.py), front any round-14 red rows plus
# promoted/changed oracles, then continue the staleness cycle: after
# round 14 the oldest cohort is the r10 veterans, then r11 by
# staleness.  The invariant is SELF-ENFORCING:
# tests/test_static_audits.py::test_window_staleness_invariant fails if
# any registered query too stale to wait another round is left outside
# the upcoming 50-entry window.  Pre-flight with
# tools/simulate_window.py 50 as every round.


def load_all() -> dict[str, Query]:
    """Import every query module and return the registry, ordered so the
    driver's 50-entry checked prefix rotates across rounds (see
    ``_WINDOW_FRONT``): stale/never-checked entries first this round, then
    oracle-backed veterans (round-2 order: oracle-first, priority,
    definition order), then the rest.  Queries outside the prefix are still
    bench'd and value-verified locally by tests/test_oracle_parity.py at
    sf0.001 and sf0.01 — the identical rows+schema+value-hash check.
    """
    from . import (  # noqa: F401
        advanced,
        analytics,
        dedup,
        instruments,
        lakeops,
        multimodal_q,
        relational,
        scale,
        similarity,
        sketches,
        text,
        timeseries,
    )

    order = list(REGISTRY)
    front = {n: i for i, n in enumerate(_WINDOW_FRONT)}
    ordered = sorted(
        REGISTRY.values(),
        key=lambda q: (
            (0, front[q.name], 0, False, 0, 0)
            if q.name in front
            else (
                1,
                0,
                # stalest first; never-checked (not in the map) beat all
                # veterans so new additions enter the window immediately
                _LAST_GREEN.get(q.name, 0),
                q.oracle is None,
                q.priority,
                order.index(q.name),
            )
        ),
    )
    return {q.name: q for q in ordered}
