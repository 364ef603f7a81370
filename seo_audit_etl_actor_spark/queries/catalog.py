"""Query registry: name → (Spark callable, DuckDB oracle SQL).

The driver contract (`__spark_entry__.py`) re-exports `queries()` and
`oracle_sql()` from here. Oracle-less entries (genuinely non-SQL-expressible
ops) set sql=None and get the driver's weaker rows-only check.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

from seo_audit_etl_actor_spark.queries import audit_ext as ax
from seo_audit_etl_actor_spark.queries import events_ext as ev
from seo_audit_etl_actor_spark.queries import llm_ext as ext
from seo_audit_etl_actor_spark.queries import pipeline_ext as px
from seo_audit_etl_actor_spark.queries import reference_ops as r
from seo_audit_etl_actor_spark.queries import relational as rel
from seo_audit_etl_actor_spark.queries import quality_ext as qx
from seo_audit_etl_actor_spark.queries import reshape as rs
from seo_audit_etl_actor_spark.queries import scale_ext as sx
from seo_audit_etl_actor_spark.queries import curation_ext as cx
from seo_audit_etl_actor_spark.queries import streaming_ext as stx
from seo_audit_etl_actor_spark.queries import tpch_ext as tq

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class QuerySpec:
    name: str
    fn: QueryFn
    sql: str | None  # DuckDB oracle; None → rows-only check


# ORDERING IS PART OF THE DRIVER CONTRACT: the correctness driver snapshots
# only the FIRST 50 entries of this list. Rules (r8 revision — the order is
# now GENERATED: run `python tools/rotate_catalog.py` after each round's
# CORRECTNESS_r*.json lands; `--check` is enforced by
# tests/test_catalog_order.py::test_catalog_order_canonical):
#   1. NEW queries (no driver evidence in any round) sort to the TOP —
#      they must land inside the 50-entry window.
#   2. Then ascending latest-green round (stalest evidence first), so no
#      query's newest green row ever ages past the rotation period
#      ceil(len(QUERIES)/50) rounds — enforced by test_no_stale_evidence.
#   3. Within an evidence round, MOST-validated first (green-round count
#      descending): a query green across many past rounds is longest-
#      overdue for re-confirmation against current code, while one first
#      validated in that round was already checked against near-current
#      code and can wait a full rotation.
#   4. Queries with the freshest evidence sit at the bottom; rotating out
#      of the window costs them nothing.
# Never append below position 50 — that silently exempts the entry from the
# driver's rows+schema+hash check forever.
QUERIES: list[QuerySpec] = [
    # --- latest green: r10 ---
    QuerySpec("streaming_heavyhitters_differential", stx.q_streaming_heavyhitters_differential, stx.SQL_STREAMING_HEAVYHITTERS_DIFFERENTIAL),
    QuerySpec("zip_source_audit", ax.q_zip_source_audit, ax.SQL_ZIP_SOURCE_AUDIT),
    QuerySpec("arith_lossless_decode_audit", ax.q_arith_lossless_decode_audit, ax.SQL_ARITH_LOSSLESS_DECODE_AUDIT),
    QuerySpec("arith_progressive_decode_audit", ax.q_arith_progressive_decode_audit, ax.SQL_ARITH_PROGRESSIVE_DECODE_AUDIT),
    # --- latest green: r11 ---
    QuerySpec("minhash_near_dup", ext.q_minhash_near_dup, ext.SQL_MINHASH_NEAR_DUP),
    QuerySpec("near_dup_clusters", ext.q_near_dup_clusters, ext.SQL_NEAR_DUP_CLUSTERS),
    QuerySpec("simhash_near_dup", ext.q_simhash_near_dup, ext.SQL_SIMHASH_NEAR_DUP),
    QuerySpec("text_stats", ext.q_text_stats, ext.SQL_TEXT_STATS),
    QuerySpec("above_nation_avg_balance", rs.q_above_nation_avg_balance, rs.SQL_ABOVE_NATION_AVG_BALANCE),
    QuerySpec("asof_join_enrichment", rel.q_asof_join_enrichment, rel.SQL_ASOF_JOIN_ENRICHMENT),
    QuerySpec("bpe_token_stats", ext.q_bpe_token_stats, ext.SQL_BPE_TOKEN_STATS),
    QuerySpec("contamination_by_source", ext.q_contamination_by_source, ext.SQL_CONTAMINATION_BY_SOURCE),
    QuerySpec("cosine_topk_lsh", ext.q_cosine_topk_lsh, ext.SQL_COSINE_TOPK_LSH),
    QuerySpec("cube_order_stats", rel.q_cube_order_stats, rel.SQL_CUBE_ORDER_STATS),
    QuerySpec("customer_rank_stats", rel.q_customer_rank_stats, rel.SQL_CUSTOMER_RANK_STATS),
    QuerySpec("dedup_keep_first", ext.q_dedup_keep_first, ext.SQL_DEDUP_KEEP_FIRST),
    QuerySpec("doc_fingerprints", ext.q_doc_fingerprints, ext.SQL_DOC_FINGERPRINTS),
    QuerySpec("embedding_near_dup", ext.q_embedding_near_dup, ext.SQL_EMBEDDING_NEAR_DUP),
    QuerySpec("event_promo_windows", rs.q_event_promo_windows, rs.SQL_EVENT_PROMO_WINDOWS),
    QuerySpec("grouping_sets_supplier", rel.q_grouping_sets_supplier, rel.SQL_GROUPING_SETS_SUPPLIER),
    QuerySpec("hourly_event_windows", rel.q_hourly_event_windows, rel.SQL_HOURLY_EVENT_WINDOWS),
    QuerySpec("monthly_order_stats", rel.q_monthly_order_stats, rel.SQL_MONTHLY_ORDER_STATS),
    QuerySpec("order_count_distribution", rel.q_order_count_distribution, rel.SQL_ORDER_COUNT_DISTRIBUTION),
    QuerySpec("part_cooccurrence", rel.q_part_cooccurrence, rel.SQL_PART_COOCCURRENCE),
    QuerySpec("pivot_status_priority", rs.q_pivot_status_priority, rs.SQL_PIVOT_STATUS_PRIORITY),
    QuerySpec("price_histogram", rs.q_price_histogram, rs.SQL_PRICE_HISTOGRAM),
    QuerySpec("price_percentiles", rel.q_price_percentiles, rel.SQL_PRICE_PERCENTILES),
    QuerySpec("repetition_stats", ext.q_repetition_stats, ext.SQL_REPETITION_STATS),
    QuerySpec("revenue_by_nation", rel.q_revenue_by_nation, rel.SQL_REVENUE_BY_NATION),
    QuerySpec("rollup_region_nation", rel.q_rollup_region_nation, rel.SQL_ROLLUP_REGION_NATION),
    QuerySpec("running_order_totals", rel.q_running_order_totals, rel.SQL_RUNNING_ORDER_TOTALS),
    QuerySpec("segment_user_reconciliation", rel.q_segment_user_reconciliation, rel.SQL_SEGMENT_USER_RECONCILIATION),
    QuerySpec("semi_anti_customers", rel.q_semi_anti_customers, rel.SQL_SEMI_ANTI_CUSTOMERS),
    QuerySpec("sessionize_events", rs.q_sessionize_events, rs.SQL_SESSIONIZE_EVENTS),
    QuerySpec("set_ops_customers", rel.q_set_ops_customers, rel.SQL_SET_OPS_CUSTOMERS),
    QuerySpec("skewsafe_distinct_users", ext.q_skewsafe_distinct_users, ext.SQL_SKEWSAFE_DISTINCT_USERS),
    QuerySpec("token_histogram", ext.q_token_histogram, ext.SQL_TOKEN_HISTOGRAM),
    QuerySpec("topk_parts_per_brand", rel.q_topk_parts_per_brand, rel.SQL_TOPK_PARTS_PER_BRAND),
    QuerySpec("trailing_hour_value", rel.q_trailing_hour_value, rel.SQL_TRAILING_HOUR_VALUE),
    QuerySpec("unpivot_lineitem_metrics", rs.q_unpivot_lineitem_metrics, rs.SQL_UNPIVOT_LINEITEM_METRICS),
    QuerySpec("user_event_deltas", rel.q_user_event_deltas, rel.SQL_USER_EVENT_DELTAS),
    QuerySpec("vocab_oov_stats", ext.q_vocab_oov_stats, ext.SQL_VOCAB_OOV_STATS),
    QuerySpec("approx_distinct_users", ext.q_approx_distinct_users, ext.SQL_APPROX_DISTINCT_USERS),
    QuerySpec("chunk_stats", ext.q_chunk_stats, ext.SQL_CHUNK_STATS),
    QuerySpec("length_bucket_packing", px.q_length_bucket_packing, px.SQL_LENGTH_BUCKET_PACKING),
    QuerySpec("median_bound_check", sx.q_median_bound_check, sx.SQL_MEDIAN_BOUND_CHECK),
    QuerySpec("nation_pagerank", sx.q_nation_pagerank, sx.SQL_NATION_PAGERANK),
    QuerySpec("passage_dedup_stats", px.q_passage_dedup_stats, px.SQL_PASSAGE_DEDUP_STATS),
    QuerySpec("quantity_price_regression", qx.q_quantity_price_regression, qx.SQL_QUANTITY_PRICE_REGRESSION),
    QuerySpec("source_mixing_weights", px.q_source_mixing_weights, px.SQL_SOURCE_MIXING_WEIGHTS),
    QuerySpec("tpch_q1_pricing_summary", rel.q_tpch_q1_pricing_summary, rel.SQL_TPCH_Q1_PRICING_SUMMARY),
    QuerySpec("ann_probe_policy_audit", ext.q_ann_probe_policy_audit, ext.SQL_ANN_PROBE_POLICY_AUDIT),
    QuerySpec("simhash_wide_fingerprints", ext.q_simhash_wide_fingerprints, ext.SQL_SIMHASH_WIDE_FINGERPRINTS),
    QuerySpec("simhash_wide_near_dup", ext.q_simhash_wide_near_dup, ext.SQL_SIMHASH_WIDE_NEAR_DUP),
    # --- latest green: r12 ---
    QuerySpec("accumulate_union", r.q_accumulate_union, r.SQL_ACCUMULATE_UNION),
    QuerySpec("avg_domain_rating", r.q_avg_domain_rating, r.SQL_AVG_DOMAIN_RATING),
    QuerySpec("cosine_topk_ivf", ext.q_cosine_topk_ivf, ext.SQL_COSINE_TOPK_IVF),
    QuerySpec("curation_funnel", ext.q_curation_funnel, ext.SQL_CURATION_FUNNEL),
    QuerySpec("dsir_importance_weights", cx.q_dsir_importance_weights, cx.SQL_DSIR_IMPORTANCE_WEIGHTS),
    QuerySpec("dup_ngram_span_ratio", cx.q_dup_ngram_span_ratio, cx.SQL_DUP_NGRAM_SPAN_RATIO),
    QuerySpec("embedding_centroid_outliers", cx.q_embedding_centroid_outliers, cx.SQL_EMBEDDING_CENTROID_OUTLIERS),
    QuerySpec("embedding_quantization_error", cx.q_embedding_quantization_error, cx.SQL_EMBEDDING_QUANTIZATION_ERROR),
    QuerySpec("gopher_quality_rules", cx.q_gopher_quality_rules, cx.SQL_GOPHER_QUALITY_RULES),
    QuerySpec("hash_split_stats", ext.q_hash_split_stats, ext.SQL_HASH_SPLIT_STATS),
    QuerySpec("packing_stats", ext.q_packing_stats, ext.SQL_PACKING_STATS),
    QuerySpec("sparse_retrieval_topk", cx.q_sparse_retrieval_topk, cx.SQL_SPARSE_RETRIEVAL_TOPK),
    QuerySpec("stratified_sample_stats", ext.q_stratified_sample_stats, ext.SQL_STRATIFIED_SAMPLE_STATS),
    QuerySpec("tfidf_top_terms", ext.q_tfidf_top_terms, ext.SQL_TFIDF_TOP_TERMS),
    QuerySpec("tpch_q10_returned_items", tq.q_tpch_q10_returned_items, tq.SQL_TPCH_Q10_RETURNED_ITEMS),
    QuerySpec("tpch_q11_important_stock", tq.q_tpch_q11_important_stock, tq.SQL_TPCH_Q11_IMPORTANT_STOCK),
    QuerySpec("tpch_q12_ship_priority_classes", tq.q_tpch_q12_ship_priority_classes, tq.SQL_TPCH_Q12_SHIP_PRIORITY_CLASSES),
    QuerySpec("tpch_q13_customer_distribution", tq.q_tpch_q13_customer_distribution, tq.SQL_TPCH_Q13_CUSTOMER_DISTRIBUTION),
    QuerySpec("tpch_q14_promo_effect", tq.q_tpch_q14_promo_effect, tq.SQL_TPCH_Q14_PROMO_EFFECT),
    QuerySpec("tpch_q15_top_supplier", tq.q_tpch_q15_top_supplier, tq.SQL_TPCH_Q15_TOP_SUPPLIER),
    QuerySpec("tpch_q16_parts_supplier_relationship", tq.q_tpch_q16_parts_supplier_relationship, tq.SQL_TPCH_Q16_PARTS_SUPPLIER_RELATIONSHIP),
    QuerySpec("tpch_q17_small_quantity_revenue", tq.q_tpch_q17_small_quantity_revenue, tq.SQL_TPCH_Q17_SMALL_QUANTITY_REVENUE),
    QuerySpec("tpch_q2_min_cost_supplier", tq.q_tpch_q2_min_cost_supplier, tq.SQL_TPCH_Q2_MIN_COST_SUPPLIER),
    QuerySpec("tpch_q3_shipping_priority", rel.q_tpch_q3_shipping_priority, rel.SQL_TPCH_Q3_SHIPPING_PRIORITY),
    QuerySpec("tpch_q4_order_priority", tq.q_tpch_q4_order_priority, tq.SQL_TPCH_Q4_ORDER_PRIORITY),
    QuerySpec("tpch_q5_local_supplier_volume", tq.q_tpch_q5_local_supplier_volume, tq.SQL_TPCH_Q5_LOCAL_SUPPLIER_VOLUME),
    QuerySpec("tpch_q6_forecast_revenue", tq.q_tpch_q6_forecast_revenue, tq.SQL_TPCH_Q6_FORECAST_REVENUE),
    QuerySpec("tpch_q7_volume_shipping", tq.q_tpch_q7_volume_shipping, tq.SQL_TPCH_Q7_VOLUME_SHIPPING),
    QuerySpec("tpch_q8_market_share", tq.q_tpch_q8_market_share, tq.SQL_TPCH_Q8_MARKET_SHARE),
    QuerySpec("tpch_q9_product_type_profit", tq.q_tpch_q9_product_type_profit, tq.SQL_TPCH_Q9_PRODUCT_TYPE_PROFIT),
    QuerySpec("weekly_retention_cohorts", ev.q_weekly_retention_cohorts, ev.SQL_WEEKLY_RETENTION_COHORTS),
    QuerySpec("mv_merge_audit", ax.q_mv_merge_audit, ax.SQL_MV_MERGE_AUDIT),
    QuerySpec("streaming_anomaly_differential", stx.q_streaming_anomaly_differential, stx.SQL_STREAMING_ANOMALY_DIFFERENTIAL),
    QuerySpec("arith_decode_audit", ax.q_arith_decode_audit, ax.SQL_ARITH_DECODE_AUDIT),
    QuerySpec("broadcast_join_audit", ax.q_broadcast_join_audit, ax.SQL_BROADCAST_JOIN_AUDIT),
    QuerySpec("bucketed_join_audit", ax.q_bucketed_join_audit, ax.SQL_BUCKETED_JOIN_AUDIT),
    QuerySpec("cms_error_audit", ext.q_cms_error_audit, ext.SQL_CMS_ERROR_AUDIT),
    QuerySpec("extended_decode_audit", ax.q_extended_decode_audit, ax.SQL_EXTENDED_DECODE_AUDIT),
    QuerySpec("format_roundtrip_audit", ax.q_format_roundtrip_audit, ax.SQL_FORMAT_ROUNDTRIP_AUDIT),
    QuerySpec("jsonl_roundtrip_audit", ax.q_jsonl_roundtrip_audit, ax.SQL_JSONL_ROUNDTRIP_AUDIT),
    QuerySpec("lake_maintenance_audit", ax.q_lake_maintenance_audit, ax.SQL_LAKE_MAINTENANCE_AUDIT),
    QuerySpec("lossless_decode_audit", ax.q_lossless_decode_audit, ax.SQL_LOSSLESS_DECODE_AUDIT),
    QuerySpec("partition_pruning_audit", ax.q_partition_pruning_audit, ax.SQL_PARTITION_PRUNING_AUDIT),
    QuerySpec("pii_redaction_audit", qx.q_pii_redaction_audit, qx.SQL_PII_REDACTION_AUDIT),
    QuerySpec("scan_pushdown_audit", ax.q_scan_pushdown_audit, ax.SQL_SCAN_PUSHDOWN_AUDIT),
    QuerySpec("semantic_dedup_stats", ext.q_semantic_dedup_stats, ext.SQL_SEMANTIC_DEDUP_STATS),
    QuerySpec("streaming_attribution_differential", stx.q_streaming_attribution_differential, stx.SQL_STREAMING_ATTRIBUTION_DIFFERENTIAL),
    QuerySpec("streaming_dedup_differential", stx.q_streaming_dedup_differential, stx.SQL_STREAMING_DEDUP_DIFFERENTIAL),
    QuerySpec("streaming_enrichment_differential", stx.q_streaming_enrichment_differential, stx.SQL_STREAMING_ENRICHMENT_DIFFERENTIAL),
    QuerySpec("simhash_auto_near_dup", ext.q_simhash_auto_near_dup, ext.SQL_SIMHASH_AUTO_NEAR_DUP),
    # --- latest green: r13 ---
    QuerySpec("cosine_topk_bruteforce", ext.q_cosine_topk_bruteforce, ext.SQL_COSINE_TOPK),
    QuerySpec("coverage_weighted_score", r.q_coverage_weighted_score, r.SQL_COVERAGE_WEIGHTED_SCORE),
    QuerySpec("cwv_pass_rate", r.q_cwv_pass_rate, r.SQL_CWV_PASS_RATE),
    QuerySpec("doc_quality_by_source", ext.q_doc_quality_by_source, ext.SQL_DOC_QUALITY_BY_SOURCE),
    QuerySpec("exact_dedup_stats", ext.q_exact_dedup_stats, ext.SQL_EXACT_DEDUP_STATS),
    QuerySpec("first_and_collect", r.q_first_and_collect, r.SQL_FIRST_AND_COLLECT),
    QuerySpec("keyword_position_buckets", r.q_keyword_position_buckets, r.SQL_KEYWORD_POSITION_BUCKETS),
    QuerySpec("lang_id_confusion", ext.q_lang_id_confusion, ext.SQL_LANG_ID_CONFUSION),
    QuerySpec("liveness_ratio", r.q_liveness_ratio, r.SQL_LIVENESS_RATIO),
    QuerySpec("ngram_jaccard_sample", ext.q_ngram_jaccard_sample, ext.SQL_NGRAM_JACCARD_SAMPLE),
    QuerySpec("numeric_coercion", r.q_numeric_coercion, r.SQL_NUMERIC_COERCION),
    QuerySpec("p75_nearest_rank", r.q_p75_nearest_rank, r.SQL_P75_NEAREST_RANK),
    QuerySpec("pages_total_coalesce", r.q_pages_total_coalesce, r.SQL_PAGES_TOTAL_COALESCE),
    QuerySpec("price_band_theta_join", rel.q_price_band_theta_join, rel.SQL_PRICE_BAND_THETA_JOIN),
    QuerySpec("ratio_high_value", r.q_ratio_high_value, r.SQL_RATIO_HIGH_VALUE),
    QuerySpec("simhash_fingerprints", ext.q_simhash_fingerprints, ext.SQL_SIMHASH_FINGERPRINTS),
    QuerySpec("status_code_bands", r.q_status_code_bands, r.SQL_STATUS_CODE_BANDS),
    QuerySpec("balance_outliers", qx.q_balance_outliers, qx.SQL_BALANCE_OUTLIERS),
    QuerySpec("bpe_pair_stats", px.q_bpe_pair_stats, px.SQL_BPE_PAIR_STATS),
    QuerySpec("conversion_funnel", ev.q_conversion_funnel, ev.SQL_CONVERSION_FUNNEL),
    QuerySpec("cosine_topk_rerank", ext.q_cosine_topk_rerank, ext.SQL_COSINE_TOPK_RERANK),
    QuerySpec("data_quality_checks", qx.q_data_quality_checks, qx.SQL_DATA_QUALITY_CHECKS),
    QuerySpec("dedup_within_window", ev.q_dedup_within_window, ev.SQL_DEDUP_WITHIN_WINDOW),
    QuerySpec("embedding_near_dup_ivf", ext.q_embedding_near_dup_ivf, ext.SQL_EMBEDDING_NEAR_DUP_IVF),
    QuerySpec("event_rate_anomalies", ev.q_event_rate_anomalies, ev.SQL_EVENT_RATE_ANOMALIES),
    QuerySpec("event_transitions", ev.q_event_transitions, ev.SQL_EVENT_TRANSITIONS),
    QuerySpec("fuzzy_name_pairs", qx.q_fuzzy_name_pairs, qx.SQL_FUZZY_NAME_PAIRS),
    QuerySpec("gap_fill_hourly", ev.q_gap_fill_hourly, ev.SQL_GAP_FILL_HOURLY),
    QuerySpec("heavy_hitter_tokens", sx.q_heavy_hitter_tokens, sx.SQL_HEAVY_HITTER_TOKENS),
    QuerySpec("incremental_admission", px.q_incremental_admission, px.SQL_INCREMENTAL_ADMISSION),
    QuerySpec("incremental_agg_merge", sx.q_incremental_agg_merge, sx.SQL_INCREMENTAL_AGG_MERGE),
    QuerySpec("json_props_stats", ev.q_json_props_stats, ev.SQL_JSON_PROPS_STATS),
    QuerySpec("approx_distinct_users_prod", ext.q_approx_distinct_users_prod, None),
    QuerySpec("bigram_lm_scores", px.q_bigram_lm_scores, px.SQL_BIGRAM_LM_SCORES),
    QuerySpec("chunk_text_extraction", ax.q_chunk_text_extraction, ax.SQL_CHUNK_TEXT_EXTRACTION),
    QuerySpec("ffd_packing_audit", ax.q_ffd_packing_audit, ax.SQL_FFD_PACKING_AUDIT),
    QuerySpec("table_profile_audit", ax.q_table_profile_audit, ax.SQL_TABLE_PROFILE_AUDIT),
    QuerySpec( "token_budget_apportionment", px.q_token_budget_apportionment, px.SQL_TOKEN_BUDGET_APPORTIONMENT, ),
    QuerySpec("token_rarity_stats", px.q_token_rarity_stats, px.SQL_TOKEN_RARITY_STATS),
    QuerySpec("tpch_q18_large_volume_customer", rel.q_tpch_q18_large_volume_customer, rel.SQL_TPCH_Q18_LARGE_VOLUME_CUSTOMER),
    QuerySpec("tpch_q19_discounted_revenue", tq.q_tpch_q19_discounted_revenue, tq.SQL_TPCH_Q19_DISCOUNTED_REVENUE),
    QuerySpec("tpch_q20_potential_promotion", tq.q_tpch_q20_potential_promotion, tq.SQL_TPCH_Q20_POTENTIAL_PROMOTION),
    QuerySpec("tpch_q21_waiting_supplier", rel.q_tpch_q21_waiting_supplier, rel.SQL_TPCH_Q21_WAITING_SUPPLIER),
    QuerySpec("tpch_q22_sales_opportunity", tq.q_tpch_q22_sales_opportunity, tq.SQL_TPCH_Q22_SALES_OPPORTUNITY),
    QuerySpec("media_decode_audit", ax.q_media_decode_audit, ax.SQL_MEDIA_DECODE_AUDIT),
    QuerySpec("streaming_curation_differential", stx.q_streaming_curation_differential, stx.SQL_STREAMING_CURATION_DIFFERENTIAL),
    QuerySpec("streaming_hourly_windows_differential", stx.q_streaming_hourly_windows_differential, stx.SQL_STREAMING_HOURLY_WINDOWS_DIFFERENTIAL),
    QuerySpec("streaming_running_totals_differential", stx.q_streaming_running_totals_differential, stx.SQL_STREAMING_RUNNING_TOTALS_DIFFERENTIAL),
    QuerySpec("streaming_sessions_differential", stx.q_streaming_sessions_differential, stx.SQL_STREAMING_SESSIONS_DIFFERENTIAL),
    QuerySpec("user_ewma_profile", ev.q_user_ewma_profile, ev.SQL_USER_EWMA_PROFILE),
]


def queries() -> dict[str, QueryFn]:
    return {q.name: q.fn for q in QUERIES}


def oracle_sql() -> dict[str, str]:
    return {q.name: q.sql for q in QUERIES if q.sql is not None}
