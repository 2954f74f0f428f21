package graft

/** Keys that share another key's DuckDB oracle, declared once.
  *
  * `aliases` maps a key to the key whose oracle SQL it shares. A target is
  * never itself an alias. The family holding the target's SQL serves the
  * alias too ([[withSharers]]), so each semantics has exactly one oracle
  * text. EntrySpec fails on an alias that does not resolve and on any two
  * keys whose oracles are equal without a declaration here.
  */
private[graft] object SharedOracles {

  val aliases: Map[String, String] = Map(
    // Wire twins: each JSON body compiles onto the same combinators, with
    // the same parameters, as its structured twin.
    "search_dsl_json_adjacency" -> "search_adjacency_matrix",
    "search_dsl_json_auto_date_histogram" -> "search_auto_date_histogram",
    "search_dsl_json_avg_bucket" -> "search_avg_bucket",
    "search_dsl_json_boxplot" -> "search_boxplot",
    "search_dsl_json_bucket_selector" -> "search_bucket_selector",
    "search_dsl_json_categorize_text" -> "search_categorize_text",
    "search_dsl_json_change_point" -> "search_change_point",
    "search_dsl_json_children" -> "search_children_agg",
    "search_dsl_json_composite" -> "search_composite_after",
    "search_dsl_json_constant_score" -> "search_constant_score",
    "search_dsl_json_cumulative_cardinality" -> "search_cumulative_cardinality",
    "search_dsl_json_date_histogram_filled" -> "search_date_histogram_filled",
    "search_dsl_json_dh_timezone" -> "search_date_histogram_tz",
    "search_dsl_json_extended_stats" -> "search_extended_stats",
    "search_dsl_json_filter_agg" -> "search_filter_agg",
    "search_dsl_json_filters_other" -> "search_filters_other",
    "search_dsl_json_frequent_pairs" -> "search_frequent_pairs",
    "search_dsl_json_geo_bounds" -> "search_geo_bounds",
    "search_dsl_json_geo_distance_rings" -> "search_geo_distance_rings",
    "search_dsl_json_geo_line" -> "search_geo_line",
    "search_dsl_json_geohash" -> "search_geohash_grid",
    "search_dsl_json_geotile" -> "search_geotile_grid",
    "search_dsl_json_global" -> "search_global_agg",
    "search_dsl_json_has_child" -> "search_has_child",
    "search_dsl_json_has_parent" -> "search_has_parent",
    "search_dsl_json_histogram" -> "search_histogram_agg",
    "search_dsl_json_hybrid" -> "search_hybrid_rrf",
    "search_dsl_json_intervals" -> "search_intervals_any",
    "search_dsl_json_ip_prefix" -> "search_ip_prefix",
    "search_dsl_json_ip_range" -> "search_ip_range",
    "search_dsl_json_mad" -> "search_mad",
    "search_dsl_json_match_bool_prefix" -> "search_match_bool_prefix",
    "search_dsl_json_match_phrase_prefix" -> "search_match_phrase_prefix",
    "search_dsl_json_matrix_stats" -> "search_matrix_stats",
    "search_dsl_json_max_bucket" -> "search_max_bucket",
    "search_dsl_json_missing" -> "search_missing_agg",
    "search_dsl_json_multi_terms" -> "search_multi_terms",
    "search_dsl_json_nested_agg" -> "search_nested_agg",
    "search_dsl_json_neural_sparse" -> "search_neural_sparse",
    "search_dsl_json_parent" -> "search_parent_agg",
    "search_dsl_json_percentiles_bucket" -> "search_percentiles_bucket",
    "search_dsl_json_percolate_indexed" -> "search_percolate_indexed_rich",
    "search_dsl_json_phrase_suggest" -> "search_phrase_suggest",
    "search_dsl_json_rate" -> "search_rate",
    "search_dsl_json_reverse_nested" -> "search_reverse_nested",
    "search_dsl_json_sampler" -> "search_sampler_diversified",
    "search_dsl_json_scripted_metric" -> "search_scripted_metric",
    "search_dsl_json_search_after" -> "search_search_after",
    "search_dsl_json_significant" -> "search_significant_terms",
    "search_dsl_json_simple_query_string" -> "search_simple_query_string",
    "search_dsl_json_span_multi" -> "search_span_multi",
    "search_dsl_json_span_near" -> "search_span_near",
    "search_dsl_json_span_or" -> "search_span_or",
    "search_dsl_json_string_stats" -> "search_string_stats",
    "search_dsl_json_suggest" -> "search_suggest",
    "search_dsl_json_suggest_completion" -> "search_suggest_completion",
    "search_dsl_json_synonyms" -> "search_match_synonyms_index",
    "search_dsl_json_terms_lookup" -> "search_terms_lookup",
    "search_dsl_json_top_hits" -> "search_top_hits",
    "search_dsl_json_variable_width_histogram" -> "search_variable_width_histogram",
    "search_dsl_json_weighted_avg" -> "search_weighted_avg",
    "search_dsl_json_pit" -> "cdc_pit_read",
    // Same memoized index, query vector (float→text→float round-trips
    // exactly), k, nprobe and rerank window as the structured key.
    "search_dsl_json_knn_ivf" -> "ann_ivf_topk",
    "search_dsl_json_knn_pq" -> "ann_ivf_pq_topk",

    // The same TPC-H answer off the co-located bucketed layout.
    "q3_shipping_colocated" -> "q3_shipping_priority",
    "q7_volume_colocated" -> "q7_volume_shipping",
    "q9_product_colocated" -> "q9_product_profit",
    "q12_ship_colocated" -> "q12_ship_priority",
    "q18_large_orders_colocated" -> "q18_large_orders",
    "q21_waiting_colocated" -> "q21_waiting_suppliers",

    // Serving tiers are result-identical by construction: same centroids
    // or signature kernel, same candidate rule, same cosine fold. The graph
    // tier emits bit-identical rows to the DataFrame beam (GraphServingSpec).
    "ann_ivf_serving" -> "ann_ivf_topk",
    "ann_lsh_serving" -> "ann_lsh_topk",
    "ann_graph_serving" -> "ann_graph_topk",
    // PQ/OPQ builds emit the coarse-cell histogram of the same 16-cell
    // quantizer: the cell is picked from the raw vector before any
    // rotation or codebook, so the histogram is ann_ivf_build's.
    "ann_ivf_pq_build" -> "ann_ivf_build",
    "ann_ivf_opq_build" -> "ann_ivf_build",
    "ann_ivf_opq_full_build" -> "ann_ivf_build",

    // The TopKPerKey physical operator computes search_top_hits' rows.
    "search_top_hits_native" -> "search_top_hits",
    // The bloom prefilter has no false negatives and every hit is confirmed.
    "text_decontaminate_bloom" -> "text_decontaminate"
  )

  /** A family's own oracle SQL plus every alias whose target it holds. */
  def withSharers(own: Map[String, String]): Map[String, String] =
    own ++ aliases.collect { case (key, target) if own.contains(target) => key -> own(target) }
}
