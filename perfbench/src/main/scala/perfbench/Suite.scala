package perfbench

/**
 * The query suite's map from query name to the module whose code the query
 * mostly exercises, and the fixed sample the `query_suite_sf01` workload
 * runs. Rules are tried in order; the first whose prefix (or exact name,
 * for entries without a trailing `_`) matches wins. Every entry of
 * `graft.SparkEntry.queries` must match a rule (SuiteSpec checks this).
 */
object Suite {
  val Modules: Seq[String] =
    Seq("geo", "indicators", "workflow", "text", "lake", "sources", "ml", "streaming", "relational")

  private val Rules: Seq[(String, String)] = Seq(
    // exact names that a prefix rule below would place elsewhere
    "dedup_embedding_cosine" -> "ml", "multimodal_feats" -> "ml", "utrf_classify" -> "ml",
    "text_stats" -> "text", "set_union_pad" -> "relational", "worldpop_grid" -> "sources",
    "geo_utm_transform" -> "geo", "zone_extract" -> "workflow", "zone_stats" -> "lake",
    "curation_pipeline_e2e" -> "lake", "overpass_query_gen" -> "sources",
    "grid_roughness" -> "workflow", "grid_frontal_index" -> "workflow",
    "grid_lcz_sprawl_dispatch" -> "workflow", "grid_facade_street" -> "workflow",
    "grid_building_form" -> "workflow", "grid_height_distribution" -> "workflow",
    "grid_building_direction" -> "workflow", "grid_land_fraction" -> "workflow",
    "grid_utrf_fraction" -> "workflow", "grid_sea_land" -> "workflow", "grid_lcz_aggregation" -> "workflow",
    "fixture_block_assign" -> "geo", "blocks_cc" -> "geo",
    "road_traffic" -> "indicators", "noise_ground_absorption" -> "indicators",
    "distribution_char" -> "indicators", "multiscale_population" -> "indicators",
    // prefix rules
    "q1_" -> "relational", "q2_" -> "relational", "q3_" -> "relational", "q4_" -> "relational",
    "events_" -> "streaming",
    "rf_" -> "ml", "ann_" -> "ml",
    "pages_" -> "lake", "sink_" -> "lake",
    "osm_" -> "sources", "bdtopo_" -> "sources", "shp_" -> "sources",
    "workflow_" -> "workflow",
    "geo_" -> "geo",
    "bld_" -> "indicators", "rsu_" -> "indicators", "block_" -> "indicators", "agg_" -> "indicators",
    "lcz_" -> "indicators", "grid_" -> "indicators", "sprawl_" -> "indicators",
    "text_" -> "text", "dedup_" -> "text", "url_" -> "text", "pii_" -> "text", "gopher_" -> "text",
    "sample_" -> "text", "vocab_" -> "text", "lm_" -> "text", "bm25_" -> "text", "seq_" -> "text")

  def module(query: String): Option[String] =
    Rules.collectFirst {
      case (k, m) if (if (k.endsWith("_")) query.startsWith(k) else query == k) => m
    }

  /** The sample one pass runs: one query of each module, chosen so that a
    * pass stays short enough for several passes per run and DuckDB can
    * check every row count in about a second. The seed only permutes this
    * order. */
  val Sample: Seq[String] = Seq(
    "q1_agg", "events_sessions", "rf_train_apply", "dedup_exact", "pages_e2e",
    "osm_format_road", "zone_extract", "bld_size_props", "geo_pip_join")
}
