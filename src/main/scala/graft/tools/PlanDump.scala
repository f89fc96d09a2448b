package graft.tools

import graft.SparkEntry
import graft.ops.Housekeeping
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ExplainMode

import java.nio.file.{Files, Paths}

/** Dumps `explain("formatted")` for query keys, after one run of each so
  * AQE has finalized the plan.
  *
  * {{{
  *   runMain graft.tools.PlanDump <sfDir> [out.md]
  *   runMain graft.tools.PlanDump <sfDir> <outDir> <key1,key2,...> [suffix]
  * }}}
  *
  * The first form writes the representative `picks` below into PLANS.md —
  * the plan-review artifact backing SCALE.md's shuffle/pushdown claims. The
  * second writes `<outDir>/<key>_<suffix>.txt` per listed key (suffix
  * defaults to `after`): run it once on the tree before a change (suffix
  * `before`) and once after to commit a plan diff, as under plans/.
  */
object PlanDump {
  private val picks = Seq(
    "scan_parquet_project", "agg_pricing_summary", "join_broadcast_dim",
    "join_sortmerge_big", "join_asof", "topk_global", "window_cumsum",
    "ts_session_window", "ts_counter_delta", "sim_search_topk",
    "dedup_embedding_cosine", "dedup_decontaminate",
    "sim_search_ann_lsh", "sim_search_ann_ivf", "dedup_near_minhash",
    "star_join_q5", "star_topn_q3",
    "subquery_correlated", "sink_bucketed_join", "site_circuit_rollup",
    "sample_stratified", "pack_sequences", "funnel_conversion", "text_heavy_hitters",
    "dedup_incremental_exact", "sim_search_ann_probe", "dedup_incremental_minhash",
    "ts_interpolate_linear", "text_pii_scrub", "sink_clustered_layout",
    "pipeline_corpus_build",
    "dq_expectations", "cdc_apply_changes", "sample_reservoir_group",
    "agg_percentile_exact", "ts_zscore_rolling",
    "graph_pagerank", "text_tfidf_topk", "dedup_containment", "stats_histogram",
    "dedup_image_phash", "stats_corr_exact", "embed_gram_exact", "text_ngram_lm",
    "sample_weighted_hash", "join_asof_tolerance", "join_first_touch",
    "window_streak_longest", "ts_cusum_drift", "graph_bfs_levels",
    "dedup_substring_spans", "dedup_substring_trim", "text_chunk_overlap",
    "join_entity_resolution", "sim_search_ann_pq", "text_lm_score_filter",
    "sample_mixture_quota", "stats_countmin_estimate", "ts_sliding_distinct",
    "agg_bitmap_distinct",
    "join_asof_native", "dim_scd2_asof_native", "geo_grid_neighbor_join",
    "funnel_pattern_match", "agg_theta_setops", "source_provenance_audit",
    "ids_dense_assign", "join_dpp_partition_pruning",
    "join_asof_tolerance_native", "agg_mv_rewrite_rollup",
    "source_custom_v2_solarlog", "sink_custom_v2_roundtrip",
    "cdc_snapshot_diff", "graph_connected_components",
    "graph_shortest_path", "stats_bottomk_quantiles",
    "dim_hierarchy_rollup", "sql_recursive_cte", "join_asof_nearest",
    "join_shuffle_hash_hint", "plan_reuse_exchange", "join_null_safe",
    "stats_linreg_coeffs", "json_variant_extract", "sql_udf_scalar_inline",
    "sql_table_function", "feature_onehot_encode", "feature_scale_minmax",
    "analytics_top_paths", "mv_join_delta_maintain", "set_except_all",
    "analytics_rfm_segmentation", "sql_catalog_time_travel",
    "scan_stats_prune", "dq_join_skew_report", "join_skew_hybrid",
    "pipeline_shard_balance", "pipeline_budget_select", "sim_search_mmr_rerank",
    "plan_slice_skew_profile", "join_range_sliced")

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val perKey = args.length > 2
    val out = Paths.get(args.lift(1).getOrElse("PLANS.md"))
    val keys = if (perKey) args(2).split(",").map(_.trim).filter(_.nonEmpty).toSeq else picks
    val spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.maxMetadataStringLength", "200")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val plans = keys.map { name =>
      val df = SparkEntry.queries(name)(spark, sfDir)
      df.collect() // let AQE finalize
      val plan = df.queryExecution.explainString(ExplainMode.fromString("formatted")).trim
      Housekeeping.releaseAll()
      name -> plan
    }
    if (perKey) {
      Files.createDirectories(out)
      for ((name, plan) <- plans) {
        val file = out.resolve(s"${name}_${args.lift(3).getOrElse("after")}.txt")
        Files.writeString(file, plan + "\n")
        println(s"wrote $file")
      }
    } else {
      val sb = new StringBuilder
      sb.append("# PLANS — `explain(\"formatted\")` for representative queries\n\n")
      sb.append(s"Generated by `graft.tools.PlanDump` against `$sfDir`.\n")
      sb.append("Commentary on why each plan is the one we want: SCALE.md.\n")
      for ((name, plan) <- plans)
        sb.append(s"\n## $name\n\n```\n$plan\n```\n")
      Files.writeString(out, sb.toString)
      println(s"wrote $out")
    }
    spark.stop()
  }
}
