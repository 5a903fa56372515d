package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.queries._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every key in `queries` is an operator from the SURVEY.md §2.2 inventory;
  * every key that is SQL-expressible also appears in `oracleSql` with the
  * DuckDB-equivalent text (authored side by side in
  * graft.queries.OracleSql).
  *
  * Cache lifetime convention: queries whose plan reads a shared
  * intermediate twice (q34/q35 signatures, q37's exploded LSH frame,
  * q71's token stream, q74's bigram counts) `cache()` that intermediate
  * and deliberately do NOT unpersist — the returned DataFrame is lazy, so
  * the cache is only populated when the CALLER runs an action, and only
  * the caller knows when the result is no longer live. Callers that run
  * many queries serially (Bench, Verify, Profile) call
  * [[SparkEntry.clearGraftCaches]] between queries; a long-lived
  * session embedding these operators must do the same or accept the
  * storage. (The RDD-unpersist half matters: the CC fixpoints (q57/q66/q81) and
  * q72's pinned frame use eager `localCheckpoint(true)` — correctness,
  * not just cost, depends on a single materialization — and checkpoint
  * blocks live OUTSIDE the catalog cache; relying on GC alone was the
  * round-4 bench inflation.) */
object SparkEntry {

  /** Runtime session tuning, applied by [[localSession]]; a session that
    * embeds these operators should apply it too ([[applyEngineConfs]]).
    *
    * Runtime bloom filters are off. These plans carry no NDV statistic,
    * so InjectRuntimeFilter sizes every bloom it injects at the default
    * 10⁶ expected items: 8388608 bits, about 1 MiB, serialized into the
    * task binary of every stage above the filter. The engine's joins
    * already prune explicitly (broadcast semi-joins, DPP on the bucketed
    * layout, the q90 salt), so building and shipping the bloom is pure
    * overhead. A deployment with cost-based statistics that wants
    * right-sized blooms can re-enable them per session. */
  val EngineConfs: Map[String, String] = Map(
    "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "false")

  /** Apply [[EngineConfs]] to a live session (all confs are
    * runtime-settable) and install the [[LogNoise]] log filters. */
  def applyEngineConfs(spark: SparkSession): Unit = {
    EngineConfs.foreach { case (k, v) => spark.conf.set(k, v) }
    dropLogNoise()
  }

  /** The (logger, message regex) pairs the logs drop; every other message
    * of these loggers stays visible.
    *
    * DAGScheduler: stopping a streaming query cancels its run's job group,
    * and when that group has no running job DAGScheduler logs this WARN
    * from its event-loop thread, so every clean stop of an idle query logs
    * it. A level change scoped around `stop()` would race that thread; a
    * message filter does not.
    *
    * ResolveWriteToStream and MicroBatchExecution: every streaming query
    * started on a session with AQE on, and every stateful one again at
    * each micro-batch plan, says that AQE is disabled for it. That is
    * Spark's fixed behaviour, not a fault of the query.
    *
    * WindowExec: every window without `partitionBy` warns that it moves
    * its input to one partition. Such windows are allowed only above a
    * reduced frame, and only at the sites PlanSpec's "unpartitioned
    * windows" law enumerates; that law is the gate this WARN repeats.
    *
    * RDD: unpersisting a locally checkpointed RDD warns that its lineage
    * is truncated and cannot be recomputed. The cache clears unpersist
    * only finished results that nothing recomputes, so a full-suite run
    * would otherwise log one such WARN per pinned frame. The WARN comes
    * from the concrete RDD class's logger, an open set, so the filter
    * sits on the package logger, whose config those loggers share. */
  val LogNoise: Seq[(String, String)] = Seq(
    "org.apache.spark.scheduler.DAGScheduler" ->
      "Failed to cancel job group .*\\. Cannot find active jobs for it\\.",
    "org.apache.spark.sql.execution.streaming.runtime.ResolveWriteToStream" ->
      "spark\\.sql\\.adaptive\\.enabled is not supported in streaming DataFrames/Datasets.*",
    "org.apache.spark.sql.execution.streaming.runtime.MicroBatchExecution" ->
      "Disabling AQE since AQE is not supported in stateful workloads\\.",
    "org.apache.spark.sql.execution.window.WindowExec" ->
      "No Partition Defined for Window operation!.*",
    "org.apache.spark.rdd" ->
      ".*truncated and cannot be recomputed after unpersisting.*")

  private var noiseOn = Map.empty[String, AnyRef]

  /** Attach each [[LogNoise]] deny filter to its logger, once per logging
    * configuration. A logger config created for it has no level of its
    * own, so it keeps inheriting the root level that
    * `sparkContext.setLogLevel` sets. */
  private def dropLogNoise(): Unit = synchronized {
    import org.apache.logging.log4j.LogManager
    import org.apache.logging.log4j.core.{Filter, LoggerContext}
    import org.apache.logging.log4j.core.config.LoggerConfig
    import org.apache.logging.log4j.core.filter.RegexFilter
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val config = ctx.getConfiguration
    for ((logger, message) <- LogNoise) {
      val own = config.getLoggerConfig(logger)
      val lc = if (own.getName == logger) own else {
        val created = new LoggerConfig(logger, null, true)
        config.addLogger(logger, created)
        created.start()
        created
      }
      if (!noiseOn.get(logger).exists(_ eq lc)) {
        lc.addFilter(RegexFilter.createFilter(message, null, false,
          Filter.Result.DENY, Filter.Result.NEUTRAL))
        noiseOn += logger -> lc
        ctx.updateLoggers()
      }
    }
  }

  /** Session tuning that Spark reads once, when the session is created:
    * it must go on the builder ([[applyStaticEngineConfs]]), because set
    * on a running session it is silently ignored.
    *
    * `codegen.cache.maxEntries` bounds Spark's JVM-wide cache of
    * Janino-compiled classes (default 100). An evicted class is compiled
    * and JIT-warmed again the next time its plan runs. The size sits
    * above the suite's per-pass working set of generated classes, counted
    * with `CodegenMetrics`, whose compile counter moves only on a cache
    * miss: `graft.Profile` over every query prints each iteration's
    * count, the cold counts sum to the working set, and a warm iteration
    * that compiles again is an eviction. Recount when the suite grows.
    * The cost is retained class metadata, about 10-100 KiB per entry; on
    * a cluster the same conf sizes each executor's cache. */
  val StaticEngineConfs: Map[String, String] = Map(
    "spark.sql.codegen.cache.maxEntries" -> "6000")

  /** Apply [[StaticEngineConfs]] to a session builder (call before
    * `getOrCreate`; on an already-running session these would be
    * silently ignored, which is exactly the static-conf hazard this
    * helper centralizes). */
  def applyStaticEngineConfs(b: SparkSession.Builder): SparkSession.Builder =
    StaticEngineConfs.foldLeft(b) { case (bb, (k, v)) => bb.config(k, v) }

  /** The local session every engine main and the test harness run on:
    * [[StaticEngineConfs]] on the builder, `local[cpus]` with as many
    * shuffle partitions, UTC session time and no UI, then [[EngineConfs]]
    * and WARN logging. An already-running session is returned as is. */
  def localSession(cpus: Int): SparkSession = {
    val spark = applyStaticEngineConfs(SparkSession.builder())
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    applyEngineConfs(spark)
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Flagship query (SURVEY.md q33_bnpl_pipeline) on sf=0.001; the driver
    * smoke-checks rows > 0 (202 purchase events exist at sf0.001). */
  def entry(spark: SparkSession): DataFrame =
    Events.q33(spark, "/root/testdata/sf0.001")

  /** The cache-lifetime contract above, as a callable: drop every block a
    * finished query result may still pin, both the catalog-cached
    * DataFrames (the query-local `cache()`s) and the localCheckpoint RDD
    * blocks the CC fixpoints and q72 hold outside the catalog, which
    * garbage collection does not free in time. Bench, Verify and Profile
    * call this between queries; embed it the same way in any long-lived
    * session running these operators back to back. The unpersist blocks,
    * so the storage is gone when this returns and the next query's timing
    * or memory profile starts clean. Its lineage WARNs are [[LogNoise]]. */
  def clearGraftCaches(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q01_scan_filter_project" -> Relational.q01 _,
    "q02_pricing_summary"     -> Aggregates.q02 _,
    "q03_join_inner"          -> Relational.q03 _,
    "q04_join_broadcast"      -> Relational.q04 _,
    "q05_join_left_outer"     -> Relational.q05 _,
    "q06_join_semi"           -> Relational.q06 _,
    "q07_join_anti"           -> Relational.q07 _,
    "q08_join_theta"          -> Relational.q08 _,
    "q09_join_asof"           -> Events.q09 _,
    "q10_agg_distinct"        -> Aggregates.q10 _,
    "q11_agg_rollup"          -> Aggregates.q11 _,
    "q12_window_rank"         -> Windows.q12 _,
    "q13_window_analytic"     -> Windows.q13 _,
    "q14_topk"                -> Relational.q14 _,
    "q15_set_union"           -> SetOps.q15 _,
    "q16_set_intersect"       -> SetOps.q16 _,
    "q17_set_except"          -> SetOps.q17 _,
    "q18_string_funcs"        -> Scalars.q18 _,
    "q19_date_funcs"          -> Scalars.q19 _,
    "q20_math_funcs"          -> Scalars.q20 _,
    "q21_array_funcs"         -> Scalars.q21 _,
    "q22_json_funcs"          -> Scalars.q22 _,
    "q23_window_tumbling"     -> Windows.q23 _,
    "q24_window_sliding"      -> Windows.q24 _,
    "q25_window_session"      -> Windows.q25 _,
    "q26_dedup"               -> Events.q26 _,
    "q27_projection_latest"   -> Windows.q27 _,
    "q28_event_log_audit"     -> Aggregates.q28 _,
    "q29_doc_dedup_md5"       -> Text.q29 _,
    "q30_text_tokens"         -> Text.q30 _,
    "q31_similarity_topk"     -> Vectors.q31 _,
    "q32_lang_stats"          -> Aggregates.q32 _,
    "q33_bnpl_pipeline"       -> Events.q33 _,
    "q34_minhash_lsh"         -> Dedup.q34 _,
    "q35_simhash"             -> Dedup.q35 _,
    "q36_ngram_jaccard"       -> Text.q36 _,
    "q38_ann_lsh"             -> Vectors.q38 _,
    "q37_cosine_neardup"      -> Vectors.q37 _,
    "q39_langid"              -> Text.q39 _,
    "q40_quality_score"       -> Text.q40 _,
    "q41_token_count"         -> Text.q41 _,
    "q42_doc_fingerprint"     -> Text.q42 _,
    "q43_media_pipeline"      -> MediaQ.q43 _,
    "q44_pivot"               -> Aggregates.q44 _,
    "q45_percentiles"         -> Aggregates.q45 _,
    "q46_correlated_subquery" -> Relational.q46 _,
    "q47_salted_agg"          -> Aggregates.q47 _,
    "q48_unpivot"             -> Aggregates.q48 _,
    "q49_cube"                -> Aggregates.q49 _,
    "q50_map_funcs"           -> Scalars.q50 _,
    "q51_dataset_split"       -> Sampling.q51 _,
    "q52_stratified_sample"   -> Sampling.q52 _,
    // q53 has no oracle entry (HLL sketch values are engine-specific;
    // SURVEY.md §2.2 exemption) — the driver records a rows-only check and
    // LlmOpsSpec asserts the error bound against the exact NDV.
    "q53_approx_ndv"          -> Aggregates.q53 _,
    "q54_doc_chunking"        -> Text.q54 _,
    "q55_ivf_centroids"       -> Vectors.q55 _,
    "q56_ivf_probe"           -> Vectors.q56 _,
    "q57_dedup_clusters"      -> Dedup.q57 _,
    "q58_tfidf"               -> Text.q58 _,
    "q59_int8_quantize"       -> Vectors.q59 _,
    "q60_rolling_window"      -> Windows.q60 _,
    "q61_argminmax"           -> Aggregates.q61 _,
    "q62_funnel"              -> Events.q62 _,
    "q63_event_journey"       -> Aggregates.q63 _,
    "q64_bigram_model"        -> Text.q64 _,
    "q65_quantized_ann"       -> Vectors.q65 _,
    "q66_dedup_materialize"   -> Dedup.q66 _,
    "q67_decontamination"     -> Text.q67 _,
    // q68 has no oracle entry (quantile-sketch values are engine-specific;
    // SURVEY.md §2.2 exemption, same as q53) — rows-only check from the
    // driver, error bound vs exact q45 asserted in LlmOpsSpec.
    "q68_approx_percentiles"  -> Aggregates.q68 _,
    "q69_rank_distribution"   -> Windows.q69 _,
    "q70_fuzzy_match"         -> Text.q70 _,
    "q71_oov_redaction"       -> Sampling.q71 _,
    "q72_token_sharding"      -> Sampling.q72 _,
    "q73_lm_perplexity"       -> Text.q73 _,
    "q74_pmi_collocations"    -> Text.q74 _,
    "q75_windowed_distinct"   -> Windows.q75 _,
    "q76_boilerplate_chunks"  -> Dedup.q76 _,
    "q77_knn_join"            -> Vectors.q77 _,
    "q78_repetition_score"    -> Text.q78 _,
    "q79_quality_weighted_sample" -> Sampling.q79 _,
    "q80_mixture_weights"     -> Sampling.q80 _,
    "q81_semantic_dedup"      -> Vectors.q81 _,
    "q82_char_entropy"        -> Text.q82 _,
    "q83_source_overlap"      -> Text.q83 _,
    "q84_containment"         -> Text.q84 _,
    "q85_random_projection"   -> Vectors.q85 _,
    "q86_cohort_retention"    -> Events.q86 _,
    "q87_time_range_join"     -> Events.q87 _,
    "q88_heavy_hitters"       -> Text.q88 _,
    "q89_zipf_fit"            -> Text.q89 _,
    "q90_ivf_knn"             -> Vectors.q90 _,
    "q91_inverted_index"      -> Text.q91 _,
    "q92_bm25"                -> Text.q92 _,
    "q93_textrank"            -> Text.q93 _,
    "q94_bpe_merges"          -> Tokenize.q94 _,
    "q95_retrieval_eval"      -> RetrievalEval.q95 _,
    "q96_sequence_packing"    -> Pack.q96 _,
    "q97_repeated_spans"      -> Dedup.q97 _,
    "q98_novelty_curve"       -> Text.q98 _,
    "q99_dedup_eval"          -> Dedup.q99 _,
    "q100_leakage_safe_split" -> Sampling.q100 _,
    // NOTE: q101 construction is NOT lazy — bloomOf runs a Spark job
    // (distributed Bloom build + single-row collect) while the plan is
    // being BUILT, so callers that only want the DataFrame (PlanSpec,
    // explain tooling) still pay the benchmark-side aggregation.
    "q101_bloom_decontamination" -> Text.q101 _,
    "q102_embedding_stats"    -> Vectors.q102 _,
    "q103_token_histogram"    -> Text.q103 _,
    "q104_mutual_knn_clusters" -> Vectors.q104 _,
    "q105_kn_bigram_lm"       -> Text.q105 _,
    "q106_source_top_terms"   -> Text.q106 _,
    "q107_embedding_outliers" -> Vectors.q107 _,
    "q108_quality_buckets"    -> Text.q108 _,
    "q109_dq_audit"           -> Quality.q109 _,
    "q110_grouping_sets"      -> Aggregates.q110 _,
    "q111_bpe_encode"         -> Tokenize.q111 _,
    "q112_pq_adc"             -> Vectors.q112 _,
    "q113_scd2_history"       -> Events.q113 _,
    "q114_bill_aging"         -> Events.q114 _,
    "q115_join_full_outer"    -> Relational.q115 _,
    "q116_shipping_priority"  -> Relational.q116 _,
    "q117_local_supplier_volume" -> Relational.q117 _,
    "q118_volume_shipping"    -> Relational.q118 _,
    "q119_returned_items"     -> Relational.q119 _,
    "q120_large_volume_customers" -> Relational.q120 _,
    "q121_supplier_diversity" -> Relational.q121 _,
    "q122_value_concentration" -> Relational.q122 _,
    "q123_top_supplier"       -> Relational.q123 _,
    "q124_dormant_capital"    -> Relational.q124 _,
    "q125_order_priority_check" -> Relational.q125 _,
    "q126_market_share"       -> Relational.q126 _,
    "q127_customer_distribution" -> Relational.q127 _,
    "q128_promo_revenue"      -> Relational.q128 _,
    "q129_small_qty_revenue"  -> Relational.q129 _,
    "q130_waiting_suppliers"  -> Relational.q130 _,
    "q131_dsir_weights"       -> Sampling.q131 _,
    "q132_ewma_smoothing"     -> Stats.q132 _,
    "q133_spike_detection"    -> Stats.q133 _,
    "q134_token_concentration" -> Text.q134 _,
    "q135_distribution_drift" -> Stats.q135 _,
    "q136_boilerplate_scrub"  -> Dedup.q136 _,
    "q137_disjunctive_revenue" -> Relational.q137 _,
    "q138_product_profit"     -> Relational.q138 _,
    "q139_shipping_lag_pivot" -> Relational.q139 _,
    "q140_forward_fill"       -> Windows.q140 _,
    "q141_event_streaks"      -> Windows.q141 _,
    "q142_peak_concurrency"   -> Events.q142 _,
    "q143_filtered_ann"       -> Vectors.q143 _,
    "q144_bulk_part_suppliers" -> Relational.q144 _,
    "q145_mixture_realization" -> Sampling.q145 _,
    "q146_ivf_tuned"          -> Vectors.q146 _,
    "q147_filtered_tuned_ann" -> Vectors.q147 _,
    "q148_hybrid_rrf"         -> RetrievalEval.q148 _,
    "q149_zorder_layout"      -> ZOrder.q149 _,
    "q150_compaction_plan"    -> ZOrder.q150 _,
    "q151_seasonal_baseline"  -> Stats.q151 _,
    "q152_snapshot_diff"      -> ChangeData.q152 _,
    "q153_transition_matrix"  -> Behavior.q153 _,
    "q154_attribution"        -> Behavior.q154 _,
    "q155_time_weighted_avg"  -> Behavior.q155 _,
    "q156_rfm_segments"       -> Behavior.q156 _,
    "q157_position_attribution" -> Behavior.q157 _,
    "q158_hard_negatives"     -> Vectors.q158 _,
    "q159_ohlc_bars"          -> Stats.q159 _,
    "q160_basket_pairs"       -> Basket.q160 _,
    "q161_calendar_fill"      -> Stats.q161 _,
    "q162_mad_outliers"       -> Stats.q162 _,
    "q163_skyline"            -> Skyline.q163 _,
    "q164_survival_hazard"    -> Behavior.q164 _,
    "q165_ab_chisq"           -> Stats.q165 _,
    "q166_cusum_changepoint"  -> Stats.q166 _,
    "q167_holt_trend"         -> Stats.q167 _,
    "q168_iqr_outliers"       -> Stats.q168 _,
    "q169_conversion_latency" -> Behavior.q169 _,
    "q170_ship_lag_quantiles" -> Relational.q170 _,
    "q171_type_correlation"   -> Stats.q171 _,
    "q172_traffic_drawdown"   -> Stats.q172 _,
    "q173_revenue_gini"       -> Stats.q173 _,
    "q174_revenue_deciles"    -> Stats.q174 _,
    "q175_truncation_recall"  -> Vectors.q175 _,
    "q176_frame_sampling"     -> MediaQ.q176 _,
    "q177_lag_correlation"    -> Stats.q177 _,
    "q178_session_flow"       -> Windows.q178 _,
    "q179_value_bands"        -> Stats.q179 _,
    "q180_equidepth_stats"    -> ZOrder.q180 _,
    "q181_hard_negatives_tuned" -> Vectors.q181 _,
    "q182_winsorized_stats"   -> Stats.q182 _,
    "q183_mmr_rerank"         -> Vectors.q183 _,
    "q184_bootstrap_ci"       -> Stats.q184 _,
    "q185_decayed_engagement" -> Stats.q185 _,
    "q186_mmr_tuned"          -> Vectors.q186 _,
    "q187_bootstrap_bucketed" -> Stats.q187 _,
    "q188_median_mad"         -> Stats.q188 _,
    "q189_theilsen_trend"     -> Stats.q189 _,
    "q190_kendall_tau"        -> Stats.q190 _,
    "q191_mann_kendall"       -> Stats.q191 _,
  )

  def oracleSql: Map[String, String] = OracleSql.all
}
