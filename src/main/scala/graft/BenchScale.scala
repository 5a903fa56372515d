package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.queries.Vectors
import graft.streaming._
import graft.tables.Tables

/** Scale rehearsal: one measured point well beyond sf0.1. Runs the most
  * expensive queries against [[ScaleGen]]-amplified corpora (default
  * ×1 / ×4 / ×32 of sf0.1) and fits per-query growth exponents, confirms
  * the near-linear ones one octave higher (2 × the largest factor), then
  * drives every streaming store over the largest corpus.
  *
  * What "holds at scale" means here, per family:
  *  - map-side / single-shuffle families (q82 entropy, q93 TextRank,
  *    q36/q84 PPJoin, the q34-fed q57/q66/q99/q100): wall-time exponent
  *    ~1 in corpus size (log-time fit between the ×4 and ×32 points —
  *    the ×1 point carries fixed costs: session, codegen, Lloyd's
  *    constant rounds — so exp_lo reads low/noisy by construction and
  *    exp_hi is the scaling verdict).
  *  - LSH ANN (q77/q104): run at the DENSITY-SCALED design point —
  *    bits = 4 + log2(A) per table ([[graft.ops.Ann.bucketsWide]], the
  *    "denser corpora raise k" knob), which holds expected bucket
  *    occupancy at the tuning density, so candidate volume and wall time
  *    stay ~linear. The fixed-bits form is quadratic BY CONSTRUCTION
  *    (occupancy ∝ density → Σ|bucket|² ∝ N²·2^-k) — measured once at ×4
  *    as `q77_fixed_bits` to demonstrate the knob is load-bearing, not
  *    run at ×32.
  *  - IVF (q90/q95): ncells grows ~√A via the amplifier's label groups
  *    (the declared ncells ∝ √N regime), so probe volume
  *    N·NProbe·(N/ncells) and assignment volume N·ncells both grow
  *    ~A^1.5 — the documented IVF trade, NOT a defect; the measured
  *    exponent is asserted against 1.5, not 1.
  *
  * Output: `BENCH_scale.json` (per-query times/rows/exponents, streaming
  * ingest/read times, heap peak, AQE skew evidence) + one JSON line on
  * stdout. Heap is the default driver size — completing ×32 in the same
  * JVM the sf0.1 bench uses IS the no-driver-OOM assertion.
  */
object BenchScale {

  /** Density-scaled LSH bits: 4 at the sf0.1 tuning point, +1 per
    * density doubling (A = 32 → 9 bits). */
  def scaledBits(a: Int): Int =
    4 + math.ceil(math.log(a.toDouble) / math.log(2.0)).toInt

  /** Subcode width for q90's TUNED operating point (`subBits` of
    * Vectors.ivfKnn): the bits that hold the expected IVF subcell at ~100 members. Ladder
    * geometry: N = 2000·A vectors over 10·⌈√A⌉ label-seeded cells, so
    * cellsize = 200·A/⌈√A⌉ and b = round(log2(cellsize/100)) — A=1 → 1,
    * A=4 → 2, A=32 → 3, A=64 → 4. */
  def tunedSubBits(a: Int): Int = {
    val cellsize = 200.0 * a / math.ceil(math.sqrt(a.toDouble))
    math.max(0, math.round(math.log(cellsize / 100.0) / math.log(2.0)).toInt)
  }

  /** The confirm octave: one doubling above the largest ladder factor. */
  def confirmFactor(factors: Seq[Int]): Int = 2 * factors.max

  private type QueryFn = (SparkSession, String) => DataFrame

  private def buildQueries(a: Int): Seq[(String, QueryFn, String)] = {
    val std = Seq(
      "q36_ngram_jaccard", "q57_dedup_clusters", "q66_dedup_materialize",
      "q82_char_entropy", "q84_containment", "q93_textrank", "q99_dedup_eval",
      "q100_leakage_safe_split", "q90_ivf_knn", "q95_retrieval_eval",
      "q113_scd2_history", "q114_bill_aging", "q111_bpe_encode", "q112_pq_adc",
      "q125_order_priority_check", "q126_market_share",
      "q127_customer_distribution", "q128_promo_revenue",
      "q129_small_qty_revenue", "q130_waiting_suppliers", "q131_dsir_weights",
      "q132_ewma_smoothing", "q133_spike_detection", "q134_token_concentration",
      "q135_distribution_drift", "q136_boilerplate_scrub",
      "q137_disjunctive_revenue", "q138_product_profit",
      "q139_shipping_lag_pivot", "q140_forward_fill", "q141_event_streaks",
      "q142_peak_concurrency", "q143_filtered_ann", "q144_bulk_part_suppliers",
      "q145_mixture_realization", "q148_hybrid_rrf", "q149_zorder_layout",
      "q150_compaction_plan", "q151_seasonal_baseline", "q152_snapshot_diff",
      "q153_transition_matrix", "q154_attribution", "q155_time_weighted_avg",
      "q156_rfm_segments", "q157_position_attribution", "q159_ohlc_bars",
      "q160_basket_pairs", "q163_skyline", "q164_survival_hazard",
      "q165_ab_chisq", "q168_iqr_outliers", "q182_winsorized_stats",
      "q184_bootstrap_ci", "q183_mmr_rerank", "q185_decayed_engagement",
      "q187_bootstrap_bucketed", "q188_median_mad", "q189_theilsen_trend",
      "q190_kendall_tau", "q191_mann_kendall", "q169_conversion_latency",
      "q170_ship_lag_quantiles", "q173_revenue_gini", "q174_revenue_deciles"
    ).map(k => (k, SparkEntry.queries(k), if (k == "q82_char_entropy") "noop" else "count"))
    val bits = scaledBits(a)
    val b = tunedSubBits(a)
    def q(name: String)(fn: QueryFn) = (name, fn, "count")
    std ++ Seq(
      q(s"q77_knn_join[k=$bits]")((s, dir) => knnJoin(s, dir, graft.ops.Ann.bucketsWide(_, bits))),
      // q104 consumes the kNN graph ensureKnnGraph materialized outside
      // any timer, so the leg measures what q104 adds to it
      q(s"q104_mutual_knn_clusters[k=$bits,shared-knn]")((s, dir) =>
        Vectors.mutualKnnClustersOn(s.read.parquet(knnGraphPath(dir, bits)))),
      q(s"q90_tuned[b=$b]")((s, dir) => Vectors.ivfKnn(s, dir, Vectors.NProbe, b)),
      q(s"q147_filtered_tuned_ann[b=$b]")((s, dir) =>
        Vectors.ivfKnnFiltered(s, dir, Vectors.NProbe, b)),
      q(s"q181_tuned[b=$b]")((s, dir) =>
        Vectors.ivfKnn(s, dir, Vectors.NProbe, b, excludeSameLabel = true)),
      q(s"q186_mmr_tuned[b=$b]")((s, dir) => Vectors.mmrTuned(s, dir, Vectors.NProbe, b)))
  }

  /** The q77 bucket join over `buckets`' LSH family. */
  private def knnJoin(spark: SparkSession, dir: String, buckets: Column => Column): DataFrame =
    Vectors.knnPairsOn(Tables.embeddings(spark, dir), buckets).orderBy(col("src"), col("rk"))

  /** The per-factor materialized kNN graph the q104 leg consumes (and any
    * future graph-consumer leg would). Keyed by the density-scaled bits so
    * a re-tuned ladder can't silently read a stale graph. */
  private[graft] def knnGraphPath(dir: String, bits: Int): String =
    s"$dir/knn_graph_b$bits.parquet"

  /** Build the graph once per factor, idempotently (ok-file = parquet's
    * _SUCCESS marker), OUTSIDE any timed leg — corpus-prep, like
    * ScaleGen.amplify. Cost is ~the q77 leg once; the build time is
    * printed so it stays attributable in the log. */
  private[graft] def ensureKnnGraph(spark: SparkSession, dir: String, a: Int): Unit = {
    val bits = scaledBits(a)
    val path = knnGraphPath(dir, bits)
    if (!new java.io.File(s"$path/_SUCCESS").exists) {
      val t0 = System.nanoTime()
      Vectors.knnPairsOn(Tables.embeddings(spark, dir), graft.ops.Ann.bucketsWide(_, bits))
        .write.mode("overwrite").parquet(path)
      SparkEntry.clearGraftCaches(spark)
      System.err.println(f"[bench-scale] x$a knn graph (b=$bits) materialized in ${(System.nanoTime() - t0) / 1e9}%.1f s")
    }
  }

  private def runOnce(spark: SparkSession, name: String, fn: QueryFn, dir: String,
      action: String): (Double, Long) = {
    val t0 = System.nanoTime()
    var rows = -1L
    try {
      val df = fn(spark, dir)
      if (action == "noop") df.write.format("noop").mode("overwrite").save()
      else rows = df.count()
    } catch {
      case e: Throwable =>
        System.err.println(s"[bench-scale] $name FAILED: ${e.getMessage}")
        return (-1.0, -1L)
    } finally SparkEntry.clearGraftCaches(spark)
    ((System.nanoTime() - t0) / 1e9, rows)
  }

  /** One streaming leg: the key it reports under in `streaming_x<max>`
    * and a run that returns (seconds, rows). Building a leg runs nothing. */
  private[graft] final case class Leg(key: String, run: () => (Double, Long))

  private def timed(body: => Long): (Double, Long) = {
    val t0 = System.nanoTime()
    val rows = body
    ((System.nanoTime() - t0) / 1e9, rows)
  }

  /** Most micro-batches per stream leg. */
  private val MaxStreamBatches = 4

  /** The replicas each micro-batch of a stream leg over a ×`aMax` corpus
    * reads: at most [[MaxStreamBatches]] blocks of ⌈aMax / 4⌉ whole
    * replicas (4 × 8 at ×32), none empty, every replica in one. */
  private[graft] def streamBatches(aMax: Int): Seq[Range] = {
    val per = (aMax + MaxStreamBatches - 1) / MaxStreamBatches
    (0 until aMax by per).map(lo => lo until math.min(lo + per, aMax))
  }

  /** The stream legs over the ×`aMax` corpus in `bigDir`, in report order:
    * one per store-backed component. Every store reads the
    * [[streamBatches]] blocks; replicas hold disjoint ids and users, so
    * each user's whole chain sits in one batch and the order-gated
    * stores' arrival contract holds trivially. Static artifacts a
    * deployment builds once (s19's benchmark index, s22's frozen model)
    * are built outside the timer; everything else a leg needs, s17's
    * codebook and s31's budgets included, is timed. */
  private[graft] def streamLegs(spark: SparkSession, base: String, bigDir: String,
      streamRoot: String, aMax: Int): Seq[Leg] = {
    val blocks = streamBatches(aMax)
    def at(p: String): String = s"$streamRoot/$p"
    def replicaBlock(table: => DataFrame, idCol: String, cols: Seq[Column] = Nil)(
        b: Int): DataFrame = {
      val block = table.filter((col(idCol) / ScaleGen.IdStride).cast("int")
        .between(blocks(b).head, blocks(b).last))
      if (cols.isEmpty) block else block.select(cols: _*)
    }
    def events(idCol: String, cols: String*): Int => DataFrame =
      replicaBlock(Tables.events(spark, bigDir), idCol, cols.map(col))
    val docs: Int => DataFrame =
      replicaBlock(spark.read.parquet(s"$bigDir/documents.parquet"), "doc_id")
    val vecs: Int => DataFrame =
      replicaBlock(spark.read.parquet(s"$bigDir/embeddings.parquet"), "vec_id")
    val cents = (col("o_totalprice").cast("decimal(12,2)") * 100).cast("long")
    def ingest(batch: Int => DataFrame)(f: (DataFrame, Long) => Unit): Unit =
      for (b <- blocks.indices) f(batch(b), b.toLong)
    // ingest + read in one timer
    def ingestLeg(key: String, batch: Int => DataFrame)(f: (DataFrame, Long) => Unit)(
        read: => DataFrame): Leg =
      Leg(key, () => timed { ingest(batch)(f); read.count() })
    // ingest alone; its rows are the batch count
    def ingestOnly(key: String, batch: Int => DataFrame)(f: (DataFrame, Long) => Unit): Leg =
      Leg(key, () => timed { ingest(batch)(f); blocks.size.toLong })
    // one more read of a store an earlier leg built
    def readLeg(key: String)(read: => DataFrame): Leg = Leg(key, () => timed(read.count()))
    def baseDocs = spark.read.parquet(s"$base/documents.parquet")

    Seq(
      ingestLeg("s14_incremental_dedup", docs)(IncrementalDedup.processBatch(_,
        at("s14/store"), at("s14/accept"), at("s14/reject"), _))(
        IncrementalDedup.accepted(spark, at("s14/accept"))),
      ingestLeg("s15_incremental_index", docs)(IncrementalIndex.processBatch(_,
        at("s15/store"), _))(IncrementalIndex.readIndex(spark, at("s15/store"))),
      readLeg("s18_search_read")(IncrementalIndex.search(spark, at("s15/store"))),
      ingestLeg("s16_heavy_hitters", docs)(HeavyHitters.processBatch(_,
        at("s16/store"), _))(HeavyHitters.merged(spark, at("s16/store"))),
      Leg("s19_decontamination", () => {
        val bench = Decontamination.benchIndexOf(baseDocs)
        timed {
          ingest(docs)(Decontamination.processBatch(_, bench, at("s19/audit"), _))
          Decontamination.readAudit(spark, at("s19/audit")).count()
        }
      }),
      ingestLeg("s20_novelty", docs)(Novelty.processBatch(_, at("s20/store"),
        at("s20/audit"), _))(Novelty.readAudit(spark, at("s20/audit"))),
      ingestLeg("s21_embedding_stats", vecs)(VectorStats.processBatch(_,
        at("s21/store"), _))(VectorStats.stats(spark, at("s21/store"))),
      Leg("s22_quality_routing", () => {
        val frozen = QualityRouter.freeze(baseDocs)
        timed {
          ingest(docs)(QualityRouter.processBatch(_, frozen, at("s22/routed"), _))
          QualityRouter.readRouted(spark, at("s22/routed")).count()
        }
      }),
      ingestLeg("s23_stream_packing", docs)(SequencePacker.processBatch(_,
        at("s23/tails"), at("s23/assign"), _))(
        SequencePacker.packedSummary(spark, at("s23/assign"))),
      ingestLeg("s24_stream_scd2", events("user_id", "user_id", "event_id", "event_type", "ts"))(
        Scd2History.processBatch(_, at("s24/tails"), at("s24/closed"), _))(
        Scd2History.history(spark, at("s24/tails"), at("s24/closed"))),
      ingestLeg("s25_stream_funnel", events("user_id", "user_id", "event_type", "ts"))(
        FunnelTracker.processBatch(_, at("s25/tails"), _))(
        FunnelTracker.funnelState(spark, at("s25/tails"))),
      ingestLeg("s26_stream_ledger", events("event_id", "user_id", "event_type", "value"))(
        LedgerStore.processBatch(_, at("s26/store"), _))(
        LedgerStore.ledger(spark, at("s26/store"))),
      ingestLeg("s29_stream_drift", events("event_id", "event_type", "ts", "value"))(
        DriftMonitor.processBatch(_, at("s29/store"), _))(
        DriftMonitor.drift(spark, at("s29/store"))),
      readLeg("s55_winsorized_read")(DriftMonitor.winsorized(spark, at("s29/store"))),
      readLeg("s57_mad_read")(DriftMonitor.mad(spark, at("s29/store"))),
      readLeg("s45_iqr_read")(DriftMonitor.iqr(spark, at("s29/store"))),
      readLeg("s48_bands_read")(DriftMonitor.bands(spark, at("s29/store"))),
      ingestLeg("s36_stream_seasonal", events("event_id", "event_type", "ts", "value"))(
        SeasonalMonitor.processBatch(_, at("s36/store"), _))(
        SeasonalMonitor.baseline(spark, at("s36/store"))),
      readLeg("s54_decayed_read")(SeasonalMonitor.decayed(spark, at("s36/store"))),
      readLeg("s39_mad_read")(SeasonalMonitor.outliers(spark, at("s36/store"))),
      readLeg("s43_holt_read")(SeasonalMonitor.holt(spark, at("s36/store"))),
      readLeg("s44_cusum_read")(SeasonalMonitor.changepoint(spark, at("s36/store"))),
      readLeg("s46_drawdown_read")(SeasonalMonitor.drawdown(spark, at("s36/store"))),
      readLeg("s58_theilsen_read")(SeasonalMonitor.theilsen(spark, at("s36/store"))),
      readLeg("s59_kendall_read")(SeasonalMonitor.kendall(spark, at("s36/store"))),
      readLeg("s60_mannkendall_read")(SeasonalMonitor.mannKendall(spark, at("s36/store"))),
      ingestLeg("s38_stream_ohlc", events("event_id", "event_id", "ts", "event_type", "value"))(
        BarStats.processBatch(_, at("s38/store"), _))(BarStats.bars(spark, at("s38/store"))),
      ingestLeg("s47_stream_revenue", replicaBlock(Tables.orders(spark, bigDir), "o_orderkey",
          Seq(col("o_custkey"), cents.as("cents"))))(
        RevenueMonitor.processBatch(_, at("s47/store"), _))(
        RevenueMonitor.gini(spark, at("s47/store"))),
      ingestLeg("s49_stream_sessions", events("event_id", "user_id", "event_id", "event_type", "ts"))(
        SessionTracker.processBatch(_, at("s49/open"), at("s49/closed"), _))(
        SessionTracker.flow(spark, at("s49/open"), at("s49/closed"))),
      ingestLeg("s37_stream_rfm", events("event_id", "user_id", "ts", "value"))(
        RfmMonitor.processBatch(_, at("s37/store"), _))(
        RfmMonitor.segments(spark, at("s37/store"))),
      ingestLeg("s34_stream_changefeed",
          events("event_id", "user_id", "event_id", "event_type", "ts", "value"))(
        ChangeFeed.processBatch(_, at("s34/state"), at("s34/cdc"), _))(
        ChangeFeed.netted(ChangeFeed.feed(spark, at("s34/cdc")))),
      ingestLeg("s35_stream_transitions", events("user_id", "user_id", "event_id", "event_type", "ts"))(
        TransitionStats.processBatch(_, at("s35/tails"), at("s35/counts"), _))(
        TransitionStats.transitions(spark, at("s35/counts"))),
      // the fixed offline domain is computed inside the ingest timer
      Leg("s33_layout_ingest", () => {
        val dims = graft.queries.ZOrder.ordersDims(spark, bigDir)
        timed {
          val dom = graft.queries.ZOrder.domainOf(dims).localCheckpoint(true)
          ingest(replicaBlock(dims, "ck"))(LayoutStats.processBatch(_, dom, at("s33/store"), _))
          blocks.size.toLong
        }
      }),
      readLeg("s33_layout_read")(LayoutStats.envelopePanel(spark, at("s33/store"))),
      ingestOnly("s40_survival_ingest", events("event_id", "user_id", "ts", "event_type"))(
        SurvivalMonitor.processBatch(_, at("s40/store"), _)),
      readLeg("s40_survival_read")(SurvivalMonitor.hazard(spark, at("s40/store"))),
      ingestOnly("s41_skyline_ingest", replicaBlock(Tables.lineitem(spark, bigDir), "l_orderkey",
          Seq(col("l_quantity").as("qty"), col("l_extendedprice").as("price"))))(
        SkylineMonitor.processBatch(_, at("s41/store"), _)),
      readLeg("s41_skyline_read")(SkylineMonitor.frontier(spark, at("s41/store"))),
      ingestOnly("s42_chisq_ingest", events("event_id", "user_id", "event_type"))(
        ChisqMonitor.processBatch(_, at("s42/store"), _)),
      readLeg("s42_chisq_read")(ChisqMonitor.readout(spark, at("s42/store"))),
      ingestOnly("s50_colstats_ingest",
          replicaBlock(Tables.orders(spark, bigDir), "o_orderkey", Seq(cents.as("v"))))(
        ColumnStats.processBatch(_, at("s50/store"), _)),
      readLeg("s50_colstats_read")(ColumnStats.stats(spark, at("s50/store"))),
      ingestOnly("s52_ndv_ingest", events("event_id", "event_type", "user_id"))(
        NdvMonitor.processBatch(_, at("s52/store"), _)),
      readLeg("s52_ndv_read")(NdvMonitor.ndv(spark, at("s52/store"))),
      ingestOnly("s56_bootstrap_ingest", events("event_id", "event_type", "event_id", "value"))(
        BootstrapMonitor.processBatch(_, at("s56/store"), _)),
      readLeg("s56_bootstrap_read")(BootstrapMonitor.ci(spark, at("s56/store"))),
      ingestOnly("s53_neardup_ingest", docs)((b, id) => NearDupAdmission.processBatch(
        b.select(col("doc_id"), col("text")), at("s53/store"), at("s53/accept"), id)),
      readLeg("s53_neardup_read")(NearDupAdmission.admitted(spark, at("s53/accept"))),
      ingestLeg("s27_stream_asof_enrich", events("user_id", "event_id", "user_id", "event_type", "ts"))(
        AsOfEnrich.processBatch(_, at("s27/tails"), at("s27/enrich"), _))(
        AsOfEnrich.enriched(spark, at("s27/enrich"))),
      Leg("s17_vector_index", () => timed {
        val emb = spark.read.parquet(s"$bigDir/embeddings.parquet")
        val cells = Vectors.codebook(Vectors.trainedComponents(emb)).localCheckpoint(true)
        ingest(vecs)(VectorIndex.processBatch(_, cells, at("s17/store"), _))
        VectorIndex.probe(spark, at("s17/store"), cells, 0L, 10).count()
      }),
      readLeg("s32_hybrid_search_read")(
        HybridSearch.search(spark, at("s15/store"), at("s17/store"))),
      Leg("s31_budget_admission", () => timed {
        val tokAll = spark.read.parquet(s"$bigDir/documents.parquet")
          .select(col("source"), size(split(col("text"), " ")).cast("long").as("n_tok"))
        val budgets = graft.queries.Sampling.mixBudgets(tokAll)
          .select(col("source"), col("planned_tokens")).localCheckpoint(true)
        ingest(docs)((b, id) => BudgetAdmission.processBatch(
          b.select(col("source"), col("doc_id"),
            size(split(col("text"), " ")).cast("long").as("n_tok")),
          budgets, at("s31/store"), at("s31/accept"), id))
        BudgetAdmission.admittedDocs(spark, at("s31/accept")).count()
      }),
      Leg("s30_rate_sustained", () => rateSustained(spark, at("s30rate"))),
      Leg("s30_backlog_drain", () => backlogDrain(spark, at("s30drain"))),
      Leg("s51_socket_transport", () => socketTransport(spark, at("s51sock"))))
  }

  /** s30 sustained: the full cascade (dedup → log + derive → self-loop →
    * projections) fed by the rate generator for a fixed wall window; rows
    * are the events the log committed in that window (offered load is
    * rps purchases/s plus the derived-promise re-publish). */
  private def rateSustained(spark: SparkSession, rroot: String): (Double, Long) = {
    val rps = 500
    val sustainSec = 30
    val broker = RateBroker(spark, s"$rroot/loop", rowsPerSecond = rps, users = 64)
    val pipe = new BnplPipeline(spark, s"$rroot/events", s"$rroot/state", broker = Some(broker))
    val t0 = System.nanoTime()
    pipe.start()
    Thread.sleep(sustainSec * 1000L)
    pipe.stop()
    val sustained = (System.nanoTime() - t0) / 1e9
    val logged = spark.read.parquet(s"$rroot/state/events_log").count()
    System.err.println(f"[bench-scale] s30 sustained: $logged rows committed in " +
      f"$sustained%.1f s (${logged / sustained}%.0f rows/s vs $rps purchases/s offered)")
    (sustained, logged)
  }

  /** s30 backlog drain: an AvailableNow catch-up over a pre-written
    * purchase backlog, in two rounds, because the cascade is a self-loop:
    * round 1 drains the purchases and republishes their derived promises,
    * round 2 absorbs the promises (the s09 catch-up path, same checkpoints
    * across rounds). Backlog event time spans 100 s, inside the 10 min
    * watermark, so nothing is late-dropped. */
  private def backlogDrain(spark: SparkSession, droot: String): (Double, Long) = {
    val nBacklog = 50000L
    spark.range(nBacklog).select(
        concat(lit("bk-"), col("id")).as("event_id"),
        lit(Envelope.PurchaseCompleted).as("event_type"),
        timestamp_millis(lit(1700000000000L) + col("id") * 2L).as("ts"),
        concat(lit("order-bk-"), col("id")).as("order_id"),
        concat(lit("u"), pmod(col("id"), lit(64L))).as("user_id"),
        ((pmod(col("id"), lit(50L)) + 1L) * 100L).as("amount"),
        lit(null).cast("string").as("promise_id"),
        lit(null).cast("string").as("bill_id"),
        lit(null).cast("string").as("due_date"),
        lit(null).cast("string").as("payment_mode"),
        lit(null).cast("string").as("issued_date"),
        lit(null).cast("string").as("paid_date"))
      .write.mode("overwrite").json(s"$droot/events")
    val t1 = System.nanoTime()
    for (_ <- 1 to 2) {
      val p = new BnplPipeline(spark, s"$droot/events", s"$droot/state",
        trigger = Trigger.AvailableNow)
      p.start().foreach(_.awaitTermination())
      p.stop()
    }
    val drain = (System.nanoTime() - t1) / 1e9
    val drained = spark.read.parquet(s"$droot/state/events_log").count()
    System.err.println(f"[bench-scale] s30 drain: $drained log rows " +
      f"(backlog $nBacklog purchases + derived promises) in $drain%.1f s")
    (drain, drained)
  }

  /** s51: the full cascade fed a purchase backlog over a real TCP hop —
    * loopback socket server → Spark's socket source — with the
    * derived-promise self-loop republished through the same socket,
    * measured to the converged log (every purchase and its derived
    * promise committed). */
  private def socketTransport(spark: SparkSession, sroot: String): (Double, Long) = {
    val nSock = 20000L
    val lines = (0L until nSock).map { i =>
      s"""{"event_id":"sk-$i","event_type":"${Envelope.PurchaseCompleted}",""" +
      s""""ts":"${java.time.Instant.ofEpochMilli(1700000000000L + i * 2L)}",""" +
      s""""order_id":"order-sk-$i","user_id":"u${i % 64}","amount":${(i % 50 + 1) * 100}}"""
    }
    val sb = new SocketBroker(spark)
    val pipe = new BnplPipeline(spark, s"$sroot/events", s"$sroot/state",
      broker = Some(sb.brokerArg))
    val t0 = System.nanoTime()
    pipe.start()
    val committed = try {
      // publish in broker-sized chunks (the wire is line-framed; chunking
      // only bounds the per-write syscall, not the semantics)
      lines.grouped(2000).foreach(sb.publish)
      def logged(): Long =
        try spark.read.parquet(s"$sroot/state/events_log").count()
        catch { case _: Throwable => 0L }
      val want = nSock * 2 // purchases + their derived promises
      val deadline = System.nanoTime() + 600L * 1000000000L
      while (logged() < want && System.nanoTime() < deadline) pipe.drain(1)
      logged()
    } finally { pipe.stop(); sb.close() }
    val dt = (System.nanoTime() - t0) / 1e9
    System.err.println(f"[bench-scale] s51 socket: $committed log rows " +
      f"($nSock purchases over TCP + derived promises) in $dt%.1f s " +
      f"(${committed / dt}%.0f rows/s)")
    (dt, committed)
  }

  def main(args: Array[String]): Unit = {
    val base = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val scaleRoot = sys.env.getOrElse("SPARK_GRAFT_SCALE_DIR", "target/scale")
    val factors = sys.env.getOrElse("SPARK_GRAFT_SCALE_FACTORS", "1,4,32")
      .split(",").map(_.trim.toInt).toSeq
    val outPath = sys.env.getOrElse("SPARK_GRAFT_SCALE_OUT", "BENCH_scale.json")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    // targeted re-runs (a failed section shouldn't cost the whole ladder)
    val sections = sys.env.getOrElse("SPARK_GRAFT_SCALE_SECTIONS",
      "ladder,confirm,skew,stream").split(",").map(_.trim).toSet

    val spark = SparkEntry.localSession(cpus)
    spark.range(1000).selectExpr("sum(id)").count()
    // drift sentinel: fixed constant work at run start and end so the
    // artifact carries its own noise floor (see Bench.sentinelRuns)
    val sentStart = Bench.sentinelRuns(spark)

    val rt = Runtime.getRuntime
    var heapPeakMb = 0L
    def noteHeap(): Unit = {
      val used = (rt.totalMemory() - rt.freeMemory()) / (1024 * 1024)
      if (used > heapPeakMb) heapPeakMb = used
    }

    /** Amplify the corpus for factor `a` into `dir`. Partition count
      * tracks the data, as a cluster deployment sizes
      * spark.sql.shuffle.partitions to input bytes: ×32 the corpus on a
      * FIXED 32 partitions means ×32 the bytes per shuffle partition, and
      * sorts that fit at the tuning density spill at the amplified one.
      * local[cpus] still runs cpus tasks at a time; the extra partitions
      * only cap per-task memory. */
    def prepare(dir: String, a: Int, skewHot: Boolean = false): Unit = {
      spark.conf.set("spark.sql.shuffle.partitions", (cpus * math.max(1, a / 8)).toString)
      val tGen0 = System.nanoTime()
      ScaleGen.amplify(spark, base, dir, a, skewHot = skewHot)
      System.err.println(f"[bench-scale] ${new java.io.File(dir).getName} corpus ready in ${(System.nanoTime() - tGen0) / 1e9}%.1f s")
    }

    // factor -> (query -> (seconds, rows))
    val times = scala.collection.mutable.LinkedHashMap
      .empty[Int, scala.collection.mutable.LinkedHashMap[String, (Double, Long)]]

    /** Run `qs` `passes` times, interleaved (pass 1 of every query, then
      * pass 2), keeping each query's fastest pass in `times(a)`. A single
      * ×32 pass can read 25–60 s for the same query on identical code —
      * one GC pause or page-cache eviction bends a fitted exponent by
      * ±0.5 — so the min over passes is the reproducible signal. */
    def minOfPasses(a: Int, dir: String, passes: Int, qs: Seq[(String, QueryFn, String)]): Unit = {
      val byQ = times.getOrElseUpdate(a, scala.collection.mutable.LinkedHashMap.empty)
      for (p <- 1 to passes; (name, fn, action) <- qs) {
        val (dt, rows) = runOnce(spark, name, fn, dir, action)
        noteHeap()
        if (dt >= 0 && byQ.get(name).forall(_._1 > dt)) byQ(name) = (dt, rows)
        if (dt >= 0) System.err.println(f"[bench-scale] x$a pass$p $name%-32s $dt%8.2f s rows=$rows")
        else System.err.println(f"[bench-scale] x$a pass$p $name%-32s FAILED")
      }
    }

    var q90SkewMarkers = -1
    var q90AqePlanSeen = false

    for (a <- factors.sorted if sections("ladder")) {
      val dir = s"$scaleRoot/x$a"
      prepare(dir, a)
      ensureKnnGraph(spark, dir, a)
      minOfPasses(a, dir, 2, buildQueries(a))
      // the LSH density knob is load-bearing: fixed 4-bit buckets at ×4
      // carry ≈16× the candidate volume of the scaled form
      if (a == 4)
        minOfPasses(a, dir, 1, Seq(("q77_fixed_bits",
          (s: SparkSession, d: String) => knnJoin(s, d, graft.ops.Ann.buckets), "count")))
    }

    // ---- confirm octave: the near-linear legs one doubling higher ----
    // An upper bound on the exponent ("no upward bend"), not a tight
    // asymptote. The flat q90_ivf_knn probe is left out: its Θ(N^1.5) is
    // the documented contrast to the tuned point, which is confirmed.
    val confirmSet = Set("q36_ngram_jaccard", "q84_containment",
      "q77_knn_join", "q90_tuned", "q99_dedup_eval",
      "q104_mutual_knn_clusters", "q147_filtered_tuned_ann",
      "q181_tuned", "q100_leakage_safe_split", "q112_pq_adc",
      "q143_filtered_ann", "q160_basket_pairs",
      "q57_dedup_clusters", "q66_dedup_materialize",
      "q82_char_entropy", "q95_retrieval_eval", "q186_mmr_tuned",
      "q187_bootstrap_bucketed", "q188_median_mad",
      "q189_theilsen_trend", "q190_kendall_tau", "q191_mann_kendall")
    if (sections("confirm")) {
      val cf = confirmFactor(factors)
      val dir = s"$scaleRoot/x$cf"
      prepare(dir, cf)
      ensureKnnGraph(spark, dir, cf)
      minOfPasses(cf, dir, 2,
        buildQueries(cf).filter { case (name, _, _) => confirmSet(name.takeWhile(_ != '[')) })
      // knob-vs-kernel A/B at the octave: the bucket join at the previous
      // octave's bits carries ~2× the scheduled leg's candidate volume
      // (candidates ∝ N²/2^bits); t(fixed)/t(scheduled) ≈ 2 means wall
      // time tracks candidate volume and the bits schedule holds occupancy
      val abBits = scaledBits(cf / 2)
      minOfPasses(cf, dir, 2, Seq((s"q77_fixed_bits[b=$abBits]",
        (s: SparkSession, d: String) => knnJoin(s, d, graft.ops.Ann.bucketsWide(_, abBits)),
        "count")))
    }

    // ---- AQE skew-join rehearsal on a REAL hot cell ----
    // ~30% of the skew corpus shares replica-0 geometry and label space
    // (ScaleGen.amplify skewHot), so group-0 IVF cells hold ~hotReps×
    // the members of any rotated group's — the hot-key shape a
    // duplicate-heavy crawl source produces. q90's probe join
    // (saltedProbes ⋈ members on (cell, salt)) is the engine's declared
    // skew surface: the deterministic dst-hash salt is the FIRST defense
    // (each hot cell spreads over ProbeSalt keys); AQE skew-join
    // splitting is the second, and this run proves it ENGAGES on the
    // residual hot partitions and PRESERVES results (AQE-on == AQE-off
    // count + order-free hash). Thresholds are scaled to the local
    // corpus: the defaults (256 MB / factor 5) assume production-size
    // partitions; locally the hot (cell, salt) groups are tens of MB, so
    // the rehearsal sets byte thresholds a few local medians high — the
    // RATIO criterion is what's under test, not the absolute bytes.
    var q90SkewEqual = false
    if (sections("skew")) {
      val aS = factors.max
      val skewDir = s"$scaleRoot/x${aS}skew"
      prepare(skewDir, aS, skewHot = true)
      def runQ90(aqe: Boolean): Option[(Long, Long, Int, Boolean)] = {
        spark.conf.set("spark.sql.adaptive.enabled", aqe.toString)
        try {
          // bit_xor, not sum: order-free like sum but cannot overflow
          // (the session runs ANSI mode; 320k summed xxhash64s did)
          val agg = SparkEntry.queries("q90_ivf_knn")(spark, skewDir)
            .agg(count(lit(1)).as("n"),
              bit_xor(xxhash64(col("src"), col("rk"), col("dst"), col("sim"))).as("h"))
          val row = agg.collect()(0)
          val plan = agg.queryExecution.executedPlan.toString().toLowerCase
          Some((row.getLong(0), row.getLong(1),
            "skew".r.findAllIn(plan).length, plan.contains("adaptivesparkplan")))
        } catch { case e: Throwable =>
          System.err.println(s"[bench-scale] q90 skew run (aqe=$aqe) failed: ${e.getMessage}")
          None
        } finally SparkEntry.clearGraftCaches(spark)
      }
      spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
      spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "8m")
      spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "4m")
      spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2.0")
      val on = runQ90(aqe = true)
      val off = runQ90(aqe = false)
      spark.conf.set("spark.sql.adaptive.enabled", "true")
      spark.conf.unset("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes")
      spark.conf.unset("spark.sql.adaptive.advisoryPartitionSizeInBytes")
      spark.conf.unset("spark.sql.adaptive.skewJoin.skewedPartitionFactor")
      for ((n, h, markers, adaptive) <- on) {
        q90SkewMarkers = markers
        q90AqePlanSeen = adaptive
        q90SkewEqual = off.exists { case (n2, h2, _, _) => n == n2 && h == h2 }
        System.err.println(s"[bench-scale] q90 skew: rows=$n markers=$markers " +
          s"adaptive=$adaptive equal_to_aqe_off=$q90SkewEqual")
      }
      noteHeap()
    }

    // ---- streaming stores over the largest corpus ----
    val aMax = factors.max
    val bigDir = s"$scaleRoot/x$aMax"
    val streamRoot = s"$scaleRoot/stream_x$aMax"
    val streaming = scala.collection.mutable.LinkedHashMap.empty[String, (Double, Long)]
    if (sections("stream")) {
      // amplify is ok-file idempotent: free when the ladder built the
      // corpus, and a stream-only re-run regenerates it
      ScaleGen.amplify(spark, base, bigDir, aMax)
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) f.listFiles().foreach(rm); f.delete(); ()
      }
      rm(new java.io.File(streamRoot))
      // one recorder: the leg's (seconds, rows), the heap mark, then the
      // cache clear outside the timer so no cache is shared across legs
      for (leg <- streamLegs(spark, base, bigDir, streamRoot, aMax)) {
        streaming(leg.key) = leg.run()
        noteHeap()
        SparkEntry.clearGraftCaches(spark)
      }
    }

    // ---- report ----
    val sentEnd = Bench.sentinelRuns(spark)
    def jnum(d: Double): String =
      if (d.isNaN) "null" else f"$d%.3f"
    def jarr(xs: Seq[Double]): String = xs.map(jnum).mkString("[", ",", "]")
    // section-scoped re-runs may never have built the max corpus; the
    // report must degrade to null, not crash at the finish line
    def countOrNull(path: String): String =
      graft.streaming.BatchStore.read(spark, path).fold("null")(_.count().toString)
    val ladder = factors.sorted
    val sorted = times.keys.toSeq.sorted
    val qNames = {
      val seen = scala.collection.mutable.LinkedHashSet.empty[String]
      for (a <- sorted; n <- times(a).keys) seen += n.takeWhile(_ != '[')
      seen.toSeq
    }
    val queryJson = qNames.map { baseName =>
      def at(a: Int): Option[(Double, Long)] = {
        val key = times.get(a).flatMap(m =>
          m.keys.find(_.takeWhile(_ != '[') == baseName))
        key.flatMap(k => times(a).get(k))
      }
      val tStr = sorted.map(a => at(a) match {
        case Some((t, _)) => f""""x$a":$t%.2f"""
        case None => s""""x$a":null"""
      }).mkString(",")
      val rStr = sorted.map(a => at(a) match {
        case Some((_, r)) if r >= 0 => s""""x$a":$r"""
        case _ => s""""x$a":null"""
      }).mkString(",")
      // exponents fit on base names across factors
      def fitBase(lo: Int, hi: Int): Double = (for {
        tl <- at(lo).map(_._1) if tl > 0
        th <- at(hi).map(_._1) if th > 0
      } yield math.log(th / tl) / math.log(hi.toDouble / lo)).getOrElse(Double.NaN)
      val expLo = if (ladder.size >= 2) fitBase(ladder(0), ladder(1)) else Double.NaN
      val expHi = if (ladder.size >= 3) fitBase(ladder(1), ladder(2)) else Double.NaN
      // the ×64 confirmation octave, when run (the near-linear set)
      val expConfirm = sorted.filter(_ > ladder.max).lastOption
        .map(cf => fitBase(ladder.max, cf)).getOrElse(Double.NaN)
      s"""    "$baseName": {"t":{$tStr},"rows":{$rStr},"exp_lo":${jnum(expLo)},"exp_hi":${jnum(expHi)},"exp_confirm":${jnum(expConfirm)}}"""
    }.mkString(",\n")
    val streamJson = streaming.map { case (n, (t, r)) =>
      f"""    "$n": {"sec":$t%.2f,"rows":$r}"""
    }.mkString(",\n")
    val json =
      s"""{
  "metric": "scale_rehearsal",
  "base_sf_dir": "$base",
  "factors": [${sorted.mkString(",")}],
  "docs_at_max": ${countOrNull(s"$bigDir/documents.parquet")},
  "vectors_at_max": ${countOrNull(s"$bigDir/embeddings.parquet")},
  "lsh_bits": {${sorted.map(a => s""""x$a":${scaledBits(a)}""").mkString(",")}},
  "queries": {
$queryJson
  },
  "streaming_x$aMax": {
$streamJson
  },
  "streaming_coverage": {
    "own_leg": "every store-backed component s14-s60 carries its own ingest and/or read leg in streaming_x$aMax above",
    "pipeline_riders": "s01-s07 (CQRS cascade), s09 (AvailableNow catch-up), s28 (memory broker) and s51 (socket) are the SAME BnplPipeline the s30_rate_sustained / s30_backlog_drain / s51_socket_transport legs drive end-to-end — their throughput evidence IS those legs",
    "functional_scale_only": "s08 (stream-stream interval join), s10 (session windows), s11 (stream-static enrich), s12 (windowed distinct), s13 (state-store timers) have no x-leg: they are trigger/watermark-cadence components whose emission is wall-clock-bound, not volume-bound, in this single-box harness; their per-batch kernels are the aggregates/joins the batch legs measure, and their semantics are pinned in StreamingSpec/StatefulSpec"
  },
  "q90_aqe_plan": $q90AqePlanSeen,
  "q90_skew_markers": $q90SkewMarkers,
  "q90_skew_equal_aqe_off": $q90SkewEqual,
  "notes": {
    "q181_tuned": "ran as q158_tuned in the r15 artifact — identical computation (the label-excluding IVF probe at the scale-keyed width), renamed r16 to match the declared contract key",
    "q90_ivf_knn": "the FLAT probe leg is the deliberate tuned-vs-flat contrast (Theta(N^1.5), exponent 1.47 measured r12 and r13) — no x64 confirm octave by design; the tuned point q90_tuned carries the confirm"
  },
  "sentinel": {"start": ${jarr(sentStart)}, "end": ${jarr(sentEnd)}, "min": ${jnum((sentStart ++ sentEnd).min)}},
  "heap_peak_mb": $heapPeakMb,
  "driver_xmx_mb": ${rt.maxMemory() / (1024 * 1024)}
}
"""
    java.nio.file.Files.write(java.nio.file.Paths.get(outPath),
      json.getBytes("UTF-8"))
    // one-line summary for log scrapers
    val line = sorted.map { a =>
      val tot = times(a).collect { case (n, (t, _)) if t > 0 && !n.startsWith("q77_fixed") => t }.sum
      f""""x$a":$tot%.1f"""
    }.mkString(",")
    println(s"""{"metric":"scale_rehearsal_total_sec",$line,"heap_peak_mb":$heapPeakMb}""")
    spark.stop()
  }
}
