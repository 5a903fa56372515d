package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.queries.Stats

/** s29: streaming distribution-drift monitor — the online form of q135's
  * two-sample Kolmogorov–Smirnov matrix: events arrive in micro-batches
  * and the per-(event_type, value) observation counts are maintained as
  * a covered additive store ([[BatchStore.Additive]]) of exact partials,
  * so the drift read never re-scans the event log. The read merges the
  * partials (one integer sum) and pushes the summed counts through the
  * SAME `Stats.ksOfCounts` kernel batch q135 uses —
  * the exact-integer ECDF supremum, DECIMAL(38,0) products and ratio4dec
  * quotient included, parity by construction.
  *
  * This closes the monitoring loop the batch layer opened (q132 EWMA,
  * q133 spikes, q135 drift): the production deployment points this at
  * the live feed and reads the matrix between batches — "is yesterday's
  * value distribution drifting from today's?" without an O(log) rescan.
  *
  * The store grows one quantization-bounded partition per batch
  * (distinct (type, value) pairs, NOT batch rows — the 2-decimal value
  * grid bounds it regardless of volume); folding old partitions into a
  * base is the coverage-watermark fold ([[BatchStore.foldCovered]]).
  *
  * Scale posture: per batch ONE (type, value)-keyed map-side-combined
  * aggregate of the batch only; the drift read is one shuffle over the
  * store (≤ grid × uncompacted batches rows) feeding q135's
  * already-bounded pair kernel — the event log itself is never re-read.
  *
  * STORE-FORMAT BREAK: the partial schema gained the day column `d`
  * (to serve the s48 band read), so a store written before it fails the
  * merged read with a missing column. Partials are derived state — rebuild by replaying the event
  * log through `processBatch` (the replay law makes this exact); there
  * is deliberately no silent read-side default, because an old partition
  * coalesced onto a sentinel day would CORRUPT the s48 calendar slices
  * while appearing to work. (SeasonalMonitor's `sum_v` widening has the
  * same posture.) The fold's coverage-watermark column was a second
  * such break, with the same rebuild-by-replay posture.
  *
  * Read-cost note: the day axis multiplies
  * per-batch partition cardinality (types × days × values), so the
  * drift/IQR reads merge ~days× more rows per uncompacted batch — still
  * quantization-bounded. [[compactStore]] is the coverage-watermark
  * fold with one twist: while folding base + covered batches into a new
  * base, the DAY AXIS IS DROPPED (d → NULL, counts pointwise-summed)
  * for days older than [[BandHorizonDays]] behind the store's newest
  * day. Drift, IQR and winsorized reads merge across d anyway, so they
  * are provably unchanged by any fold (the compaction law in
  * StreamingSpec); the
  * bands read skips the folded NULL-day rows, i.e. after a fold s48
  * serves the calendar slices inside the horizon — exactly the "bands
  * only read recent days" contract. Compaction is a maintainer
  * operation, deliberately NOT on processBatch's automatic cadence: a
  * fold is the moment the operator gives up per-day band slices older
  * than the horizon, so it belongs on the band-retention schedule, not
  * the ingest path. Fold with upToBatch = everything ingested, and pick
  * the horizon with slack beyond the feed's late-data bound — a
  * post-fold late row on a pre-cutoff day would reappear in the bands
  * read as a partial-count slice (the standard watermark-slack
  * argument; the d-merging reads are immune either way). The same
  * partial-slice caveat applies to a PARTIAL fold (upToBatch below
  * everything ingested): batches left live keep their pre-cutoff days,
  * so the bands read serves those days as partial-count slices until
  * the next fold covers them — fold with upToBatch = everything
  * ingested to avoid the window entirely. The horizon anchor is the
  * newest day across ALL live rows (folded or not), so a partial fold
  * never moves the cutoff backwards.
  */
object DriftMonitor {

  /** Default for how many days of per-day band slices a fold preserves,
    * counted back from the store's newest day at fold time; older
    * partials lose the day axis (d → NULL). A retention choice, so
    * [[foldBase]]/[[compactStore]] take it as a parameter; drift/IQR/
    * winsorized reads are invariant to it (they never look at d). */
  val BandHorizonDays = 45

  /** Exact per-(type, day, value) counts. The day column lets the same
    * store serve the calendar-sliced band read (s48); the drift/IQR reads
    * simply merge across it. */
  private val counts = BatchStore.Additive(graft.tables.Tables.EventsSchema)(
    _.select(col("event_type"), to_date(date_trunc("day", col("ts"))).as("d"), col("value"))
      .groupBy(col("event_type"), col("d"), col("value"))
      .agg(count(lit(1)).as("cnt")))(
    _.groupBy(col("event_type"), col("d"), col("value")).agg(sum(col("cnt")).as("cnt")))

  /** One micro-batch of (event_type, ts, value): the per-(type, day,
    * value) counts → the batch's own partition. */
  def processBatch(batch: DataFrame, storeDir: String, batchId: Long): Unit =
    counts.writeCovered(batch, storeDir, batchId)

  /** The merged (event_type, value) histogram the d-merging reads share. */
  private def valueCounts(spark: SparkSession, storeDir: String): DataFrame =
    counts.readCovered(spark, storeDir)
      .groupBy(col("event_type"), col("value"))
      .agg(sum(col("cnt")).as("cnt"))

  /** Fold the live rows below `upToBatch` into a new base, dropping the
    * day axis (d → NULL, counts pointwise-summed) for days more than
    * `horizonDays` behind the store's newest day. Counts are exact
    * integers, so the fold commutes with every d-merging read; only the
    * bands read narrows (to the horizon). */
  def foldBase(spark: SparkSession, storeDir: String, upToBatch: Long,
      horizonDays: Int = BandHorizonDays): Unit =
    BatchStore.foldCovered(spark, storeDir, upToBatch) { folded =>
      // the anchor is the newest day over ALL live rows, not just the
      // folded ones, so a partial fold never moves the horizon backwards
      val cutoff = Option(counts.readCovered(spark, storeDir)
        .agg(date_sub(max(col("d")), horizonDays)).collect()(0).getDate(0))
      counts.merge(
        cutoff.fold(folded)(c => folded.withColumn("d", when(col("d") >= lit(c), col("d")))))
    }

  /** The maintainer fold: see the class doc for why this runs on the
    * band-retention schedule rather than processBatch's cadence. */
  def compactStore(spark: SparkSession, storeDir: String, upToBatch: Long,
      horizonDays: Int = BandHorizonDays): Unit = {
    foldBase(spark, storeDir, upToBatch, horizonDays)
    BatchStore.sweepCovered(spark, storeDir)
  }

  /** The q135-shaped KS drift matrix over everything ingested so far —
    * row-for-row equal to batch q135 on the concatenated log. */
  def drift(spark: SparkSession, storeDir: String): DataFrame =
    Stats.ksOfCounts(valueCounts(spark, storeDir))

  /** s45: the SECOND read of this store — q168's Tukey box-plot profile
    * and 1.5·IQR outlier counts over the same merged value histogram,
    * through the SAME `Stats.iqrOfValueCounts` kernel batch q168 runs.
    * One additive value-count store, two distribution reads (KS drift +
    * IQR profile) — the s36/s39 economics on the value axis. Row-for-row
    * equal to batch q168. */
  def iqr(spark: SparkSession, storeDir: String): DataFrame =
    Stats.iqrOfValueCounts(valueCounts(spark, storeDir))

  /** s55: the FOURTH read of this store — q182's winsorized robust-mean
    * profile (p05/p95 clip, clipped count/sum/4-dec mean) over the same
    * merged value histogram, through the SAME
    * `Stats.winsorizedOfValueCounts` kernel batch q182 runs — the read
    * q182's scaladoc promised. Row-for-row equal to batch q182 (the
    * kernel sees only the summed histogram); no fold moves it (it
    * never looks at d). */
  def winsorized(spark: SparkSession, storeDir: String): DataFrame =
    Stats.winsorizedOfValueCounts(valueCounts(spark, storeDir))

  /** s57: the FIFTH read of this store — q188's median + MAD robust
    * dispersion panel over the same merged value histogram, through the
    * SAME `Stats.madOfValueCounts` kernel batch q188 runs. Row-for-row
    * equal to batch q188; no fold moves it (it never looks at d). */
  def mad(spark: SparkSession, storeDir: String): DataFrame =
    Stats.madOfValueCounts(valueCounts(spark, storeDir))

  /** s48: the THIRD read of this store — q179's daily p10/p50/p90 value
    * bands over the calendar-sliced histogram, through the SAME
    * `Stats.bandsOfCounts` kernel batch q179 runs (the day-widened
    * partials make this read possible; drift and IQR keep merging across
    * the day axis). Row-for-row equal to batch q179. */
  def bands(spark: SparkSession, storeDir: String): DataFrame =
    // folded NULL-day rows carry no calendar slice — after a fold this
    // read serves the days inside the band horizon (class doc)
    Stats.bandsOfCounts(counts.readCovered(spark, storeDir).filter(col("d").isNotNull))
}
