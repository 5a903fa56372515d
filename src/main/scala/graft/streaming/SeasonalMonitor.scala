package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.queries.Stats

/** s36: streaming seasonal-forecast panel — the online form of q151's
  * seasonal-naive baseline: events arrive in micro-batches and the
  * per-(event_type, day) observation counts are maintained as additive
  * exact partials ([[BatchStore.Additive]], one calendar-bounded
  * partition per batch), so the forecast-error read never re-scans the
  * event log. The read merges the partials (integer sum) and pushes
  * the daily panel through the SAME `Stats.seasonalBaseline` kernel
  * batch q151 runs — lag join, MAE/WAPE ratio4s and gap-day semantics
  * included, parity by construction.
  *
  * This completes the monitoring family's streaming symmetry: q135→s29
  * (drift), q149→s33 (layout), q151→s36 (forecast) — every batch
  * monitoring query has a store-maintained face.
  *
  * The store grows one (types × days)-bounded partition per batch —
  * calendar-bounded, never volume-bounded.
  *
  * Scale posture: per batch ONE map-side-combined aggregate of the
  * batch only; the read is one shuffle over ≤ types × days ×
  * uncompacted-batches partial rows into q151's calendar-bounded kernel.
  *
  * STORE-FORMAT BREAK: the partial schema gained the exact `sum_v`
  * decimal column (to serve the s43 Holt read), so a store written
  * before it fails the merged read with a missing column. Partials are
  * derived state — rebuild by replaying the event log through
  * `processBatch`; no silent read-side default (a defaulted sum would
  * corrupt the mean-based reads while appearing to work). Same posture
  * as DriftMonitor's day widening.
  */
object SeasonalMonitor {

  /** Per (type, day): the count AND the exact DECIMAL value sum. The
    * decimal (not double) carrier is what keeps the merge exact: the read
    * sums the per-batch decimals and casts to double ONCE, so the merged
    * panel equals batch `Stats.dailyOf` bit-for-bit under any split. */
  private val daily = BatchStore.Additive(graft.tables.Tables.EventsSchema)(
    _.select(col("event_type"), to_date(date_trunc("day", col("ts"))).as("d"), col("value"))
      .groupBy(col("event_type"), col("d"))
      .agg(count(lit(1)).as("n"), sum(col("value").cast("decimal(18,4)")).as("sum_v")))(
    _.groupBy(col("event_type"), col("d"))
      .agg(sum(col("n")).as("n"), sum(col("sum_v")).as("sum_v")))

  /** One micro-batch of (event_type, ts, value): the per-(type, day)
    * partials → the batch's own partition. */
  def processBatch(batch: DataFrame, storeDir: String, batchId: Long): Unit =
    daily.write(batch, storeDir, batchId)

  /** The merged (event_type, d, n, sum_v) daily panel with sum_v as a
    * double — the dailyOf equivalence every read below but [[decayed]]
    * starts from. */
  private def mergedDaily(spark: SparkSession, storeDir: String): DataFrame =
    daily.read(spark, storeDir).withColumn("sum_v", col("sum_v").cast("double"))

  /** The q151-shaped forecast-error report over everything ingested so
    * far — row-for-row equal to batch q151 on the concatenated log. */
  def baseline(spark: SparkSession, storeDir: String): DataFrame =
    Stats.seasonalBaseline(mergedDaily(spark, storeDir))

  /** s54: the SIXTH read of this store — q185's time-decayed engagement
    * over the merged panel, through the SAME `Stats.decayedEngagement`
    * kernel. Unlike [[mergedDaily]], the sum merge here stays DECIMAL
    * end to end (no double cast): q185's integer-carrier exactness
    * starts from decimal-exact cent sums, and a decimal like x.78 cast
    * to double is no longer exact. Row-for-row equal to batch q185. */
  def decayed(spark: SparkSession, storeDir: String): DataFrame =
    Stats.decayedEngagement(daily.read(spark, storeDir))

  /** s43: the THIRD read — q167's Holt level/trend smoothing over the
    * same merged panel, through the SAME `Stats.holtOf` kernel. The
    * sequential float fold is derived AT READ (a fold is not a mergeable
    * statistic — the same boundary argument as the s39 medians); the
    * decimal sum_v partials merge exactly, so the fold's inputs equal
    * batch q167's bit-for-bit. */
  def holt(spark: SparkSession, storeDir: String): DataFrame =
    Stats.holtOf(mergedDaily(spark, storeDir))

  /** s44: the FOURTH read — q166's CUSUM changepoint over the merged
    * counts, through the SAME `Stats.cusumChangepoint` kernel. */
  def changepoint(spark: SparkSession, storeDir: String): DataFrame =
    Stats.cusumChangepoint(mergedDaily(spark, storeDir))

  /** s46: the FIFTH read — q172's peak-to-trough traffic drawdown over
    * the merged counts, through the SAME `Stats.trafficDrawdown`
    * kernel. */
  def drawdown(spark: SparkSession, storeDir: String): DataFrame =
    Stats.trafficDrawdown(mergedDaily(spark, storeDir))

  /** s39: the SECOND read of this store — q162's robust median/MAD
    * outlier flags over the same merged daily panel. One additive store
    * serving two monitoring reads (forecast error AND robust anomaly) is
    * the architecture the batch symmetry promises: quantile statistics
    * are not mergeable, so the store holds the mergeable counts and the
    * medians are derived AT READ over the calendar-bounded panel (s37's
    * boundary argument). Row-for-row equal to batch q162. */
  def outliers(spark: SparkSession, storeDir: String): DataFrame =
    Stats.madOutliers(mergedDaily(spark, storeDir))

  /** s58: the SEVENTH read of this store — q189's Theil–Sen robust
    * trend slope over the same merged daily panel, through the SAME
    * `Stats.theilSenOf` kernel. A pairwise-slope median is not a
    * mergeable statistic, so (like the s39 medians and the s43 fold)
    * it is derived AT READ over the calendar-bounded panel; the count
    * partials merge exactly, so the slopes — one IEEE division each of
    * identical integers — equal batch q189's bit-for-bit. */
  def theilsen(spark: SparkSession, storeDir: String): DataFrame =
    Stats.theilSenOf(mergedDaily(spark, storeDir))

  /** s59: the EIGHTH read — q190's Kendall tau-a rank correlation
    * between every type pair's daily-count series, through the SAME
    * `Stats.kendallOf` kernel. All-integer until the one mirrored
    * ratio4 quotient. One additive daily store now serves eight reads
    * (forecast, MAD flags, Holt, CUSUM, drawdown, decay, trend, rank
    * correlation) — the batch statistics family served online for one
    * store's upkeep. */
  def kendall(spark: SparkSession, storeDir: String): DataFrame =
    Stats.kendallOf(mergedDaily(spark, storeDir))

  /** s60: the NINTH read — q191's Mann–Kendall trend test over the same
    * merged daily panel, through the SAME `Stats.mannKendallOf` kernel:
    * the significance verdict next to s58's Theil–Sen slope, exact
    * integers to the squared fence. */
  def mannKendall(spark: SparkSession, storeDir: String): DataFrame =
    Stats.mannKendallOf(mergedDaily(spark, storeDir))
}
