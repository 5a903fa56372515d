package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.queries.Stats

/** s42: streaming A/B experiment readout — q165's 2×2 chi-square kept
  * re-posable as events land: the experiment dashboard every platform
  * polls while a test runs ("is it significant YET?" is intrinsically a
  * streaming question). Each batch writes per-user conversion-flag
  * partials through q165's OWN `Stats.userConv` kernel; the read merges
  * them per user (a 0/1 MAX, [[BatchStore.Additive]]: a user's conversion
  * may land in any batch) and runs the SAME `Stats.chisqOfConv`
  * finisher, so the test statistic exists exactly once.
  *
  * Scale posture: per batch ONE map-side-combined per-user aggregate of
  * the batch only; the read merges O(users) flag partials into the
  * four-long global aggregate — the dashboard poll costs one panel
  * pass, never a log rescan.
  */
object ChisqMonitor {

  private val conversions = BatchStore.Additive(graft.tables.Tables.EventsSchema)(Stats.userConv)(
    _.groupBy(col("user_id")).agg(max(col("conv")).as("conv")))

  /** One micro-batch of (user_id, event_type): per-user conversion-flag
    * partials → the batch's own partition. */
  def processBatch(batch: DataFrame, storeDir: String, batchId: Long): Unit =
    conversions.write(batch, storeDir, batchId)

  /** The q165-shaped experiment readout over everything ingested so far
    * — row-for-row equal to batch q165 on the concatenated log. */
  def readout(spark: SparkSession, storeDir: String): DataFrame =
    Stats.chisqOfConv(conversions.read(spark, storeDir))
}
