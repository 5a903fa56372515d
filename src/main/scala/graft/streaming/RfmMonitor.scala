package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.queries.Behavior

/** s37: streaming RFM segmentation — q156's segment grid maintained as
  * events land: LIVE behavioral segmentation, the panel a marketing /
  * curation deployment reads between batches instead of re-scanning the
  * log. The per-user metric triple is additive ([[BatchStore.Additive]]:
  * last_ts merges by MAX, frequency and cents by SUM). The merged metric
  * frame then runs the SAME `Behavior.rfmSegments` quantile finisher
  * batch q156 runs — disc-percentile boundaries, dollar grid, log-clock
  * anchor included — so batch and stream segment identically by
  * construction (the q135→s29 / q151→s36 kernel-sharing discipline).
  *
  * Note the quantile boundaries are DERIVED, not stored: quantiles are
  * not mergeable statistics, so the read recomputes them from the merged
  * metrics — which stay one row per (user, batch-partial), never
  * event-scale.
  *
  * Scale posture: per batch ONE map-side-combined per-user aggregate of
  * the batch only (`Behavior.rfmMetrics` — the shared kernel); the read
  * merges ≤ users × uncompacted-batches partial rows and runs q156's
  * bounded-histogram machinery.
  */
object RfmMonitor {

  private val rfm = BatchStore.Additive(graft.tables.Tables.EventsSchema)(Behavior.rfmMetrics)(
    _.groupBy(col("user_id"))
      .agg(max(col("last_ts")).as("last_ts"), sum(col("frequency")).as("frequency"),
        sum(col("cents")).as("cents")))

  /** One micro-batch of (user_id, ts, value): the batch's own per-user
    * metric partials → its own partition. */
  def processBatch(batch: DataFrame, storeDir: String, batchId: Long): Unit =
    rfm.write(batch, storeDir, batchId)

  /** The q156-shaped segment grid over everything ingested so far —
    * row-for-row equal to batch q156 on the concatenated log. */
  def segments(spark: SparkSession, storeDir: String): DataFrame =
    Behavior.rfmSegments(rfm.read(spark, storeDir))
}
