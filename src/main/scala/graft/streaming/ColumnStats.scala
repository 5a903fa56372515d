package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.queries.ZOrder

/** s50: streaming column statistics — q180's equi-depth optimizer
  * histogram maintained as rows land: ANALYZE TABLE as a continuous job
  * instead of a periodic scan (the statistics a scan planner reads MUST
  * track the table the moment ingestion never stops). Each batch writes
  * per-value count partials, merged by SUM ([[BatchStore.Additive]]);
  * the read runs the SAME `ZOrder.equiDepthStats` kernel batch q180
  * runs, whose own histogram aggregate makes merged partials
  * indistinguishable from raw rows.
  *
  * The boundary STRUCTURE is not mergeable (one hot batch moves every
  * quantile — the s47 rank argument for order statistics), so the store
  * holds mergeable counts and the two-phase-prefix boundaries re-derive
  * at read.
  *
  * Scale posture: per batch ONE map-side-combined value-count aggregate
  * of the batch only (cardinality bounded by the value RANGE, not the
  * corpus); the read merges counts and runs the sort-free prefix.
  */
object ColumnStats {

  private val counts = BatchStore.Additive(StructType.fromDDL("v BIGINT"))(
    _.groupBy(col("v")).agg(count(lit(1)).as("cnt")))(
    _.groupBy(col("v")).agg(sum(col("cnt")).as("cnt")))

  /** One micro-batch of single-long-column `v`: per-value count
    * partials → the batch's own partition. */
  def processBatch(batch: DataFrame, storeDir: String, batchId: Long): Unit =
    counts.write(batch, storeDir, batchId)

  /** The q180-shaped equi-depth histogram over everything ingested so
    * far — row-for-row equal to batch q180 on the concatenated input
    * (the merged counts enter through the kernel's own (v, cnt)
    * histogram seam). */
  def stats(spark: SparkSession, storeDir: String): DataFrame =
    ZOrder.equiDepthStatsOfCounts(counts.read(spark, storeDir))
}
