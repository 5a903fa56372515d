package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.queries.Skyline

/** s41: streaming skyline maintenance — q163's Pareto frontier kept
  * current as lineitems land (the continuous-skyline problem: the
  * frontier of a stream, re-posable at any moment without a rescan).
  * Each batch accumulates per-(qty, price) counts — the additive frame
  * q163 itself reduces to first, merged by SUM ([[BatchStore.Additive]])
  * — and the read runs the SAME `Skyline.frontierOfCounts` finisher, so
  * the dominance definition exists exactly once.
  *
  * The frontier itself is NOT mergeable (a point can be knocked off by a
  * later batch's better point — which is exactly why the store holds the
  * domain-bounded candidate counts, never the frontier), but the
  * candidate frame is ≤ |qty domain| × |price grid| — domain-bounded,
  * so deriving the frontier at read costs one bounded pass (the s37/s39
  * "derive the non-mergeable statistic at read" boundary argument).
  *
  * Scale posture: per batch ONE map-side-combined aggregate of the
  * batch only; the read shuffles ≤ grid × batches count rows into the
  * 50-candidate finisher.
  */
object SkylineMonitor {

  private val counts = BatchStore.Additive(StructType.fromDDL("qty DOUBLE, price DOUBLE"))(
    _.groupBy(col("qty"), col("price")).agg(count(lit(1)).as("n")))(
    _.groupBy(col("qty"), col("price")).agg(sum(col("n")).as("n")))

  /** One micro-batch of (qty, price): per-point counts → the batch's
    * own partition. */
  def processBatch(batch: DataFrame, storeDir: String, batchId: Long): Unit =
    counts.write(batch, storeDir, batchId)

  /** The q163-shaped frontier over everything ingested so far —
    * row-for-row equal to batch q163 on the concatenated input. */
  def frontier(spark: SparkSession, storeDir: String): DataFrame =
    Skyline.frontierOfCounts(counts.read(spark, storeDir))
}
