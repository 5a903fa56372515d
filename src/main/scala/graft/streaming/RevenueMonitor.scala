package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.queries.Stats

/** s47: streaming revenue-inequality maintenance — q173's Gini and
  * q174's Lorenz decile table re-posable as orders land: the
  * concentration dashboard of a marketplace whose order stream never
  * stops. Each batch writes per-customer cent-sum partials, merged by
  * SUM ([[BatchStore.Additive]]); the reads run the SAME
  * `Stats.revenueGini` / `Stats.revenueDeciles` kernels batch q173/q174
  * run (the kernels' own per-customer aggregate makes the merged
  * partials indistinguishable from raw rows).
  *
  * The rank structure (who sits in which decile) is NOT mergeable — a
  * customer's rank moves every time anyone spends — which is exactly why
  * the store holds the mergeable cent sums and the two-phase prefix
  * ranks are derived at read (the s39/s41 boundary argument, here for
  * ORDER STATISTICS).
  *
  * Scale posture: per batch ONE map-side-combined per-customer aggregate
  * of the batch only; the read merges O(customers) partials into the
  * q72-style two-phase prefix — no global sort, no unpartitioned window,
  * at any corpus size.
  */
object RevenueMonitor {

  /** Per customer: the cent sum, which is also the merge of cent sums. */
  private val centSums: DataFrame => DataFrame =
    _.groupBy(col("o_custkey")).agg(sum(col("cents")).as("cents"))

  private val revenue =
    BatchStore.Additive(StructType.fromDDL("o_custkey BIGINT, cents BIGINT"))(centSums)(centSums)

  /** One micro-batch of (o_custkey, cents): per-customer sum partials →
    * the batch's own partition. */
  def processBatch(batch: DataFrame, storeDir: String, batchId: Long): Unit =
    revenue.write(batch, storeDir, batchId)

  /** q173-shaped Gini over everything ingested so far. */
  def gini(spark: SparkSession, storeDir: String): DataFrame =
    Stats.revenueGini(revenue.read(spark, storeDir))

  /** q174-shaped Lorenz decile table over everything ingested so far. */
  def deciles(spark: SparkSession, storeDir: String): DataFrame =
    Stats.revenueDeciles(revenue.read(spark, storeDir))
}
