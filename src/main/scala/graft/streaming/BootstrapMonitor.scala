package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.queries.Stats

/** s56: streaming Poisson-bootstrap confidence interval — q184's mean CI
  * kept current at ingest, as a read of an additive 10⁴-bucket store
  * ([[BatchStore.Additive]]). The enabling fact is q187's factorization:
  * the rotation spec's replicate weight for a row depends only on
  * h = h60(event_id) mod 10⁴, so replicate sums factor through
  * per-(type, h) bucket partials (cnt, Σcents) — integer-exact, term for
  * term. Per batch ONE map-side-combined (type, h) aggregate of the batch
  * only; the read merges the partials (integer sums) and pushes the
  * merged panel through the SAME `Stats.ciOfBuckets` kernel batch q187
  * runs, which equals batch q184 row for row (the q187 law). A full
  * bootstrap CI over the entire history, for ≤ types × 10⁴ rows of state
  * per batch and zero re-scan of the event log.
  *
  * This read is structurally IMPOSSIBLE under the independent
  * per-(row, b) hash spec (each row would need its own 40 weights — the
  * store would have to hold the rows): the one-hash rotation trade
  * q184's scaladoc documents (CI ~24 % narrower at planted n = 20k,
  * StatsSpec's measured A/B) is exactly what buys streamability.
  */
object BootstrapMonitor {

  private val buckets = BatchStore.Additive(graft.tables.Tables.EventsSchema)(Stats.bucketsOf)(
    _.groupBy(col("event_type"), col("h"))
      .agg(sum(col("cnt")).as("cnt"), sum(col("sum_c")).as("sum_c")))

  /** One micro-batch of (event_type, event_id, value): exact per-(type,
    * h60-bucket) count/cent-sum partials → the batch's own partition. */
  def processBatch(batch: DataFrame, storeDir: String, batchId: Long): Unit =
    buckets.write(batch, storeDir, batchId)

  /** The q184-shaped bootstrap CI over everything ingested so far —
    * row-for-row equal to batch q184 on the concatenated log (the kernel
    * sees only the merged panel). */
  def ci(spark: SparkSession, storeDir: String): DataFrame =
    Stats.ciOfBuckets(buckets.read(spark, storeDir))
}
