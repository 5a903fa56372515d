package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.queries.ZOrder

/** s33: streaming LAYOUT-STATS maintenance — q149's per-bucket min/max
  * envelopes (the file-skipping metadata a lakehouse scan planner reads)
  * kept current as rows ingest, instead of recomputed by a full scan:
  * each micro-batch lands one partition of per-(bucket, batch) partials
  * (count, min/max of both Morton dims) under a FIXED offline domain
  * (batch-local domains would shift bucket assignment batch to batch —
  * the s31-budgets argument again: online maintainers take their
  * normalization constants as config). The panel read merges partials
  * (sum/min/min/max/max, [[BatchStore.Additive]]), so the view equals
  * batch q149.
  *
  * Scale posture: per batch ONE map-side-combined aggregate of the batch
  * at 2^ZBucketBits cardinality (each task emits ≤ 64 partial rows); the
  * panel read merges ≤ buckets × uncompacted-batches rows. The base
  * table is never re-scanned — which is the entire point: at 100 TB,
  * "refresh the layout metadata" must not cost a table scan per wave.
  */
object LayoutStats {

  /** Per bucket of bucketed (ck, day, bucket) rows: the count and the
    * envelope of both dims. */
  private val envelopes =
    BatchStore.Additive(StructType.fromDDL("ck BIGINT, day BIGINT, bucket BIGINT"))(
      _.groupBy(col("bucket"))
        .agg(count(lit(1)).as("n"),
          min(col("ck")).as("min_ck"), max(col("ck")).as("max_ck"),
          min(col("day")).as("min_day"), max(col("day")).as("max_day")))(
      _.groupBy(col("bucket"))
        .agg(sum(col("n")).as("n"),
          min(col("min_ck")).as("min_ck"), max(col("max_ck")).as("max_ck"),
          min(col("min_day")).as("min_day"), max(col("max_day")).as("max_day")))

  /** One micro-batch of (ck, day) dims: envelope partials → the batch's
    * own partition. `dom` is the fixed quantization domain (offline
    * column stats), broadcast at one row; it buckets the batch before
    * the partial, so the store's empty read needs no domain. */
  def processBatch(batch: DataFrame, dom: DataFrame, storeDir: String,
      batchId: Long): Unit =
    envelopes.write(ZOrder.bucketed(batch.select(col("ck"), col("day")), dom), storeDir, batchId)

  /** The q149-shaped panel over everything ingested so far: merge the
    * partials, re-derive the scan verdict — row-for-row the batch q149
    * on the concatenated input. */
  def envelopePanel(spark: SparkSession, storeDir: String): DataFrame =
    envelopes.read(spark, storeDir)
      .withColumn("would_scan",
        !(col("max_ck") < ZOrder.RectCkLo || col("min_ck") > ZOrder.RectCkHi ||
          col("max_day") < ZOrder.RectDayLo || col("min_day") > ZOrder.RectDayHi))
      .orderBy(col("bucket"))
}
