package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.queries.Vectors

/** s21: streaming embedding stats — the PRODUCTION form of q102's
  * per-dimension audit panel: embeddings arrive in micro-batches and the
  * panel is maintained from a store of EXACT integer partials instead of
  * re-scanning the corpus. Per batch: one `Vectors.statPartials`
  * aggregation (the SAME kernel q102 runs — parity by construction)
  * whose (i, n, n_pos, sq, mnq, mxq) rows land in the batch's own
  * batch_id partition; the queryable panel is `Vectors.statFinalize`
  * over the pointwise combine (sum/sum/sum/min/max — exact integers, so
  * the merge has no precision question).
  *
  * A covered store ([[BatchStore.Additive]]): it folds every
  * [[BatchStore.FoldEvery]] batches by the coverage watermark, and the
  * combine is exact, so a fold moves no read.
  *
  * Scale posture: per batch the shuffle is dim-cardinality partials
  * (64 rows) regardless of batch size — the cheapest possible store
  * growth; the store holds ≤ dim rows per uncompacted batch and ≤ dim in
  * the base; the merged read is an aggregate over that bounded frame. */
object VectorStats {

  private val partials =
    BatchStore.Additive(StructType.fromDDL("embedding ARRAY<FLOAT>"))(Vectors.statPartials)(
      _.groupBy(col("i"))
        .agg(sum(col("n")).as("n"), sum(col("n_pos")).as("n_pos"),
          sum(col("sq")).as("sq"), min(col("mnq")).as("mnq"), max(col("mxq")).as("mxq")))

  /** One micro-batch: exact partials → own partition. */
  def processBatch(batch: DataFrame, storeDir: String, batchId: Long): Unit = {
    if (BatchStore.foldDue(batchId))
      compactStore(batch.sparkSession, storeDir, batchId)
    partials.writeCovered(batch, storeDir, batchId)
  }

  /** The queryable panel over everything streamed so far — q102's exact
    * output shape (same finalize formula, same ordering). */
  def stats(spark: SparkSession, storeDir: String): DataFrame =
    Vectors.statFinalize(partials.readCovered(spark, storeDir))

  /** Fold the live rows below `upToBatch` into a new base. */
  def foldBase(spark: SparkSession, storeDir: String, upToBatch: Long): Unit =
    partials.foldCovered(spark, storeDir, upToBatch)

  def compactStore(spark: SparkSession, storeDir: String, upToBatch: Long): Unit = {
    foldBase(spark, storeDir, upToBatch)
    BatchStore.sweepCovered(spark, storeDir)
  }
}
