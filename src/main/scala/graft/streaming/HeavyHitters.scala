package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.ops.Dsl.freqSketch

/** s16: streaming heavy hitters — the PRODUCTION form of q88's
  * Misra-Gries corpus scan: the token stream arrives in micro-batches and
  * a BOUNDED sketch store is maintained online instead of re-scanning the
  * corpus. Per batch: one [[graft.functions.FreqSketch]] aggregate
  * (m counters, map-side partials) whose surviving (token, est) rows land
  * in the batch's own `batch_id` partition; the queryable merged sketch
  * is the PODS'12 mergeable-summary fold over the stored partials —
  * pointwise sum, subtract the (m+1)-th largest, drop non-positives —
  * whose guarantee (est ≤ true ≤ est + N/(m+1), every hitter above
  * N/(m+1) present) survives ANY merge tree shape, which is exactly what
  * licenses folding per-batch sketches written at different times.
  *
  * A covered store ([[BatchStore.Additive]]) whose merge is the
  * mergeable-summary fold: in the eviction regime it is not exactly
  * associative, but every merge order keeps the bound above.
  *
  * Scale posture: per batch the shuffle is the m-counter sketch merge
  * tree (constant state per partition — the q88 argument, now paid per
  * batch instead of per corpus scan); the store holds ≤ m rows per
  * uncompacted batch and ≤ m in the base; the merged read is an
  * aggregate over that bounded frame with a TakeOrdered threshold probe,
  * never a corpus-scale job. */
object HeavyHitters {

  /** Counter budget m — error ≤ N/(m+1) over the whole stream. */
  val Counters = 256

  /** One micro-batch: sketch the batch's tokens, land them in this
    * batch's own partition. In the eviction regime a re-run's counter
    * VALUES can differ with partitioning, but the overwrite replaces the
    * whole partition, so the store never mixes two attempts — the merged
    * bound still holds. */
  def processBatch(batch: DataFrame, storeDir: String, batchId: Long,
      m: Int = Counters): Unit = {
    // kept: in the eviction regime a fold moves the merged sketch, so an
    // empty batch at a fold boundary would move the read
    if (batch.isEmpty) return
    if (BatchStore.foldDue(batchId))
      compactStore(batch.sparkSession, storeDir, batchId, m)
    sketch(m).writeCovered(batch, storeDir, batchId)
  }

  /** The batch's m-counter sketch as (token, est) rows, merged by
    * [[mergeSketch]]. */
  private def sketch(m: Int) = BatchStore.Additive(StructType.fromDDL("text STRING"))(
    _.select(explode(split(col("text"), " ")).as("token"))
      .filter(length(col("token")) >= 1)
      .agg(freqSketch(col("token"), m).as("sk"))
      .select(explode(col("sk")).as("e"))
      .select(col("e.token").as("token"), col("e.est").as("est")))(
    mergeSketch(_, m))

  /** The PODS'12 merge over a (token, est) frame: pointwise sum, subtract
    * the (m+1)-th largest sum (a TakeOrdered single-row probe, broadcast
    * back), drop non-positives — at most m survivors, deterministic
    * (ties inherit the (est DESC, token) total order). */
  private def mergeSketch(rows: DataFrame, m: Int): DataFrame = {
    val counts = rows.groupBy(col("token")).agg(sum(col("est")).as("est"))
    val thr = counts.orderBy(col("est").desc, col("token")).limit(m + 1)
      .agg(when(count(lit(1)) === m + 1, min(col("est"))).otherwise(0L).as("_thr"))
    counts.crossJoin(broadcast(thr))
      .select(col("token"), (col("est") - col("_thr")).as("est"))
      .filter(col("est") > 0)
      .orderBy(col("est").desc, col("token"))
  }

  /** The queryable merged sketch over everything admitted so far. */
  def merged(spark: SparkSession, storeDir: String, m: Int = Counters): DataFrame =
    sketch(m).readCovered(spark, storeDir)

  /** Fold the live rows below `upToBatch` into a new base. The fold
    * applies [[mergeSketch]], which the mergeable-summary theorem says
    * preserves the N/(m+1) bound under any fold schedule; below the
    * eviction regime (distinct tokens ≤ m) the threshold is 0 and the
    * fold is exactly the pointwise sum. */
  def foldBase(spark: SparkSession, storeDir: String, upToBatch: Long,
      m: Int = Counters): Unit =
    sketch(m).foldCovered(spark, storeDir, upToBatch)

  def compactStore(spark: SparkSession, storeDir: String, upToBatch: Long,
      m: Int = Counters): Unit = {
    foldBase(spark, storeDir, upToBatch, m)
    BatchStore.sweepCovered(spark, storeDir)
  }
}
