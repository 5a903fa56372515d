package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.queries.Vectors

/** s21: streaming embedding stats — the PRODUCTION form of q102's
  * per-dimension audit panel: embeddings arrive in micro-batches and the
  * panel is maintained from a store of EXACT integer partials instead of
  * re-scanning the corpus. Per batch: one `Vectors.statPartials`
  * aggregation (the SAME kernel q102 runs — parity by construction)
  * whose (i, n, n_pos, sq, mnq, mxq) rows land in the batch's own
  * batch_id partition; the queryable panel is `Vectors.statFinalize`
  * over the pointwise combine (sum/sum/sum/min/max — exact integers, so
  * the merge has no precision question and commutes with any batch
  * split).
  *
  * The store is ADDITIVE, so compaction follows s16's coverage
  * watermark (see [[BatchStore]]), not s14's write-then-delete.
  * [[foldBase]]/[[sweepFolded]] are split so StreamingSpec can hold the
  * crash window open.
  *
  * Scale posture: per batch the shuffle is dim-cardinality partials
  * (64 rows) regardless of batch size — the cheapest possible store
  * growth; the store holds ≤ dim rows per uncompacted batch and ≤ dim in
  * the base; the merged read is an aggregate over that bounded frame. */
object VectorStats {

  private def partialCols = Seq("i", "n", "n_pos", "sq", "mnq", "mxq").map(col)

  /** One micro-batch: exact partials → own partition. */
  def processBatch(batch: DataFrame, storeDir: String, batchId: Long): Unit = {
    // kept: at a fold boundary an empty batch would still advance the
    // covered_upto watermark
    if (batch.isEmpty) return
    if (BatchStore.foldDue(batchId))
      compactStore(batch.sparkSession, storeDir, batchId)
    val partials = Vectors.statPartials(batch)
      .select(partialCols :+ lit(null).cast("long").as("covered_upto"): _*)
    BatchStore.write(partials, storeDir, batchId)
  }

  /** Pointwise combine of partial rows — exact, associative,
    * batch-split-invariant. */
  private def combine(rows: DataFrame): DataFrame =
    rows.groupBy(col("i"))
      .agg(sum(col("n")).as("n"), sum(col("n_pos")).as("n_pos"),
        sum(col("sq")).as("sq"), min(col("mnq")).as("mnq"), max(col("mxq")).as("mxq"))

  /** The queryable panel over everything streamed so far — q102's exact
    * output shape (same finalize formula, same ordering). Querying the
    * panel before the first non-empty batch returns the empty frame in
    * that same shape instead of throwing (advisor r8): the empty partial
    * frame flows through combine+finalize, so the schema is derived from
    * the one real path, not duplicated here. */
  def stats(spark: SparkSession, storeDir: String): DataFrame = {
    val rows = BatchStore.read(spark, storeDir).map(BatchStore.live).getOrElse(
      spark.range(0).select(
        col("id").cast("int").as("i"), col("id").as("n"),
        col("id").as("n_pos"), col("id").as("sq"),
        col("id").as("mnq"), col("id").as("mxq")))
    Vectors.statFinalize(combine(rows))
  }

  /** Phase 1 of compaction: fold base + batch partitions in
    * [old watermark, upToBatch) into a new base with covered_upto =
    * upToBatch. Readers stop seeing the folded partitions the moment
    * this commits (watermark filter) — no double count regardless of
    * when the sweep runs. */
  def foldBase(spark: SparkSession, storeDir: String, upToBatch: Long): Unit =
    BatchStore.read(spark, storeDir).foreach { all =>
      // a regressed watermark would re-expose covered-but-unswept batch
      // partitions to the live read (double count) — fail loudly
      val current = BatchStore.coveredUpto(all)
      require(upToBatch >= current,
        s"s21 foldBase: upToBatch $upToBatch < current covered_upto $current — " +
          "a regressed watermark re-exposes folded batch partitions")
      val newBase = combine(
        BatchStore.live(all).filter(col("batch_id") === -1L || col("batch_id") < upToBatch))
        .localCheckpoint(true) // pin: the overwrite below rewrites the source path
      BatchStore.write(newBase.select(partialCols :+ lit(upToBatch).as("covered_upto"): _*),
        storeDir, -1L)
    }

  /** Phase 2: garbage-collect covered batch partitions (pure cleanup). */
  def sweepFolded(spark: SparkSession, storeDir: String): Unit =
    BatchStore.sweepCovered(spark, storeDir)

  def compactStore(spark: SparkSession, storeDir: String, upToBatch: Long): Unit = {
    foldBase(spark, storeDir, upToBatch)
    sweepFolded(spark, storeDir)
  }
}
