package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.ops.Dsl.h60
import graft.queries.{Dedup, Text}

/** s14: incremental corpus near-dedup — the PRODUCTION form of the
  * q34→q57→q66 batch pipeline: documents arrive as a stream, and each
  * micro-batch is admitted against the corpus accepted SO FAR, not
  * re-deduped from scratch. `foreachBatch` implements the
  * read-check-append transaction against a materialized band-signature
  * store:
  *
  *   1. signatures + banded LSH keys for the batch (the exact q34
  *      kernels — `Dedup.signatures` / `Dedup.bandKeys` — so stream and
  *      batch bucket identically by construction);
  *   2. a doc is REJECTED iff it shares any (band_id, bk) bucket with a
  *      previously admitted doc (store left-semi) or with a smaller-id
  *      doc of its own batch (the q66 keep-min-representative rule,
  *      applied greedily per batch);
  *   3. survivors append to the accepted sink; their band keys append to
  *      the store. Rejected docs are logged to a reject sink with the
  *      batch id — dedup pipelines audit drops, they don't silently eat
  *      them.
  *
  * Admission is deliberately GREEDY (any bucket collision with an
  * already-admitted or smaller-id doc rejects): unlike q57's connected
  * components it never chains through rejected docs, so what the corpus
  * holds depends only on arrival order — deterministic here because
  * doc_ids order each batch and batches are ordered. That is the policy
  * every online dedup runs; the batch CC pipeline remains the tool for
  * retroactive re-clustering.
  *
  * Scale posture: per batch, work is the batch's shingle volume (one
  * grouped signature aggregate, map-side combined) plus ONE left-semi
  * join of docs×Bands keys against the store — the store is read
  * filtered to the batch's band keys by the join, never collected, and
  * grows by exactly the survivors' keys.
  *
  * REPLAY SAFETY: the admission decision is a pure function of (batch
  * contents, store partitions with batch_id < this batch), so a re-run
  * never left-semi-joins the batch against its OWN just-stored band keys
  * (which would flip its accepts to rejects), and every sink replaces
  * its own partition (pinned in StreamingSpec by running the same batch
  * twice).
  *
  * Every [[BatchStore.FoldEvery]] batches [[compactStore]] folds the
  * store into its base partition. Duplicate keys across the base and
  * not-yet-deleted partitions are harmless to a left-semi, so no point
  * of the fold changes the store's KEY SET, and compaction can never
  * change an admission decision (the StreamingSpec law).
  */
object IncrementalDedup {

  /** One micro-batch admission transaction. Exposed for direct testing. */
  def processBatch(batch: DataFrame, storeDir: String,
      acceptDir: String, rejectDir: String, batchId: Long): Unit = {
    val spark = batch.sparkSession
    if (BatchStore.foldDue(batchId))
      compactStore(spark, storeDir, batchId)
    val sh = Text.shinglesOf(batch)
      .select(col("doc_id"), (h60(col("shingle")) % Dedup.P).as("hm"))
    // Eager localCheckpoint, not lazy cache: `hitBatch` below SELF-joins
    // this frame (the q104 shape). Checkpoint blocks live
    // outside the catalog, so the per-batch cleanup diffs the persistent-
    // RDD set instead of calling DataFrame.unpersist.
    val rddsBefore = spark.sparkContext.getPersistentRDDs.keySet
    val bands = Dedup.bandKeys(Dedup.signatures(sh)).localCheckpoint(true)
    try {
      val store = BatchStore.before(spark, storeDir, batchId)(
          BatchStore.emptyOf(spark, StructType.fromDDL("band_id INT, bk STRING")))
        .select(col("band_id"), col("bk"))
      val hitStore = bands
        .join(store, Seq("band_id", "bk"), "left_semi")
        .select(col("doc_id"))
      // within-batch: any bucket shared with a SMALLER doc_id rejects
      val hitBatch = bands.as("a")
        .join(bands.as("b"),
          col("a.band_id") === col("b.band_id") && col("a.bk") === col("b.bk") &&
            col("a.doc_id") > col("b.doc_id"))
        .select(col("a.doc_id").as("doc_id"))
      // eager pin: feeds the anti/semi/anti join trio below
      val rejected = hitStore.union(hitBatch).distinct().localCheckpoint(true)
      BatchStore.write(batch.join(rejected, Seq("doc_id"), "left_anti"), acceptDir, batchId)
      BatchStore.write(batch.join(rejected, Seq("doc_id"), "left_semi"), rejectDir, batchId)
      BatchStore.write(bands.join(rejected, Seq("doc_id"), "left_anti"), storeDir, batchId)
    } finally {
      // free this batch's checkpoint blocks (and nothing else's); the
      // blocks are dead — the batch is committed
      spark.sparkContext.getPersistentRDDs
        .filter { case (id, _) => !rddsBefore.contains(id) }
        .values.foreach(_.unpersist(blocking = false))
    }
  }

  /** The admitted documents so far, (doc_id, text). Admission depends on
    * the prior store, so the empty read is stated here. */
  def accepted(spark: SparkSession, acceptDir: String): DataFrame =
    BatchStore.readOr(spark, acceptDir)(
        BatchStore.emptyOf(spark, StructType.fromDDL("doc_id BIGINT, text STRING")))
      .select(col("doc_id"), col("text"))

  /** Fold every committed partition below `upToBatch` into one
    * distinct-keyed base partition. */
  def compactStore(spark: SparkSession, storeDir: String, upToBatch: Long): Unit =
    BatchStore.fold(spark, storeDir, upToBatch)(_.drop("batch_id").distinct())
}
