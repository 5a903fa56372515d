package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.queries.Text

/** s20: streaming corpus-novelty tracking — the PRODUCTION form of q98's
  * trigram first-seer audit: documents arrive as a stream and each
  * micro-batch's novelty (trigrams never seen in ANY earlier batch or in
  * a smaller-id doc of its own batch) is computed incrementally against
  * a persistent first-seer store, instead of re-scanning the corpus the
  * way the batch curve does.
  *
  * Store layout: one batch_id partition of (hm, fmin) rows per batch —
  * the shingle hashes FIRST SEEN in that batch and the doc that saw them
  * (min doc_id within the batch, q98's tie-break). Per batch:
  *
  *   1. shingle + hash the batch (`Text.shinglesOf` + xxhash64 — the
  *      exact q98 engine-side kernel), reduce to the batch's first-seer
  *      candidates (min doc per distinct hash — one map-side-combined
  *      aggregation over the batch's shingle volume);
  *   2. LEFT-ANTI join against the store read FILTERED to
  *      batch_id < current — survivors are globally new;
  *   3. append survivors as the batch's own partition, and write the
  *      per-doc audit (doc_id, ns, n_new) to the audit sink the same way.
  *
  * Scale posture: per batch, work is one aggregation of the batch's
  * shingles plus one anti-join of the batch's DISTINCT hashes (uniform
  * 64-bit keys) against the store — the store side is never collected,
  * and the store grows by exactly the universe's growth (it IS the
  * distinct-trigram universe, the same asymptote the batch q98 scans).
  * Arrival order defines novelty — the stream is the ingest log q98's
  * doc_id ordering models, so streaming the corpus in doc_id order
  * reproduces the batch curve exactly (the StreamingSpec parity law).
  *
  * StreamingSpec pins: per-doc (ns, n_new) parity with q98 when batches
  * arrive in doc_id order; Σ n_new == the store's row count == the
  * distinct-trigram universe; replay no-op; a duplicate document
  * contributes zero novelty. */
object Novelty {

  /** foreachBatch body: novelty against the committed store, then the
    * replay-safe partitioned writes (store first, then audit — a crash
    * between the two replays the batch, which rewrites both
    * identically). */
  private[graft] def processBatch(batch: DataFrame, storeDir: String,
      auditDir: String, batchId: Long): Unit = {
    val spark = batch.sparkSession
    // distinct (doc_id, hm) of the batch — both ns and the new-shingle
    // credit read it, so pin one evaluation (shingling is the expensive
    // part of the whole operator)
    val sh = Text.shinglesOf(batch)
      .select(col("doc_id"), xxhash64(col("shingle")).as("hm"))
      .distinct()
      .localCheckpoint(true)
    val firstSeers = sh.groupBy(col("hm")).agg(min(col("doc_id")).as("fmin"))
    // replays must not see their own (or any later) partition
    val prior = BatchStore.before(spark, storeDir, batchId)(
        spark.range(0).select(col("id").as("hm")))
      .select(col("hm"))
    val fresh = firstSeers.join(prior, Seq("hm"), "left_anti")
      .localCheckpoint(true) // the store write below extends the source dir
    BatchStore.write(fresh, storeDir, batchId)
    val ns = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("ns"))
    val newPerDoc = fresh.groupBy(col("fmin").as("doc_id"))
      .agg(count(lit(1)).as("n_new"))
    val audit = batch.select(col("doc_id")).distinct()
      .join(ns, Seq("doc_id"), "left")
      .join(newPerDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("ns"), lit(0L)).as("ns"),
        coalesce(col("n_new"), lit(0L)).as("n_new"))
    BatchStore.write(audit, auditDir, batchId)
  }

  /** The per-doc novelty audit accumulated so far (every batch). */
  def readAudit(spark: SparkSession, auditDir: String): DataFrame =
    BatchStore.readOr(spark, auditDir)(spark.range(0).select(col("id").as("doc_id"),
        col("id").as("ns"), col("id").as("n_new")))
      .select(col("doc_id"), col("ns"), col("n_new"))

  /** The first-seer universe seen so far (== Σ n_new by construction). */
  def universeSize(spark: SparkSession, storeDir: String): Long =
    BatchStore.read(spark, storeDir).fold(0L)(_.count())
}
