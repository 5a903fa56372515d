package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.Dsl.h60
import graft.queries.{Dedup, Text}

/** s53: streaming NEAR-duplicate admission — s14's dedup-at-ingest job
  * upgraded from exact content hashes to q34's MinHash banded LSH: a new
  * document is rejected when ANY of its signature band buckets collides
  * with an earlier document's bucket (same text ⇒ same buckets ⇒ caught
  * like s14; near-duplicate text ⇒ the Bands×RowsPerBand collision
  * probability q34 documents). This is the architecture every
  * web-scale crawler ingest runs: the LSH band index IS the
  * deduplication state, maintained incrementally, never rebuilt.
  *
  * Admission rule (the batch-mirrorable contract): a document is
  * admitted iff NO band bucket is shared with ANY smaller doc_id seen
  * so far — the index holds EVERY seen document's bands (admitted or
  * not), which is exactly what makes the batch reference a single
  * self-join ([[batchRule]]: reject iff a bucket is shared with a
  * smaller doc_id) instead of an order-dependent greedy recursion. The
  * rejected doc's bands still index future collisions — the crawler
  * semantics ("this content was seen", not "this content was kept").
  *
  * ORDER-GATED family (s23/s24/s31/s35/s49): admission is relative to
  * "earlier" documents, so batches must arrive in doc_id order — the
  * gate throws BEFORE any write when a batch dips under the high-water
  * mark. The mark is SIDE STATE (one (hwm, batch_id) row per batch in a
  * sibling `_hwm` store, partition-pruned to batch_id < current), not a
  * max scan over the docs×Bands band index — the r15 advisor point: the
  * gate probe must stay O(batches seen), independent of index size.
  * Replay repairs the side store exactly like the main one (a re-run
  * writes the identical hwm row over its own partition), and a crash
  * between the two writes is healed by the checkpoint replaying the
  * whole batch.
  *
  * Scale posture: per batch ONE signature aggregate over the BATCH's
  * shingles (MinHashSig map-side partials — the q34 build, never the
  * history), one left-semi of the batch's ≤ docs×Bands band rows
  * against the bucket-keyed store, one in-batch band self-join; the
  * store grows docs×Bands skinny rows — the production LSH index, and
  * at 100 TB the semi-join is bucket-partitioned so only colliding
  * buckets move.
  */
object NearDupAdmission {

  private def emptyBands(spark: SparkSession): DataFrame =
    spark.range(0).select(col("id").as("doc_id"),
      col("id").cast("int").as("band_id"), lit("").as("bk"))

  /** q34's band keys for one (doc_id, text) frame — the shared
    * shingle → h60 → MinHashSig → band slice chain, batch-sized. */
  private def bandsOf(batch: DataFrame): DataFrame =
    Dedup.bandKeys(Dedup.signatures(
      Text.shinglesOf(batch)
        .select(col("doc_id"), (h60(col("shingle")) % Dedup.P).as("hm"))))

  /** The gate's side-state store: one (hwm, batch_id) row per batch. */
  private[graft] def hwmDir(storeDir: String): String =
    storeDir.stripSuffix("/") + "_hwm"

  /** One micro-batch of (doc_id, text): gate, decide, append bands +
    * admissions + the gate's hwm row to their own batch_id partitions. */
  def processBatch(batch: DataFrame, storeDir: String, acceptDir: String,
      batchId: Long): Unit = {
    // kept: the order gate and the high-water row need the batch's min
    // and max doc_id, which an empty batch does not have
    if (batch.isEmpty) return
    val spark = batch.sparkSession
    val prior = BatchStore.before(spark, storeDir, batchId)(emptyBands(spark))
      .select(col("doc_id"), col("band_id"), col("bk"))
    // order gate (bounded driver probe over the SIDE store — one skinny
    // row per prior batch, never the band index): admission is
    // order-relative
    val mm = batch.agg(min(col("doc_id")), max(col("doc_id"))).collect()(0)
    val (low, high) = (mm.getLong(0), mm.getLong(1))
    val hd = hwmDir(storeDir)
    val hw = BatchStore.read(spark, hd)
      .map(_.filter(col("batch_id") < batchId).agg(max(col("hwm"))).collect()(0))
      .filterNot(_.isNullAt(0)).map(_.getLong(0))
    // pre-r16 store detection (r16 advisor): band data from earlier
    // batches with NO _hwm sibling means the side store was never
    // written — a null hwm would silently open the order gate. Fail
    // loudly with the rebuild-by-replay posture every store-format
    // break in this engine carries (DriftMonitor's covered_upto break);
    // in normal operation the probe never runs (hwm rows exist the
    // moment prior bands do — foreachBatch replays a batch that crashed
    // between the two writes).
    if (hw.isEmpty && !prior.isEmpty)
      throw new IllegalStateException(
        s"s53 order gate: band store $storeDir has pre-batch-$batchId data but the " +
          s"_hwm side store has no covering row — pre-r16 store format; rebuild by " +
          "replaying the document log through processBatch")
    for (h <- hw if low <= h)
      throw new IllegalStateException(
        s"s53 order gate: batch $batchId min doc_id $low <= high-water $h")
    val bands = bandsOf(batch).localCheckpoint(true)
    val priorHit = bands
      .join(prior.select(col("band_id"), col("bk")), Seq("band_id", "bk"), "left_semi")
      .select(col("doc_id"))
    val inBatchHit = bands.as("x")
      .join(bands.as("y"),
        col("x.band_id") === col("y.band_id") && col("x.bk") === col("y.bk") &&
          col("y.doc_id") < col("x.doc_id"), "left_semi")
      .select(col("doc_id"))
    val rejected = priorHit.union(inBatchHit).distinct()
    val admitted = batch.select(col("doc_id")).distinct()
      .join(rejected, Seq("doc_id"), "left_anti")
    BatchStore.write(bands, storeDir, batchId)
    BatchStore.write(admitted, acceptDir, batchId)
    // gate side state last: already-computed batch max as a literal row
    BatchStore.write(spark.range(1).select(lit(high).as("hwm")), hd, batchId)
  }

  /** Every admitted doc_id so far. */
  def admitted(spark: SparkSession, acceptDir: String): DataFrame =
    BatchStore.readOr(spark, acceptDir)(spark.range(0).select(col("id").as("doc_id")))
      .select(col("doc_id")).orderBy(col("doc_id"))

  /** The batch reference the parity law compares against: over the
    * concatenated corpus, a doc is admitted iff no band bucket is
    * shared with a smaller doc_id — one band self-join. */
  private[graft] def batchRule(docs: DataFrame): DataFrame = {
    val bands = bandsOf(docs)
    val dup = bands.as("x")
      .join(bands.as("y"),
        col("x.band_id") === col("y.band_id") && col("x.bk") === col("y.bk") &&
          col("y.doc_id") < col("x.doc_id"), "left_semi")
      .select(col("doc_id")).distinct()
    docs.select(col("doc_id")).distinct()
      .join(dup, Seq("doc_id"), "left_anti")
      .orderBy(col("doc_id"))
  }
}
