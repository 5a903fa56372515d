package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.queries.Pack

/** s23: streaming sequence packing — the online form of q96's next-fit
  * bin assembly: documents arrive in micro-batches (in doc_id order when
  * the upstream is the corpus feed) and each batch's documents are
  * appended to the SAME per-shard bins a single batch q96 pass would
  * build, by carrying exactly the state next-fit needs: the open bin's
  * (bin_id, fill) per shard — O(shards) state total, the s14 store
  * discipline with the tiniest possible store.
  *
  * Store layout (tailDir): one row per shard updated this batch —
  * (shard_id, fill, bin, max_doc) in the batch's own partition; the
  * live tail per shard is the row with the highest batch_id (LWW, the
  * s15/s17 read rule). Assignments land in assignDir, one partition per
  * batch.
  *
  * Batch-parity law (StreamingSpec): when documents arrive in doc_id
  * order (each batch's ids after the previous batch's), the accumulated
  * assignments — and therefore [[packedSummary]] — EQUAL batch q96 on
  * the concatenated corpus, because next-fit is a left fold and the
  * carried tail is its entire state.
  *
  * Arrival order (BatchStore's contract, strict, in doc_id order): each
  * tail carries the shard's doc_id high-water mark `max_doc`. Next-fit
  * is order-sensitive: a doc appended late lands in a later bin than the
  * batch fold would have put it.
  *
  * Scale posture: per batch, one hash shuffle of the batch's documents
  * on shard_id + a within-partition sort + the linear iterator fold
  * (q96's packAssignments seeded with the tails); the tail read is
  * O(shards · batches-since-compaction) rows and the collect is
  * O(shards) — the same bounded driver state the q94 probe holds. */
object SequencePacker {

  /** One micro-batch of (doc_id, text, …): assign bins continuing from
    * the stored tails, write assignments + new tails to own partitions. */
  def processBatch(batch: DataFrame, tailDir: String, assignDir: String,
      batchId: Long): Unit = {
    val spark = batch.sparkSession
    import spark.implicits._
    // live (shard_id → (fill, bin, max_doc)) tails, O(shards) rows
    // collected by design; a local empty frame collects without a job
    val tails = BatchStore.tail(spark, tailDir, "shard_id", batchId)(
        Seq.empty[(Long, Long, Long, Long)].toDF("shard_id", "fill", "bin", "max_doc"))
      .select(col("shard_id"), col("fill"), col("bin"), col("max_doc"))
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    // kept: the gate compares per-shard batch minima with the collected
    // map the fold is seeded from (O(shards), no join, no job while the
    // store is empty), not with BatchStore.gatedTail's distributed tail
    if (tails.nonEmpty) {
      val violations = batch
        .select((col("doc_id") % Pack.PackShards).as("shard_id"), col("doc_id"))
        .groupBy(col("shard_id")).agg(min(col("doc_id")).as("min_doc"))
        .collect().flatMap { r =>
          val s = r.getLong(0); val d = r.getLong(1)
          tails.get(s).collect { case (_, _, maxDoc) if d <= maxDoc =>
            s"shard $s: doc $d <= high-water $maxDoc"
          }
        }
      if (violations.nonEmpty) throw BatchStore.violation("s23", batchId,
        "next-fit is order-sensitive; q96 parity would silently break", violations.take(3).toSeq)
    }
    val asg = Pack.packAssignments(spark, Pack.docsOf(batch),
        tails.map { case (s, (fill, bin, _)) => s -> ((fill, bin)) })
      // eager pin: feeds the assignment write AND the tail aggregate, and
      // the dynamic overwrite below rewrites paths a lazy plan might
      // re-read
      .localCheckpoint(true)
    BatchStore.write(asg.select(col("shard_id"), col("doc_id"), col("t"), col("bin_id")),
      assignDir, batchId)
    // new tail per touched shard = state after that shard's LAST doc,
    // plus the shard's new doc_id high-water mark (the order gate above
    // guarantees it's this batch's max — all stored docs sit below it)
    val newTails = asg.groupBy(col("shard_id"))
      .agg(max_by(struct(col("fill_after").as("fill"), col("bin_id").as("bin")),
        col("doc_id")).as("m"),
        max(col("doc_id")).as("max_doc"))
      .select(col("shard_id"), col("m").getField("fill").as("fill"),
        col("m").getField("bin").as("bin"), col("max_doc"))
    BatchStore.write(newTails, tailDir, batchId)
  }

  /** The q96-shaped summary over everything packed so far: bins span
    * batches, so the aggregate keys on (shard_id, bin_id) across all
    * assignment partitions. Schema-stable empty frame before the first
    * write. */
  def packedSummary(spark: SparkSession, assignDir: String): DataFrame =
    Pack.binSummary(BatchStore.readOr(spark, assignDir)(spark.range(0).select(
      col("id").as("shard_id"), col("id").as("doc_id"), col("id").as("t"), col("id").as("bin_id"))))
}
