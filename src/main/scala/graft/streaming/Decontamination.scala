package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.queries.Text

/** s19: streaming decontamination — the PRODUCTION form of the q67/q101
  * benchmark-overlap audit: the benchmark suite is STATIC (it changes by
  * release, not by record), train documents arrive as a stream, and every
  * micro-batch is audited map-side against a broadcast Bloom prefilter
  * before the exact shingle join — exactly q101's asymmetry
  * (`Text.q101`), lifted into `foreachBatch`.
  *
  * The benchmark index is built ONCE at query start ([[benchIndexOf]]):
  * the distinct shingle hashes of the benchmark corpus plus the
  * serialized Bloom over them (the same distributed one-pass
  * `BloomFilterAggregate` build as q101 — `Text.bloomOf`). Each batch
  * then runs the q67 kernel restricted to the batch: shingle the batch's
  * docs (`Text.shinglesOf` — the one shingling definition everywhere),
  * hash, distinct, DROP everything the Bloom rejects (map-side, inside
  * the scan's codegen — the shuffled volume is ~fpp of the batch plus
  * the true overlap), equi-join the surviving hashes against the bench
  * shingle table, and keep (train_doc, bench_doc) pairs sharing ≥
  * `Text.ContamMinShared` shingles. A doc arrives whole in one batch and
  * the audit groups only within (train_doc, bench_doc), so per-batch
  * results are complete — no cross-batch state at all: the operator is
  * STATELESS, the cheapest kind of streaming operator to run at scale.
  *
  * The verdict is a pure function of (batch contents, static bench
  * index), so a replay rewrites its own partition with identical rows.
  *
  * StreamingSpec pins: streamed audit over N batches == batch q67 (and
  * therefore q101, which shares q67's oracle) on the same corpus;
  * replay no-op; a clean batch contributes zero rows. */
object Decontamination {

  /** The static benchmark side, built once per deployment: distinct
    * (bench_doc, hm) shingle hashes + the serialized Bloom over hm
    * (null for an empty benchmark — might_contain then rejects all). */
  final case class BenchIndex(shingles: DataFrame, bloom: Array[Byte])

  /** Build [[BenchIndex]] from a (doc_id, text, …) benchmark frame. The
    * shingle table is checkpointed: it is read by every batch (join
    * side) and the Bloom build would otherwise recompute it. */
  def benchIndexOf(benchDocs: DataFrame): BenchIndex = {
    val sh = Text.shinglesOf(benchDocs)
      .select(col("doc_id").as("bench_doc"), xxhash64(col("shingle")).as("hm"))
      .distinct()
      .localCheckpoint(true)
    BenchIndex(sh, Text.bloomOf(sh.select(col("hm"))))
  }

  /** One batch's audit: the q67 kernel over (batch × benchmark) with the
    * q101 Bloom prefilter. Pure function of its inputs — no store read. */
  private[graft] def auditBatch(batch: DataFrame, bench: BenchIndex): DataFrame =
    Text.contamAudit(
      Text.shinglesOf(batch)
        .select(col("doc_id").as("train_doc"), xxhash64(col("shingle")).as("hm"))
        .distinct(),
      bench.shingles, Some(bench.bloom))

  /** foreachBatch body: audit → the batch's own partition. */
  private[graft] def processBatch(batch: DataFrame, bench: BenchIndex,
      auditDir: String, batchId: Long): Unit =
    BatchStore.write(auditBatch(batch, bench), auditDir, batchId)

  /** The accumulated audit (all batches); empty while every batch so far
    * was clean. */
  def readAudit(spark: SparkSession, auditDir: String): DataFrame =
    BatchStore.readOr(spark, auditDir)(spark.range(0).select(col("id").as("train_doc"),
        col("id").as("bench_doc"), col("id").as("n_shared")))
      .select(col("train_doc"), col("bench_doc"), col("n_shared"))
}
