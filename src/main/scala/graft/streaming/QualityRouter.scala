package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.queries.Text

/** s22: streaming quality routing — the PRODUCTION form of q108's CCNet
  * partition: the language model and the tercile thresholds are FROZEN
  * at deployment time (CCNet trains its LM once and applies fixed
  * perplexity cuts to the crawl), documents STREAM, and every
  * micro-batch is scored and routed head/middle/tail map-side.
  *
  * [[freeze]] builds the deployable artifact from a static reference
  * corpus: `Text.lmModelOf` (vocab²-bounded checkpointed count tables —
  * the stream-static join side, s11's posture) plus the q108 thresholds
  * via the SAME `Text.thrOf` definition the batch query uses (one
  * definition, no drift). Per batch: `Text.scoreWithModel` — q73's
  * ROUND-6 + ordered-fold scoring generalized to out-of-corpus text
  * (unseen bigram → c = 0, unseen head → n_head = 0; the add-one
  * estimate stays defined) — then two comparisons against the frozen
  * scalar cuts. On the model's own corpus the scorer equals q73 row for
  * row (LlmOpsSpec), so stream-vs-batch routing parity (the
  * StreamingSpec law) is by construction.
  *
  * STATELESS: the verdict is a pure function of (batch, frozen
  * artifact) — no store is read — so a replay rewrites its own
  * partition with identical rows.
  *
  * StreamingSpec pins: per-bucket counts over a 3-batch stream of the
  * reference corpus equal q108's panel; replay no-op; a document made
  * entirely of unseen tokens still scores finitely and routes. */
object QualityRouter {

  /** The deployment artifact: frozen model + frozen cuts. */
  final case class Frozen(model: Text.LmModel, t1: Double, t2: Double)

  /** Train on the reference corpus and fix the cuts. */
  def freeze(referenceDocs: DataFrame): Frozen = {
    val model = Text.lmModelOf(referenceDocs)
    val sc = Text.scoreWithModel(referenceDocs, model)
      .select(col("doc_id"), col("n_bigrams"), col("avg_neg_logp"))
      .localCheckpoint(true)
    val t = Text.thrOf(sc).first()
    Frozen(model, t.getDouble(0), t.getDouble(1))
  }

  /** One batch's routing verdicts (doc_id, n_bigrams, avg_neg_logp,
    * bucket) — pure function of (batch, frozen). */
  private[graft] def routeBatch(batch: DataFrame, frozen: Frozen): DataFrame =
    Text.scoreWithModel(batch, frozen.model)
      .select(col("doc_id"), col("n_bigrams"), col("avg_neg_logp"),
        when(col("avg_neg_logp") <= frozen.t1, "head")
          .when(col("avg_neg_logp") <= frozen.t2, "middle")
          .otherwise("tail").as("bucket"))

  /** foreachBatch body: route → the batch's own partition. */
  private[graft] def processBatch(batch: DataFrame, frozen: Frozen,
      outDir: String, batchId: Long): Unit =
    BatchStore.write(routeBatch(batch, frozen), outDir, batchId)

  /** Everything routed so far. The routes depend on the frozen
    * artifact, a side input, so the empty read is stated here. */
  def readRouted(spark: SparkSession, outDir: String): DataFrame =
    BatchStore.readOr(spark, outDir)(BatchStore.emptyOf(spark, StructType.fromDDL(
        "doc_id BIGINT, n_bigrams BIGINT, avg_neg_logp DOUBLE, bucket STRING")))
      .select(col("doc_id"), col("n_bigrams"), col("avg_neg_logp"), col("bucket"))
}
