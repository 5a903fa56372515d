package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.ops.Dsl.{h60, ratio4}

/** s31: streaming BUDGET ADMISSION — the online form of q145's mixture
  * realization: documents arrive in micro-batches and each source's
  * token quota (q80's planned allocation, computed OFFLINE and passed in
  * as a config frame — online ingest cannot see the corpus it hasn't
  * received) is enforced as they land: a document is admitted iff the
  * source's consumed total stays within budget, where consumption is
  * FCFS across batches (arrival order is the stream's order — the
  * deployment reality) and q145's deterministic hash order WITHIN a
  * batch (so a batch's admission set is reproducible no matter how its
  * rows were partitioned). Admitted docs append to an accept log; the
  * state store holds one per-(source, batch) consumed-token partial.
  *
  * ORDER-GATED (the s23/s24 family): batch b's decisions read the
  * consumed totals of batches < b, so recovery must replay batches in
  * order — exactly what a checkpointed foreachBatch provides. A re-run
  * of batch b recomputes a byte-identical decision: hash order is
  * deterministic, and the prior sum is read fresh.
  *
  * Single-batch parity: with budgets = q80's `mixBudgets` panel over the
  * same corpus, one batch admits EXACTLY q145's set (the law pins this
  * against `Sampling.admissions` — one shared definition of "the cut").
  *
  * Scale posture: per batch ONE window shuffle partitioned by source
  * (never global) over the BATCH only, budgets and the consumed panel
  * broadcast at source cardinality, and one map-side-combined per-source
  * aggregate for the store partial; the accept log is append-only and
  * the store grows one source-cardinality partition per batch. It never
  * folds (its batch rows carry no `covered_upto`); the partials are
  * pointwise-summable, so [[BatchStore.foldCovered]] would apply if the
  * partition count ever demanded it.
  */
object BudgetAdmission {

  /** One micro-batch of (source, doc_id, n_tok) against (source,
    * planned_tokens) budgets: admit the batch's hash-ordered prefix that
    * fits the remaining budget, append accepts, record the consumed
    * partial. */
  def processBatch(batch: DataFrame, budgets: DataFrame,
      storeDir: String, acceptDir: String, batchId: Long): Unit = {
    val spark = batch.sparkSession
    val prior = BatchStore.read(spark, storeDir)
      .map(_.filter(col("batch_id") < batchId)
        .groupBy(col("source"))
        .agg(sum(col("batch_tokens")).as("consumed")))
      .getOrElse(spark.range(0).select(col("id").cast("string").as("source"),
        col("id").as("consumed")))
    val w = Window.partitionBy(col("source"))
      .orderBy(col("hk"), col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val admitted = batch
      .select(col("source"), col("doc_id"), col("n_tok"))
      .withColumn("hk", h60(concat(lit("mix:"), col("doc_id").cast("string"))))
      .withColumn("cum", sum(col("n_tok")).over(w))
      .join(broadcast(budgets.select(col("source"), col("planned_tokens"))),
        Seq("source"))
      .join(broadcast(prior), Seq("source"), "left")
      .filter(coalesce(col("consumed"), lit(0L)) + col("cum") <= col("planned_tokens"))
      .select(col("source"), col("doc_id"), col("n_tok"))
      // feeds BOTH writes below (accept log + store partial) — pin the
      // decision once so the two can't diverge (r9 pinning discipline)
      .localCheckpoint(true)
    BatchStore.write(admitted, acceptDir, batchId)
    BatchStore.write(admitted.groupBy(col("source")).agg(sum(col("n_tok")).as("batch_tokens")),
      storeDir, batchId)
  }

  /** Everything admitted so far (the training-set manifest). */
  def admittedDocs(spark: SparkSession, acceptDir: String): DataFrame =
    BatchStore.readOr(spark, acceptDir)(spark.range(0).select(
        col("id").cast("string").as("source"), col("id").as("doc_id"), col("id").as("n_tok")))
      .select(col("source"), col("doc_id"), col("n_tok"))

  /** The q145-shaped audit panel: per source, consumed tokens vs budget
    * and the fill rate (NULL on a zero budget) — read from the store
    * partials alone, never re-scanning the accept log. */
  def audit(spark: SparkSession, storeDir: String, budgets: DataFrame): DataFrame = {
    val consumed = BatchStore.readOr(spark, storeDir)(spark.range(0).select(
        col("id").cast("string").as("source"), col("id").as("batch_tokens")))
      .groupBy(col("source"))
      .agg(sum(col("batch_tokens")).as("consumed_tokens"))
    budgets.select(col("source"), col("planned_tokens"))
      .join(consumed, Seq("source"), "left")
      .select(col("source"), col("planned_tokens"),
        coalesce(col("consumed_tokens"), lit(0L)).as("consumed_tokens"),
        when(col("planned_tokens") > 0,
          ratio4(coalesce(col("consumed_tokens"), lit(0L)), col("planned_tokens")))
          .otherwise(lit(null).cast("double")).as("fill4"))
      .orderBy(col("source"))
  }
}
