package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.Dsl.ratio4
import graft.queries.Sampling

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
  * against `Sampling.admissions`; both rank through `Sampling.mixRanked`,
  * one shared definition of "the cut").
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
    val prior = BatchStore.before(spark, storeDir, batchId)(emptyStore(spark))
      .groupBy(col("source"))
      .agg(sum(col("batch_tokens")).as("consumed"))
    val admitted = Sampling.mixRanked(batch.select(col("source"), col("doc_id"), col("n_tok")))
      .join(broadcast(budgets.select(col("source"), col("planned_tokens"))),
        Seq("source"))
      .join(broadcast(prior), Seq("source"), "left")
      .filter(coalesce(col("consumed"), lit(0L)) + col("cum") <= col("planned_tokens"))
      .select(col("source"), col("doc_id"), col("n_tok"))
      // feeds BOTH writes below (accept log + store partial) — pin the
      // decision once so the two can't diverge
      .localCheckpoint(true)
    BatchStore.write(admitted, acceptDir, batchId)
    BatchStore.write(admitted.groupBy(col("source")).agg(sum(col("n_tok")).as("batch_tokens")),
      storeDir, batchId)
  }

  /** The store's (source, batch_tokens) rows while it holds none. */
  private def emptyStore(spark: SparkSession): DataFrame =
    spark.range(0).select(col("id").cast("string").as("source"), col("id").as("batch_tokens"))

  /** Everything admitted so far (the training-set manifest). */
  def admittedDocs(spark: SparkSession, acceptDir: String): DataFrame =
    BatchStore.readOr(spark, acceptDir)(spark.range(0).select(
        col("id").cast("string").as("source"), col("id").as("doc_id"), col("id").as("n_tok")))
      .select(col("source"), col("doc_id"), col("n_tok"))

  /** The q145-shaped audit panel: per source, consumed tokens vs budget
    * and the fill rate (NULL on a zero budget) — read from the store
    * partials alone, never re-scanning the accept log. */
  def audit(spark: SparkSession, storeDir: String, budgets: DataFrame): DataFrame = {
    val consumed = BatchStore.readOr(spark, storeDir)(emptyStore(spark))
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
