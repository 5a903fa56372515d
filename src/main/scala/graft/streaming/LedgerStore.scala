package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** s26: streaming ledger reconciliation — the online form of q115's
  * full-outer projection-pair audit: events arrive in micro-batches and
  * the per-user click/purchase ledgers are maintained as an additive
  * store ([[BatchStore.Additive]]) of exact partials (per (user, batch):
  * click count, purchase count, purchase value as DECIMAL(18,4)) instead
  * of re-scanning the log. The panel read merges the partials (sum/sum/
  * sum) and pushes the two aggregated frames through the SAME
  * `Relational.reconcile` assembly batch q115 uses — presence/NULL
  * discipline and the null-user one-row-per-side semantics included,
  * parity by construction.
  *
  * Scale posture: per batch ONE user_id-keyed map-side-combined
  * aggregate of the batch only; the panel read is one shuffle over the
  * store (≤ users × uncompacted batches rows) feeding q115's
  * already-reduced full-outer — the event log itself is never re-read.
  */
object LedgerStore {

  /** Per user: click count, purchase count and exact purchase value. */
  private val ledgers = BatchStore.Additive(graft.tables.Tables.EventsSchema)(
    _.filter(col("event_type").isin("click", "purchase"))
      .groupBy(col("user_id"))
      .agg(
        sum(when(col("event_type") === "click", 1L).otherwise(0L)).as("c"),
        sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("p"),
        sum(when(col("event_type") === "purchase",
          col("value").cast("decimal(18,4)"))).as("pv")))(
    _.groupBy(col("user_id"))
      .agg(sum(col("c")).as("c"), sum(col("p")).as("p"), sum(col("pv")).as("pv")))

  /** One micro-batch of (user_id, event_type, value): exact per-user
    * partials → the batch's own partition. */
  def processBatch(batch: DataFrame, storeDir: String, batchId: Long): Unit =
    ledgers.write(batch, storeDir, batchId)

  /** The q115-shaped reconciliation over everything ingested so far —
    * row-for-row equal to batch q115 on the concatenated log. */
  def ledger(spark: SparkSession, storeDir: String): DataFrame = {
    // pinned: it feeds both sides of the full-outer below
    val totals = ledgers.read(spark, storeDir).localCheckpoint(true)
    val clicks = totals.filter(col("c") > 0L)
      .select(col("user_id"), col("c").as("n_clicks"))
    val purchases = totals.filter(col("p") > 0L)
      .select(col("user_id"), col("p").as("n_purchases"),
        col("pv").cast("double").as("purchase_value"))
    graft.queries.Relational.reconcile(clicks, purchases)
  }
}
