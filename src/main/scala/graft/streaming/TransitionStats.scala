package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.queries.Behavior

/** s35: streaming TRANSITION statistics — q153's Markov matrix maintained
  * as events land. Consecutive-pair extraction is order-sensitive (a pair
  * exists between a user's k-th and (k+1)-th event), so this is the
  * ORDER-GATED family (BatchStore's arrival-order contract, strict, in
  * (ts, event_id) order), and the boundary pair — the stored last event
  * → the batch's first — is emitted by unioning the user's tail INTO the
  * same pair kernel, so no transition is lost or double-counted at a
  * batch seam.
  *
  * ONE pair definition for both faces: [[Behavior.transitionCounts]]
  * (the lead-window kernel batch q153 runs) extracts each batch's pairs
  * from tail ∪ batch, and [[Behavior.transitionProbs]] row-normalizes
  * the read panel — batch/stream parity is by construction, pinned row
  * for row in StreamingSpec.
  *
  * Store layout: `tailDir` = per-user last event, LWW by batch_id (the
  * tail IS the order high-water mark — no separate mark column needed,
  * unlike s24 whose tail keeps its OPENING event); `countsDir` = additive
  * per-(batch, pair) count partials in the batch's own partition, merged
  * by SUM at read (the s16/s21/s26 additive-store discipline).
  *
  * Per batch: one window pass over tail ∪ batch (the touched users
  * only), a ≤ |types|²-cardinality aggregate, and two bounded writes —
  * O(batch + touched keys), never history. The read panel merges
  * ≤ |types|² × batches partial rows.
  */
object TransitionStats {

  private def emptyTails(spark: SparkSession): DataFrame =
    spark.range(0).select(col("id").as("user_id"), lit("").as("event_type"),
      lit(null).cast("timestamp").as("ts"), col("id").as("event_id"))

  private val arrival = BatchStore.Arrival("s35",
    "pair extraction is order-sensitive; a late event mints a pair the batch kernel never derives",
    struct(col("ts"), col("event_id")), strict = true)

  /** One micro-batch of (user_id, event_id, event_type, ts): emit its
    * pair counts (boundary pair included) and advance the tails. */
  def processBatch(batch: DataFrame, tailDir: String, countsDir: String,
      batchId: Long): Unit = {
    val ev = batch.select(col("user_id"), col("event_id"), col("event_type"), col("ts"))
    // the tail is the max (ts, event_id) seen, so one struct compare suffices
    val mins = ev.groupBy(col("user_id"))
      .agg(min(struct(col("ts"), col("event_id"))).as("mn"))
    BatchStore.gatedTail(batch.sparkSession, tailDir, "user_id", batchId, mins, arrival)(
        emptyTails(batch.sparkSession)) { tails =>
      // q153's OWN pair kernel over tail ∪ batch: the tail sorts first
      // under the gated order, contributing exactly the boundary pair
      BatchStore.write(Behavior.transitionCounts(tails.unionByName(ev)), countsDir, batchId)
    }
    // new tail per touched user = the batch's max (ts, event_id) event
    // (the gate proved it dominates the stored tail)
    val newTails = ev.groupBy(col("user_id"))
      .agg(max(struct(col("ts"), col("event_id"), col("event_type"))).as("mx"))
      .select(col("user_id"), col("mx.event_type").as("event_type"),
        col("mx.ts").as("ts"), col("mx.event_id").as("event_id"))
    BatchStore.write(newTails, tailDir, batchId)
  }

  /** Merged pair counts over everything ingested: SUM of the additive
    * partials (associative and commutative — any split merges equal). */
  private[graft] def counts(spark: SparkSession, countsDir: String): DataFrame =
    BatchStore.readOr(spark, countsDir)(spark.range(0).select(lit("").as("from_type"),
        lit("").as("to_type"), col("id").as("n_transitions")))
      .groupBy(col("from_type"), col("to_type"))
      .agg(sum(col("n_transitions")).as("n_transitions"))

  /** The q153-shaped matrix over everything ingested so far — the shared
    * [[Behavior.transitionProbs]] finisher on the merged panel. */
  def transitions(spark: SparkSession, countsDir: String): DataFrame =
    Behavior.transitionProbs(counts(spark, countsDir))
      .orderBy(col("from_type"), col("to_type"))
}
