package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.queries.Behavior

/** s35: streaming TRANSITION statistics — q153's Markov matrix maintained
  * as events land. Consecutive-pair extraction is order-sensitive (a pair
  * exists between a user's k-th and (k+1)-th event), so this is the
  * ORDER-GATED family (s23/s24/s31): each user's events must arrive in
  * (ts, event_id) order across batches, the contract is ENFORCED at the
  * batch boundary (IllegalStateException before any write), and the
  * boundary pair — the stored last event → the batch's first — is emitted
  * by unioning the user's tail INTO the same pair kernel, so no
  * transition is lost or double-counted at a batch seam.
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

  /** Per-user last event: highest-batch_id tail row below `batchId`. */
  private[graft] def readTails(spark: SparkSession, tailDir: String,
      batchId: Long): DataFrame =
    BatchStore.latest(spark, tailDir, Seq("user_id"), batchId)(emptyTails(spark))

  /** One micro-batch of (user_id, event_id, event_type, ts): emit its
    * pair counts (boundary pair included) and advance the tails. */
  def processBatch(batch: DataFrame, tailDir: String, countsDir: String,
      batchId: Long): Unit = {
    val spark = batch.sparkSession
    if (BatchStore.foldDue(batchId))
      BatchStore.fold(spark, tailDir, batchId)(BatchStore.lastWins(Seq("user_id")))
    val ev = batch.select(col("user_id"), col("event_id"), col("event_type"), col("ts"))
    val stored = readTails(spark, tailDir, batchId)
    val batchUsers = ev.select(col("user_id").as("bu")).distinct()
    val storedTouched = stored
      .join(batchUsers, stored("user_id") <=> col("bu"), "left_semi")
    // arrival-order gate (s24's argument verbatim): every batch event
    // must sit strictly above the touched user's stored tail — the tail
    // is the max (ts, event_id) seen, so one struct compare suffices —
    // checked BEFORE any write so a violating batch leaves both stores
    // untouched. A late event would mint a pair q153 never derives.
    val bad = ev.groupBy(col("user_id"))
      .agg(min(struct(col("ts"), col("event_id"))).as("mn"))
      .join(storedTouched.select(col("user_id").as("hu"),
          struct(col("ts"), col("event_id")).as("hw")),
        col("user_id") <=> col("hu"))
      .filter(col("mn") <= col("hw"))
      .select(col("user_id"), col("mn"), col("hw"))
      .limit(3).collect()
    if (bad.nonEmpty) throw new IllegalStateException(
      s"s35 arrival-order contract violated in batch $batchId (pair " +
        "extraction is order-sensitive; a late event mints a pair the " +
        "batch kernel never derives): " +
        bad.map(r => s"user ${r.get(0)}: batch min ${r.get(1)} <= tail ${r.get(2)}")
          .mkString("; "))
    // q153's OWN pair kernel over tail ∪ batch: the tail sorts first
    // under the gated order, contributing exactly the boundary pair
    BatchStore.write(Behavior.transitionCounts(storedTouched.unionByName(ev)),
      countsDir, batchId)
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
