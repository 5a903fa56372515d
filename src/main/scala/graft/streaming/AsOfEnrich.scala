package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** s27: streaming as-of enrichment — the online form of q09, closing the
  * last reference-semantic join that had no streamed twin: the
  * purchase→latest-prior-click causality correlation of the reference's
  * consumer (consumer/consumer.go:123-144, which enriches each purchase
  * against the user's most recent prior state row). Events arrive in
  * micro-batches (per-user ts order when the upstream is the log feed)
  * and each batch's purchases are enriched with the SAME
  * strictly-earlier latest click a single batch q09 pass would attach,
  * by carrying exactly the state the as-of needs: each user's latest
  * click timestamp — one row per user ever seen, the s24 tail-store
  * discipline (O(users) LWW tail, batch_id partitions).
  *
  * Why the tail suffices: for a purchase at time t, q09 attaches the
  * LAST click with ts < t. Under in-order (nondecreasing per-user ts)
  * arrival, every click from an earlier batch is ≤ every event of this
  * batch — but "only the latest old click can win" fails exactly at a
  * tie: the gate ADMITS a batch whose min ts equals the user's
  * high-water mark, so a purchase may tie the stored
  * latest click, and the strict-< as-of then needs the latest old click
  * STRICTLY BELOW it. The tail therefore carries TWO levels per user:
  * `click_ts` (latest click seen) and `click2_ts` (latest click
  * strictly below `click_ts`) — and two levels are sufficient: an
  * admitted purchase has t ≥ hwm ≥ click_ts > click2_ts, so either
  * t > click_ts (click_ts wins, the common case) or t = click_ts
  * (click2_ts is precisely the latest old click < t); t can never reach
  * down to tie click2_ts. Both levels enter the kernel as synthetic
  * clicks. The per-batch kernel is the engine's native as-of operator
  * itself (graft.ops.AsOf — the q09 executor): left = the batch's
  * purchases, right = synthetic clicks ∪ the batch's own clicks,
  * strict `<`. Same operator, same strict-boundary semantics (a click
  * tying the purchase timestamp never matches, whichever batch it
  * arrived in).
  *
  * Enriched purchases are emitted once, in the batch the purchase
  * arrives (append-only facts, the s26 partition discipline): `enrichDir`
  * accumulates them in batch_id partitions and [[enriched]] is the
  * q09-shaped view over everything emitted.
  *
  * Arrival order (BatchStore's contract, nondecreasing): the tail
  * carries each seen user's max event ts as `hwm_ts`, advanced by EVERY
  * event, clicks and purchases alike, since a late click below an
  * already-emitted purchase would change an already-published fact.
  * NULL-user purchases keep NULL click_ts by the operator's own NULL-key
  * contract (q09's discipline).
  *
  * Batch-parity law (StreamingSpec): when each user's events arrive in
  * nondecreasing ts order across batches, [[enriched]] EQUALS batch q09
  * on the concatenated log row-for-row.
  *
  * Scale posture: per batch, ONE user_id shuffle family (the as-of's
  * own key shuffle + the tail LWW window) over batch-sized frames plus
  * an O(users-touched) tail read — no history rescan, no growth in
  * per-batch work as the log accumulates.
  */
object AsOfEnrich {

  /** One tail row per user ever seen: the two latest distinct prior
    * click timestamps (NULL if none yet; click2_ts is the latest strictly
    * below click_ts, the tie-safety level) and the order mark. */
  private def emptyTails(spark: SparkSession): DataFrame =
    spark.range(0).select(col("id").as("user_id"),
      lit(null).cast("timestamp").as("click_ts"),
      lit(null).cast("timestamp").as("click2_ts"),
      lit(null).cast("timestamp").as("hwm_ts"))

  private val arrival = BatchStore.Arrival("s27",
    "a late click would change already-emitted enrichments", col("hwm_ts"), strict = false)

  /** One micro-batch of (event_id, user_id, event_type, ts): enrich the
    * batch's purchases as-of the carried click state, advance the tails,
    * write both to the batch's own partitions. */
  def processBatch(batch: DataFrame, tailDir: String, enrichDir: String,
      batchId: Long): Unit = {
    val ev = batch.select(col("event_id"), col("user_id"), col("event_type"), col("ts"))
    val mins = ev.groupBy(col("user_id")).agg(min(col("ts")).as("mn"))
    BatchStore.gatedTail(batch.sparkSession, tailDir, "user_id", batchId, mins, arrival)(
        emptyTails(batch.sparkSession)) { tails =>
      // the q09 kernel: native as-of of this batch's purchases against
      // (carried latest click ∪ this batch's clicks), strict <. NULL-user
      // clicks are dropped like the batch operator's pre-filter; NULL-user
      // purchases ride through and keep NULL click_ts by operator contract.
      val p = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"))
      // BOTH tail levels ride in as synthetic clicks: click_ts serves the
      // t > click_ts case, click2_ts the admitted-tie t = click_ts case
      // (class doc — two levels are provably sufficient)
      val synth = tails.filter(col("user_id").isNotNull)
        .select(col("user_id"),
          explode(array(col("click_ts"), col("click2_ts"))).as("ts"))
        .filter(col("ts").isNotNull)
      val c = ev.filter(col("event_type") === "click" && col("user_id").isNotNull)
        .select(col("user_id"), col("ts"))
      val enrichedBatch = graft.ops.AsOf.join(p, synth.unionByName(c),
          "user_id", "ts", "ts", Seq("ts" -> "click_ts"), inclusive = false)
        .select(col("event_id"), col("user_id"),
          col("ts").as("purchase_ts"), col("click_ts"))
      BatchStore.write(enrichedBatch, enrichDir, batchId)
      // new tail = EVERY batch user: the two latest distinct click ts now
      // known + the advanced order mark (the gate proved this batch's max
      // ts is each touched user's new high water). The top-2 distinct of
      // old ∪ batch clicks is computable from the top-2 of each side
      // (second distinct max of a union is among the sides' top-2s), so
      // ONE user_id aggregate for the marks, one rank-2 window over the
      // batch's DISTINCT clicks, and the tail join — all one shuffle
      // family on user_id, still O(batch + users-touched).
      val hwNew = ev.groupBy(col("user_id").as("hu"))
        .agg(max(col("ts")).as("hwm_ts"))
      val w2 = Window.partitionBy(col("user_id")).orderBy(col("ts").desc)
      val top2 = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts")).distinct()
        .withColumn("rn", row_number().over(w2))
        .filter(col("rn") <= 2)
        .groupBy(col("user_id").as("cu"))
        .agg(max(when(col("rn") === 1, col("ts"))).as("batch_click"),
          max(when(col("rn") === 2, col("ts"))).as("batch_click2"))
      val cands = array(col("batch_click"), col("batch_click2"),
        col("old_click"), col("old_click2"))
      val newTails = hwNew
        .join(top2, col("hu") <=> col("cu"), "left")
        .join(tails.select(col("user_id"), col("click_ts").as("old_click"),
            col("click2_ts").as("old_click2")),
          col("hu") <=> col("user_id"), "left")
        .withColumn("new_click", array_max(cands)) // null-skipping max
        .select(col("hu").as("user_id"),
          col("new_click").as("click_ts"),
          array_max(filter(cands, x => x < col("new_click"))).as("click2_ts"),
          col("hwm_ts"))
      BatchStore.write(newTails, tailDir, batchId)
    }
  }

  /** The q09-shaped enrichment over every purchase ingested so far —
    * row-for-row equal to batch q09 on the concatenated log under
    * in-order arrival. Schema-stable empty frame before any write. */
  def enriched(spark: SparkSession, enrichDir: String): DataFrame =
    BatchStore.readOr(spark, enrichDir)(spark.range(0).select(col("id").as("event_id"),
        col("id").as("user_id"), lit(null).cast("timestamp").as("purchase_ts"),
        lit(null).cast("timestamp").as("click_ts")))
      .select(col("event_id"), col("user_id"), col("purchase_ts"), col("click_ts"))
      .orderBy(col("event_id"))

  /** The live click state a dashboard polls: latest click per user. */
  def clickState(spark: SparkSession, tailDir: String): DataFrame =
    BatchStore.latest(spark, tailDir, Seq("user_id"), Long.MaxValue)(emptyTails(spark))
      .filter(col("click_ts").isNotNull)
      .select(col("user_id"), col("click_ts"))
      .orderBy(col("user_id"))
}
